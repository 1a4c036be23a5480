package graft.operators

import java.util.{Arrays => JArrays, PriorityQueue}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The v3 physical strategy for the interval overlap join (SURVEY §4.3):
  * a distributed sorted-endpoint plane sweep — the reference's own
  * algorithm (`Intervals.find_intersections`, delegated at
  * `src/DataFrameIntervals.jl:10-12`) re-expressed as a range-partitioned
  * per-partition sweep.
  *
  * Shape:
  *  1. one stats pass picks BALANCED partition bounds = approximate
  *     quantiles of all interval starts (so dense time regions get more
  *     partitions — immune to start-domain skew, unlike fixed-width bins);
  *  2. each interval replicates to every partition range it overlaps
  *     (typically 1-2 — same replication factor as the binned strategy);
  *  3. within each partition, rows stream in (start) order through ONE
  *     merge sweep holding stop-ordered active lists per side: each
  *     arriving row pairs with every live opposite row, evicting actives
  *     whose stop has passed. O((n+m)·log(active) + k) per partition,
  *     memory bounded by the maximum overlap concurrency, output streamed
  *     through the iterator (never materialized per partition);
  *  4. a pair is emitted only where the LATER start lives (its first
  *     partition) — the cross-partition dedup is a single comparison, no
  *     distinct shuffle.
  *
  * LONG/SHORT SPLIT (the fat-tail guard): an interval spanning k range
  * partitions replicates k× — fine for short-span data (1-2×), but a
  * fat-tailed length distribution (real biosignal/session spans — the
  * reference's home domain) degrades toward all-partitions replication:
  * at cluster range counts (512-4096) a few % of domain-length rows can
  * inflate the shuffle by an order of magnitude. Intervals that would
  * replicate more than `MaxReplication` (16) range partitions
  * (auto threshold = that many typical range widths; explicit override
  * via `Options.sweepLongThreshold`) are routed to BROADCAST side-joins
  * instead of the sweep: long-left × ALL right and short-left ×
  * long-right, both plain overlap-predicate broadcast joins (the long
  * mass is count-guarded small), while the sweep runs on the short mass
  * only. Pairs partition exactly across the three branches — property
  * tests pin split ≡ unsplit on random mixes including corpus-length
  * spans. When no SAMPLED row exceeds the bound (every short-span
  * fixture), the split never engages: zero extra jobs, plan unchanged.
  * The split branch costs one narrow count pass + a second scan of each
  * side, so it is a GUARD for the catastrophic regime, not a win on
  * mildly-tailed data — the crossover is measured in BASELINE.md.
  *
  * Degenerate intervals (start >= stop = empty set) are dropped on entry —
  * identical to the other strategies' semantics. Inner join only; outer
  * variants use the binned path.
  */
object SweepJoin {

  /** Auto fat-tail bound: an interval is long when it would replicate to
    * more than this many range partitions. */
  private val MaxReplication = 16

  /** Bounded reservoir of (start, stop) pairs: `k` rows per input
    * partition, one narrow pass, collect size = k × partitions regardless
    * of data volume — unlike a fraction-based sample, this stays
    * driver-safe at any scale. Per-partition reservoirs slightly bias
    * toward small partitions; for partition bounds and a length quantile a
    * ~2x approximation is ample — residual imbalance only shifts work
    * between ranges/branches, never correctness. Measured ~4x cheaper
    * than approxQuantile on the same input. */
  private[operators] def samplePairs(df: DataFrame, sCol: String, eCol: String,
      perPartition: Int = 64): Array[(Long, Long)] = {
    df.select(col(sCol), col(eCol))
      .where(col(sCol).isNotNull && col(eCol).isNotNull) // checkMissing=false
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
      .mapPartitions { it =>
        val rng = new scala.util.Random(org.apache.spark.TaskContext.getPartitionId().toLong)
        val buf = new Array[(Long, Long)](perPartition)
        var n = 0
        it.foreach { x =>
          if (n < perPartition) buf(n) = x
          else { val j = rng.nextInt(n + 1); if (j < perPartition) buf(j) = x }
          n += 1
        }
        buf.take(math.min(n, perPartition)).iterator
      }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
      .collect()
  }

  /** Balanced partition bounds = approximate quantiles of the sampled
    * starts. */
  private[operators] def partitionBounds(starts: Array[Long], nParts: Int): Array[Long] = {
    if (nParts <= 1 || starts.isEmpty) return Array.empty
    val sorted = starts.sorted
    (1 until nParts)
      .map(i => sorted((i.toLong * sorted.length / nParts).toInt))
      .distinct.sorted.toArray
  }

  /** Auto long-interval threshold: the REPLICATION bound. A row of length
    * L replicates to ~L/avgRangeWidth partitions, so "long" means
    * L > MaxReplication × the typical range width — the semantic the
    * split exists for (a quantile rule misfires when the tail is heavy:
    * with 5% giants the p99 length lands INSIDE the giant mass and only
    * clips its top). Long.MaxValue (= never long, pure sweep, zero extra
    * jobs) when no SAMPLED row exceeds the bound — every short-span
    * fixture takes that exit, plan unchanged. */
  private[operators] def autoLongThreshold(sample: Array[(Long, Long)],
      bounds: Array[Long]): Long = {
    if (bounds.isEmpty || sample.isEmpty) return Long.MaxValue
    val starts = sample.map(_._1)
    val span = starts.max - starts.min
    if (span <= 0) return Long.MaxValue
    val avgWidth = math.max(1L, span / (bounds.length + 1))
    val t = MaxReplication.toLong * avgWidth
    if (sample.exists { case (s, e) => e > s && e - s > t }) t else Long.MaxValue
  }

  /** pid of the range containing x: #bounds <= x (bounds are distinct). */
  private def pidOf(bounds: Array[Long], x: Long): Int = {
    val i = JArrays.binarySearch(bounds, x)
    if (i >= 0) i + 1 else -(i + 1)
  }

  /** Inner overlap join of the temp-named projected frames (same contract
    * as the other strategies: output columns = l2.columns ++ r2.columns). */
  def sweepInner(l2: DataFrame, r2: DataFrame, lOnT: String, rOnT: String,
      opts: IntervalJoin.Options): DataFrame = {
    val spark = l2.sparkSession
    val nParts = math.max(spark.sessionState.conf.numShufflePartitions, 1)

    val pts = l2.select(col(s"$lOnT.start").as("s"), col(s"$lOnT.stop").as("e"))
      .unionAll(r2.select(col(s"$rOnT.start").as("s"), col(s"$rOnT.stop").as("e")))
    val sample = samplePairs(pts, "s", "e")
    val bounds = partitionBounds(sample.map(_._1), nParts)
    val threshold = opts.sweepLongThreshold
      .getOrElse(autoLongThreshold(sample, bounds))

    def isLong(onT: String): Column = {
      val st = col(s"$onT.start"); val sp = col(s"$onT.stop")
      st.isNotNull && sp.isNotNull && st < sp && (sp - st) > threshold
    }
    def notLong(onT: String): Column = !coalesce(isLong(onT), lit(false))

    val nLong =
      if (threshold == Long.MaxValue) 0L
      else l2.where(isLong(lOnT)).count() + r2.where(isLong(rOnT)).count()

    if (nLong == 0L || nLong > opts.sweepMaxBroadcastRows) {
      // pure sweep — every current short-span fixture lands here with the
      // plan unchanged; the > cap case is the explicit fallback to bounded
      // replication when the "long" mass is itself too big to broadcast
      sweepCore(l2, r2, lOnT, rOnT, bounds)
    } else {
      val outCols = (l2.columns ++ r2.columns).map(col).toIndexedSeq
      val overlap = col(s"$lOnT.start") < col(s"$rOnT.stop") &&
        col(s"$rOnT.start") < col(s"$lOnT.stop") &&
        col(s"$lOnT.start") < col(s"$lOnT.stop") &&
        col(s"$rOnT.start") < col(s"$rOnT.stop")
      // pair space partitions exactly: (short, short) sweeps; (long, ANY
      // right) and (short left, long right) broadcast the bounded long mass
      // against the streaming side — the stream never shuffles
      val swept = sweepCore(l2.where(notLong(lOnT)), r2.where(notLong(rOnT)),
        lOnT, rOnT, bounds)
      val longLeft = r2.join(broadcast(l2.where(isLong(lOnT))), overlap)
        .select(outCols: _*)
      val longRight = l2.where(notLong(lOnT))
        .join(broadcast(r2.where(isLong(rOnT))), overlap)
        .select(outCols: _*)
      swept.unionAll(longLeft).unionAll(longRight)
    }
  }

  /** The range-partitioned per-partition merge sweep over (already
    * split-filtered) sides, with the given partition bounds. */
  private def sweepCore(l2: DataFrame, r2: DataFrame, lOnT: String, rOnT: String,
      bounds: Array[Long]): DataFrame = {
    val lSchema = l2.schema
    val rSchema = r2.schema
    val outSchema = StructType(lSchema.fields ++ rSchema.fields)
    val packedSchema = StructType(Seq(
      StructField("pid", IntegerType, nullable = false),
      StructField("s", LongType, nullable = false),
      StructField("e", LongType, nullable = false),
      StructField("side", IntegerType, nullable = false),
      StructField("lrow", lSchema, nullable = true),
      StructField("rrow", rSchema, nullable = true)))

    def pack(df: DataFrame, onT: String, side: Int) = {
      val cols = df.columns.map(col)
      val self = struct(cols: _*)
      df.select(
        col(s"$onT.start").as("s"), col(s"$onT.stop").as("e"),
        lit(side).as("side"),
        (if (side == 0) self else lit(null).cast(lSchema)).as("lrow"),
        (if (side == 1) self else lit(null).cast(rSchema)).as("rrow"))
        // NULL endpoints (possible only with checkMissing = false) match
        // nothing in an inner join — drop them BEFORE the typed flatMap,
        // which reads s/e as primitive longs
        .where(col("s").isNotNull && col("e").isNotNull)
    }

    val tagged = pack(l2, lOnT, 0).unionAll(pack(r2, rOnT, 1))

    // replicate each non-degenerate interval to the partition ranges it
    // overlaps: pid(start) .. pid(stop - 1)
    val bcBounds = bounds // serialized into the task closures
    val replicated = tagged.flatMap { row =>
      val s = row.getLong(0)
      val e = row.getLong(1)
      if (s >= e) Iterator.empty
      else {
        val p0 = pidOf(bcBounds, s)
        val p1 = pidOf(bcBounds, e - 1)
        (p0 to p1).iterator.map(p => Row(p, s, e, row.getInt(2), row.get(3), row.get(4)))
      }
    }(Encoders.row(packedSchema))

    val sorted = replicated
      .repartition(math.max(bounds.length + 1, 1), col("pid"))
      .sortWithinPartitions(col("pid"), col("s"))

    val nL = lSchema.length
    val nR = rSchema.length
    val swept = sorted.mapPartitions { it =>
      new Iterator[Row] {
        // (stop, payload) actives per side, evicted by ascending stop
        final class Active(val e: Long, val payload: Row)
        val ord = new java.util.Comparator[Active] {
          def compare(a: Active, b: Active): Int = java.lang.Long.compare(a.e, b.e)
        }
        var curPid = -1
        var pidLow = Long.MinValue
        val lAct = new PriorityQueue[Active](ord)
        val rAct = new PriorityQueue[Active](ord)
        // pending pairs hold the two payload refs; the output Row is ONE
        // reused buffer — SerializeFromObject copies each row to unsafe
        // storage before pulling the next, so reuse is safe and saves two
        // allocations per emitted pair (measured GC-sensitive at 29M pairs)
        val pending = new ArrayBuffer[(Row, Row)]()
        var pendingIdx = 0
        val buf = new Array[Any](nL + nR)
        val out = new org.apache.spark.sql.catalyst.expressions.GenericRow(buf)

        private def refill(): Unit = {
          pending.clear(); pendingIdx = 0
          while (pending.isEmpty && it.hasNext) {
            val row = it.next()
            val pid = row.getInt(0)
            if (pid != curPid) {
              curPid = pid
              pidLow = if (pid == 0) Long.MinValue else bcBounds(pid - 1)
              lAct.clear(); rAct.clear()
            }
            val s = row.getLong(1)
            val e = row.getLong(2)
            val side = row.getInt(3)
            while (!lAct.isEmpty && lAct.peek().e <= s) lAct.poll()
            while (!rAct.isEmpty && rAct.peek().e <= s) rAct.poll()
            val mine = if (side == 0) row.getStruct(4) else row.getStruct(5)
            // the later-start row (this one) decides emission: only in the
            // partition where its own start lives (cross-partition dedup)
            if (s >= pidLow) {
              val opp = if (side == 0) rAct else lAct
              val oi = opp.iterator()
              while (oi.hasNext) {
                val o = oi.next()
                pending += (if (side == 0) (mine, o.payload) else (o.payload, mine))
              }
            }
            (if (side == 0) lAct else rAct).add(new Active(e, mine))
          }
        }

        def hasNext: Boolean = {
          if (pendingIdx < pending.length) true
          else { refill(); pendingIdx < pending.length }
        }
        def next(): Row = {
          val (l, r) = pending(pendingIdx)
          pendingIdx += 1
          var i = 0
          while (i < nL) { buf(i) = l.get(i); i += 1 }
          var j = 0
          while (j < nR) { buf(nL + j) = r.get(j); j += 1 }
          out
        }
      }
    }(Encoders.row(outSchema))

    swept.toDF()
  }
}
