package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.api._
import graft.intervals.BoundedIntervals
import graft.operators.IntervalJoin
import graft.streaming.StreamingIntervalOps

/** Materialized inputs: generated rows written as parquet and read back. */
object Tables {

  /** Writes `spec`'s rows as `(id, [k,] span)`, plus the columns `extra`
    * derives from them, under `path` in `files` files (default one per
    * core); reads them back and fails unless the read-back rows digest to
    * the generated ones. */
  def spans(spark: SparkSession, spec: SpanSpec, seed: Long, path: String, keyed: Boolean,
      extra: DataFrame => DataFrame = identity, files: Int = 0): (DataFrame, Spans, Digest) = {
    import spark.implicits._
    val parts = if (files > 0) files else spark.sparkContext.defaultParallelism
    val keys = if (keyed) Seq("k") else Nil
    extra(spark.range(0L, spec.rows.toLong, 1L, parts).map(i => spec.row(seed, i))
      .select(Seq(col("_1").as("id")) ++ keys.map(_ => col("_2").as("k")) :+
        struct(col("_3").as("start"), col("_4").as("stop")).as("span"): _*))
      .write.mode("overwrite").parquet(path)
    val df = spark.read.parquet(path)
    val arrays = spec.arrays(seed)
    val expected = arrays.id.indices.iterator.map { i =>
      if (keyed) Digest.of(arrays.id(i), arrays.k(i), arrays.start(i), arrays.stop(i))
      else Digest.of(arrays.id(i), arrays.start(i), arrays.stop(i))
    }.foldLeft(Digest.zero)(_ + _)
    val read = Digest.ofFrame(df.select((("id" +: keys) ++ Seq("span.start", "span.stop")).map(col): _*))
    require(read == expected, s"input $path reads back as $read, generated $expected")
    (df, arrays, expected)
  }

  /** `n` equal-width windows `(label 1..n, [b(i), b(i+1)))` covering
    * `[lo, hi)` with `b(i) = lo + i*(W div n) + (i*(W mod n)) div n`, the
    * boundaries `quantile_windows` specifies. */
  def windows(n: Int, lo: Long, hi: Long): Spans = {
    val w = hi - lo
    def b(i: Long) = lo + i * (w / n) + (i * (w % n)) / n
    Spans(Array.tabulate(n)(i => i + 1L), new Array[Long](n),
      Array.tabulate(n)(i => b(i)), Array.tabulate(n)(i => b(i + 1L)))
  }
}

object Workloads {
  val all: Seq[Workload] = Seq(JoinSweep, WindowAgg, SmallOps)
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  /** Files per big input: four scan tasks per core, so that one slow core
    * does not hold up a stage whose other tasks are done. */
  def bigFiles(spark: SparkSession): Int = 4 * spark.sparkContext.defaultParallelism
}

/** Big x big inner interval join of short spans with evenly spread starts:
  * `Auto` resolves it to the plane sweep, whose sampling pass, range
  * shuffle and per-partition sweep do almost all the work. */
object JoinSweep extends Workload {
  val name = "join_sweep"
  val left = SpanSpec(stream = 1, rows = 100000, domain = 100000000L, maxLen = 2000L)
  val right = left.copy(stream = 2)

  def prepare(spark: SparkSession, seed: Long, dir: String): Prepared = {
    val files = Workloads.bigFiles(spark)
    val (l, la, ld) = Tables.spans(spark, left, seed, s"$dir/left", keyed = false, files = files)
    val (r, ra, rd) = Tables.spans(spark, right, seed, s"$dir/right", keyed = false, files = files)
    val shape = new BatchShape("interval_join", left.rows.toLong + right.rows,
        Seq("id_l", "id_r", "span.start", "span.stop"))(
      intervalJoin(l, r, "span", JoinOptions(renamecols = IntervalJoin.suffixes("_l", "_r"))))
    val check = Check("interval_join digest vs reference sweep", warm => {
      val got = warm.digests(shape.name)
      val want = Reference.joinDigest(la, ra)
      (got == want, s"got $got, reference $want")
    })
    Prepared(Vector(shape), Seq(check), Seq("left" -> ld, "right" -> rd))
  }
}

/** The reference's canonical shape: `quantileWindows` over a recording's
  * span, a broadcast range join of a large span table against that small
  * window frame, and a per-window aggregate through `groupbyIntervalJoin`.
  * It never reaches the sweep. */
object WindowAgg extends Workload {
  val name = "window_agg"
  val spans = SpanSpec(stream = 3, rows = 200000, domain = 1000000000L, maxLen = 100000L)
  val nWindows = 1000

  def prepare(spark: SparkSession, seed: Long, dir: String): Prepared = {
    val (s, sa, sd) = Tables.spans(spark, spans, seed, s"$dir/spans", keyed = false,
      files = Workloads.bigFiles(spark))
    // the recording covers [0, domain); its span is known without a scan
    val (lo, hi) = (0L, spans.domain)
    val shape = new BatchShape("window_agg", spans.rows.toLong + nWindows,
        Seq("index", "n", "covered"))(
      groupbyIntervalJoin(s, quantileWindows(spark, nWindows.toLong, lo, hi),
          Seq(Selector.Name("index")), "span" -> "span")
        .agg(count(lit(1)).as("n"), sum(col("span.stop") - col("span.start")).as("covered")))
    val check = Check("window aggregate digest vs reference sweep", warm => {
      val got = warm.digests(shape.name)
      val want = Reference.windowAggDigest(sa, Tables.windows(nWindows, lo, hi))
      (got == want, s"got $got, reference $want")
    })
    Prepared(Vector(shape), Seq(check), Seq("spans" -> sd))
  }
}

/** A fixed rotation of small, distinct query shapes over 10-15k-row tables:
  * each query is short, so building, Catalyst, codegen and scheduling
  * dominate. Covers the operator layer's other paths: interval-set
  * algebra, sessionize, as-of, stab (binned), outer (binned), and the
  * timestamp-struct and bounded-interval joins; and one replay of a span
  * stream through the streaming merge, the rotation's slowest query. */
object SmallOps extends Workload {
  val name = "small_ops"
  private val base = SpanSpec(stream = 10, rows = 10000, domain = 1000000000L,
    maxLen = 200000L, keys = 50)
  // ns ticks: 2 k spans of up to 2 s over 1000 s, 20 keys
  private val stream = SpanSpec(stream = 20, rows = 2000, domain = 1000000000000L,
    maxLen = 2000000000L, keys = 20)
  private val streamBatches = 2

  def prepare(spark: SparkSession, seed: Long, dir: String): Prepared = {
    // the timestamp-struct and bounded-interval forms of a span travel in
    // the same files as extra columns
    def forms(df: DataFrame) = df
      .withColumn("span_ts", struct(timestamp_micros(col("span.start")).as("start"),
        timestamp_micros(col("span.stop")).as("stop")))
      .withColumn("span_b", BoundedIntervals.bounded(col("span.start"), col("span.stop"),
        pmod(col("id"), lit(2L)) === 0L, pmod(col("id"), lit(3L)) === 0L))
    val (a0, aa, ad) = Tables.spans(spark, base, seed, s"$dir/a", keyed = true, forms)
    val (b, ba, bd) = Tables.spans(spark, base.copy(stream = 11), seed, s"$dir/b", keyed = true)
    val (e, _, ed) = Tables.spans(spark, base.copy(stream = 12, rows = 15000, maxLen = 1L),
      seed, s"$dir/e", keyed = true)
    val sa = stream.arrays(seed)
    val small = base.copy(stream = 14, rows = 200, keys = 1)
    val (c, ca, cd) = Tables.spans(spark, small, seed, s"$dir/c", keyed = false, forms)
    val a = a0.select("id", "k", "span")
    val events = e.select(col("id").as("eid"), col("k"), col("span.start").as("ts"))
    val quotes = b.select(col("k"), col("span.start").as("qts"), col("id").as("price"))
    val points = e.select(col("id").as("pid"), col("span.start").as("ts"))
    def form(df: DataFrame, f: String) = df.select(col("id"), col(f).as("span"))
    // a broadcast nested loop join evaluates every pair, and the timestamp
    // and bounded predicates cost the most per pair: smaller left sides keep
    // these two queries short
    val (nTs, nBounded) = (5000L, 2500L)
    val aTs = form(a0.where(col("id") < nTs), "span_ts")
    val cTs = form(c, "span_ts")
    val aB = form(a0.where(col("id") < nBounded), "span_b")
    val cB = form(c, "span_b")

    val n = base.rows.toLong
    val keys = Seq("k")
    val opts = JoinOptions(renamecols = IntervalJoin.suffixes("_l", "_r"))
    val shapes = Vector(
      new BatchShape("merge_intervals", n)(a.mergeIntervals(keys)),
      new BatchShape("interval_gaps", n)(a.intervalGaps(keys)),
      new BatchShape("covered_duration", n)(a.coveredDuration(keys)),
      new BatchShape("set_intersect", 2 * n)(a.intervalSetIntersect(b, keys)),
      new BatchShape("set_subtract", 2 * n)(a.intervalSetSubtract(b, keys)),
      new BatchShape("sessionize", 15000L)(events.sessionize(keys, "ts", 1000000L)),
      new BatchShape("asof_join", 15000L + n)(events.asofJoin(quotes, "ts", "qts", Seq("k" -> "k"))),
      new BatchShape("stab_join", 15000L + n)(
        IntervalJoin.stabJoin(points, b.drop("k"), "ts" -> "span")),
      new BatchShape("keepleft_join", 2 * n)(a.intervalJoin(b, "span",
        opts.copy(keepleft = true, strategy = IntervalJoin.Strategy.Binned))),
      // a span table against a 200-row annotation table, in timestamp
      // and in bounded-interval form
      new BatchShape("timestamp_join", nTs + small.rows)(aTs.intervalJoin(cTs, "span", opts)),
      new BatchShape("bounded_join", nBounded + small.rows)(aB.intervalJoin(cB, "span", opts)),
      new StreamShape("stream_merge", spark, replayBatches(sa))(df =>
        StreamingIntervalOps.mergeIntervalsStream(df.select(col("_1").as("k"),
          struct(col("_2").as("start"), col("_3").as("stop")).as("span"),
          timestamp_micros(expr("_2 div 1000")).as("ts")), keys, "span", "ts", "1 second")))

    def matched(name: String, want: => Long) = Check(s"$name count vs reference", warm => {
      val w = want
      (warm.counts(name) == w, s"got ${warm.counts(name)}, reference $w")
    })
    val checks = Seq(
      matched("merge_intervals", Reference.mergedRuns(aa)),
      matched("timestamp_join", {
        val l = aa.take(nTs.toInt)
        var pairs = 0L
        Reference.sweep(l.start, l.stop, ca.start, ca.stop)((_, _) => pairs += 1)
        pairs
      }),
      // every pair, plus each left row that overlaps nothing
      matched("keepleft_join", {
        val hit = new Array[Boolean](aa.length)
        var pairs = 0L
        Reference.sweep(aa.start, aa.stop, ba.start, ba.stop) { (i, _) => hit(i) = true; pairs += 1 }
        pairs + hit.count(!_)
      }),
      matched("stream_merge", Reference.mergedRuns(sa)))
    val streamDigest = sa.id.indices.iterator
      .map(i => Digest.of(sa.k(i), sa.start(i), sa.stop(i))).foldLeft(Digest.zero)(_ + _)
    Prepared(shapes, checks,
      Seq("a" -> ad, "b" -> bd, "e" -> ed, "c" -> cd, "stream" -> streamDigest))
  }

  /** The stream as `(k, start, stop)` micro-batches cut at event-time
    * quantiles, so no row is ever behind the watermark. The last batch ends
    * with one far-future empty span: it moves the watermark past every run,
    * so all of them close in the no-data batch that follows (the operator
    * drops the empty span itself). */
  private def replayBatches(s: Spans): Seq[Seq[(Long, Long, Long)]] = {
    val order = s.id.indices.sortBy(s.start(_))
    val far = s.stop.max + 86400000000000L
    val batches = order.grouped((order.length + streamBatches - 1) / streamBatches)
      .map(_.map(i => (s.k(i), s.start(i), s.stop(i))).toVector).toVector
    batches.init :+ (batches.last :+ ((-1L, far, far)))
  }
}
