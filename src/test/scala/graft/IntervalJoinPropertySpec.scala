package graft

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.expressions.DoubleTickKey
import graft.intervals.{BoundedIntervals, IntervalCols}
import graft.operators.IntervalJoin
import graft.operators.IntervalJoin.{Options, Strategy}

/** Property tests (SURVEY §5): over random interval sets, every physical
  * strategy must agree with an in-memory brute-force oracle — including
  * pathological shapes (nested intervals, heavy overlap, giant outliers).
  * Raw ScalaCheck generators driven by fixed seeds (the scalatest bridge
  * artifact isn't available offline). */
class IntervalJoinPropertySpec extends SparkSuite {

  private val genInterval: Gen[(Long, Long)] = for {
    start <- Gen.chooseNum(0L, 100000L)
    short <- Gen.oneOf(true, false)
    len <- if (short) Gen.chooseNum(1L, 100L) else Gen.chooseNum(1L, 50000L)
  } yield (start, start + len)

  private val genSet: Gen[List[(Long, Long)]] =
    Gen.chooseNum(0, 60).flatMap(n => Gen.listOfN(n, genInterval))

  private def sample(seed: Long): (List[(Long, Long)], List[(Long, Long)]) = {
    val g = for { a <- genSet; b <- genSet } yield (a, b)
    g.apply(Gen.Parameters.default, Seed(seed)).get
  }

  private def toDF(xs: List[(Long, Long)], tag: String) = {
    val schema = StructType(Seq(
      StructField(s"id_$tag", LongType, nullable = false),
      StructField("span", spanSchema, nullable = true)))
    val rows = xs.zipWithIndex.map { case ((s, e), i) => Row(i.toLong, Row(s, e)) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
  }

  private def brute(l: List[(Long, Long)], r: List[(Long, Long)]): Set[(Int, Int)] =
    (for {
      (a, i) <- l.zipWithIndex
      (b, j) <- r.zipWithIndex
      if a._1 < b._2 && b._1 < a._2
    } yield (i, j)).toSet

  test("range and binned strategies match the brute-force pair set on 20 random inputs") {
    (1 to 20).foreach { seed =>
      val (ls, rs) = sample(seed.toLong)
      val expected = brute(ls, rs)
      val lDF = toDF(ls, "l")
      val rDF = toDF(rs, "r")
      def pairs(strategy: Strategy, binWidth: Option[Long] = None) =
        IntervalJoin.intervalJoin(lDF, rDF, "span",
          Options(strategy = strategy, binWidth = binWidth))
          .select("id_l", "id_r").collect()
          .map(x => (x.getLong(0).toInt, x.getLong(1).toInt)).toSet
      assert(pairs(Strategy.Range) == expected, s"range strategy, seed=$seed")
      assert(pairs(Strategy.Binned) == expected, s"binned auto width, seed=$seed")
      assert(pairs(Strategy.Binned, binWidth = Some(7L)) == expected, s"binned w=7, seed=$seed")
      assert(pairs(Strategy.Sweep) == expected, s"sweep strategy, seed=$seed")
    }
  }

  private val genMaybeDegenerate: Gen[(Long, Long)] = Gen.frequency(
    8 -> genInterval,
    1 -> Gen.chooseNum(0L, 100000L).map(s => (s, s)),          // empty [s,s)
    1 -> genInterval.map { case (s, e) => (e, s) })            // reversed (corrupt)

  /** nasty shapes: exact duplicates, shared endpoints, all-spanning giants
    * (replicate to every sweep partition), dense point-ish intervals */
  private val genNasty: Gen[List[(Long, Long)]] = for {
    base <- Gen.chooseNum(0L, 1000L)
    nDup <- Gen.chooseNum(0, 15)
    nTie <- Gen.chooseNum(0, 15)
    nGiant <- Gen.chooseNum(0, 4)
    nTiny <- Gen.chooseNum(0, 20)
    tiny <- Gen.listOfN(nTiny, Gen.chooseNum(0L, 2000L).map(s => (s, s + 1)))
  } yield List.fill(nDup)((base, base + 100L)) ++
    (0 until nTie).map(i => (base, base + 10L + i)) ++
    List.fill(nGiant)((0L, 1000000L)) ++ tiny

  test("nasty shapes (dups, ties, all-spanning giants): all strategies agree with brute force") {
    (300 to 309).foreach { seed =>
      val g = for { a <- genNasty; b <- genNasty } yield (a, b)
      val (ls, rs) = g.apply(Gen.Parameters.default, Seed(seed.toLong)).get
      val expected = brute(ls, rs)
      val lDF = toDF(ls, "l")
      val rDF = toDF(rs, "r")
      for (strat <- Seq(Strategy.Range, Strategy.Binned, Strategy.Sweep)) {
        val got = IntervalJoin.intervalJoin(lDF, rDF, "span",
            Options(strategy = strat))
          .select("id_l", "id_r").collect()
          .map(x => (x.getLong(0).toInt, x.getLong(1).toInt))
        // with exact duplicate intervals the JOIN YIELDS duplicate pairs —
        // compare as multisets, not sets
        val gotM = got.groupBy(identity).view.mapValues(_.length).toMap
        val expM = (for {
          (a, i) <- ls.zipWithIndex; (b, j) <- rs.zipWithIndex
          if a._1 < b._2 && b._1 < a._2 && a._1 < a._2 && b._1 < b._2
        } yield (i, j)).groupBy(identity).view.mapValues(_.length).toMap
        assert(gotM == expM, s"seed=$seed strat=$strat")
      }
    }
  }

  /** fat tail: mostly short spans, a sub-1% sprinkle of corpus-length
    * giants — the shape where unsplit sweep replication degrades toward
    * all-partitions and the long/short split must route giants to the
    * broadcast branches without changing a single pair */
  private val genFatTail: Gen[List[(Long, Long)]] = for {
    nShort <- Gen.chooseNum(40, 120)
    short <- Gen.listOfN(nShort, for {
      s <- Gen.chooseNum(0L, 100000L); len <- Gen.chooseNum(1L, 40L)
    } yield (s, s + len))
    nGiant <- Gen.chooseNum(0, 2)
    giant <- Gen.listOfN(nGiant, for {
      s <- Gen.chooseNum(0L, 1000L); len <- Gen.chooseNum(90000L, 120000L)
    } yield (s, s + len))
    nDeg <- Gen.chooseNum(0, 3)
    deg <- Gen.listOfN(nDeg, Gen.chooseNum(0L, 100000L).map(s => (s, s)))
  } yield short ++ giant ++ deg

  test("sweep long/short split == unsplit on fat-tail mixes (forced, auto, and no-split thresholds)") {
    (400 to 411).foreach { seed =>
      val g = for { a <- genFatTail; b <- genFatTail } yield (a, b)
      val (ls, rs) = g.apply(Gen.Parameters.default, Seed(seed.toLong)).get
      val expected = brute(ls, rs)
        .filter { case (i, j) => ls(i)._1 < ls(i)._2 && rs(j)._1 < rs(j)._2 }
      val lDF = toDF(ls, "l")
      val rDF = toDF(rs, "r")
      def pairs(opts: Options) =
        IntervalJoin.intervalJoin(lDF, rDF, "span", opts)
          .select("id_l", "id_r").collect()
          .map(x => (x.getLong(0).toInt, x.getLong(1).toInt)).toSet
      // forced low threshold: every giant (and some shorts) goes broadcast
      assert(pairs(Options(strategy = Strategy.Sweep,
        sweepLongThreshold = Some(50L))) == expected, s"forced split, seed=$seed")
      // forced huge threshold: nothing splits — the unsplit baseline
      assert(pairs(Options(strategy = Strategy.Sweep,
        sweepLongThreshold = Some(Long.MaxValue))) == expected, s"no split, seed=$seed")
      // auto threshold (p99 of the sampled lengths)
      assert(pairs(Options(strategy = Strategy.Sweep)) == expected, s"auto, seed=$seed")
      // degenerate fallback knob: cap 0 forces the unsplit path even when
      // the threshold marks rows long
      assert(pairs(Options(strategy = Strategy.Sweep,
        sweepLongThreshold = Some(50L), sweepMaxBroadcastRows = 0L)) == expected,
        s"cap fallback, seed=$seed")
    }
  }

  test("outer joins: both strategies match the brute-force oracle incl. degenerate intervals") {
    (200 to 212).foreach { seed =>
      val g = for {
        a <- Gen.chooseNum(0, 40).flatMap(n => Gen.listOfN(n, genMaybeDegenerate))
        b <- Gen.chooseNum(0, 40).flatMap(n => Gen.listOfN(n, genMaybeDegenerate))
      } yield (a, b)
      val (ls, rs) = g.apply(Gen.Parameters.default, Seed(seed.toLong)).get
      // brute oracle: degenerate intervals (start >= stop) are empty sets —
      // they match nothing but survive outer joins as unmatched rows
      val matched = (for {
        (a, i) <- ls.zipWithIndex
        (b, j) <- rs.zipWithIndex
        if a._1 < b._2 && b._1 < a._2 && a._1 < a._2 && b._1 < b._2
      } yield (i.toLong, j.toLong)).toSet
      val lUnmatched = ls.indices.map(_.toLong).toSet -- matched.map(_._1)
      val rUnmatched = rs.indices.map(_.toLong).toSet -- matched.map(_._2)
      val lDF = toDF(ls, "l")
      val rDF = toDF(rs, "r")
      for {
        (kl, kr) <- Seq((true, false), (false, true), (true, true))
        strat <- Seq(Strategy.Range, Strategy.Binned)
      } {
        val expected = matched ++
          (if (kl) lUnmatched.map(_ -> -1L) else Set.empty) ++
          (if (kr) rUnmatched.map(-1L -> _) else Set.empty)
        val got = IntervalJoin.intervalJoin(lDF, rDF, "span",
            Options(strategy = strat, keepleft = kl, keepright = kr))
          .select("id_l", "id_r").collect()
          .map(x => (if (x.isNullAt(0)) -1L else x.getLong(0),
            if (x.isNullAt(1)) -1L else x.getLong(1))).toSet
        assert(got == expected, s"seed=$seed strat=$strat kl=$kl kr=$kr")
      }
    }
  }

  test("intersection is exactly [max(starts), min(stops)) for every matched pair") {
    (100 to 104).foreach { seed =>
      val (ls, rs) = sample(seed.toLong)
      val j = IntervalJoin.intervalJoin(toDF(ls, "l"), toDF(rs, "r"), "span",
        Options(strategy = Strategy.Binned))
      val bad = j.where(
        col("span.start") =!= greatest(col("span_left.start"), col("span_right.start")) ||
        col("span.stop") =!= least(col("span_left.stop"), col("span_right.stop")))
      assert(bad.count() == 0, s"seed=$seed")
    }
  }

  /** One endpoint type of the form matrix: a pool of raw values of type
    * `raw`, and the conversion to the endpoint type. Drawing both ends of
    * every interval from a small pool makes ties, touching ends, empty and
    * reversed rows common. */
  private case class Pool(name: String, raw: DataType, values: Seq[Any],
      to: Column => Column = identity)

  private val usMin = -62135596800000000L // 0001-01-01 00:00:00
  private val usMax = 253402300799999999L // 9999-12-31 23:59:59.999999
  private val pools = Seq(
    Pool("int", IntegerType, Seq(Int.MinValue, -1, 0, 1, 2, 3, Int.MaxValue)),
    Pool("long", LongType, Seq(Long.MinValue, Long.MinValue + 1, -1L, 0L, 1L, 2L, 3L,
      Long.MaxValue - 1, Long.MaxValue)),
    Pool("float", FloatType, Seq(Float.NegativeInfinity, -1.5f, -Float.MinPositiveValue,
      -0.0f, 0.0f, Float.MinPositiveValue, 1.0f, Math.nextUp(1.0f), Float.MaxValue,
      Float.PositiveInfinity, Float.NaN)),
    Pool("double", DoubleType, Seq(Double.NegativeInfinity, -Double.MaxValue, -1.0,
      -Double.MinPositiveValue, -0.0, 0.0, Double.MinPositiveValue, 1e-310, 1.0,
      Math.nextUp(1.0), Double.MaxValue, Double.PositiveInfinity,
      java.lang.Double.longBitsToDouble(0x7ff0000000000001L), Double.NaN)),
    Pool("date", IntegerType, Seq(-719162, -1, 0, 1, 2, 2932896), c => date_from_unix_date(c)),
    Pool("timestamp", LongType, Seq(usMin, -1L, 0L, 1L, 2L, usMax), c => timestamp_micros(c)),
    Pool("timestamp_ntz", LongType, Seq(usMin, -1L, 0L, 1L, 2L, usMax),
      c => timestamp_micros(c).cast(TimestampNTZType)))

  /** `id_<tag>`, the bounded interval `b` and its half-open view `h`: random
    * rows from the pool with random bound flags (all four closedness
    * pairs), plus the pool's widest interval and its top closed point. */
  private def poolFrame(p: Pool, seed: Long, tag: String) = {
    val rng = new scala.util.Random(seed)
    def draw = p.values(rng.nextInt(p.values.length))
    val rows = (0 until 14).map(_ => (draw, draw, rng.nextBoolean(), rng.nextBoolean())) ++
      Seq((p.values.head, p.values.last, true, true), (p.values.last, p.values.last, true, true))
    val schema = StructType(Seq(StructField("id", LongType), StructField("s", p.raw),
      StructField("e", p.raw), StructField("lc", BooleanType), StructField("rc", BooleanType)))
    spark.createDataFrame(spark.sparkContext.parallelize(
        rows.zipWithIndex.map { case ((s, e, lc, rc), i) => Row(i.toLong, s, e, lc, rc) }, 2),
        schema)
      .select(col("id").as(s"id_$tag"),
        BoundedIntervals.bounded(p.to(col("s")), p.to(col("e")), col("lc"), col("rc")).as("b"),
        IntervalCols.interval(p.to(col("s")), p.to(col("e"))).as("h"))
  }

  /** A row with every floating value as its raw bits, so −0.0 and NaN
    * payloads count as different values. */
  private def bits(v: Any): Any = v match {
    case d: Double => ("d", java.lang.Double.doubleToRawLongBits(d))
    case f: Float  => ("f", java.lang.Float.floatToRawIntBits(f))
    case r: Row    => r.toSeq.map(bits)
    case x         => x
  }
  private def multiset(df: org.apache.spark.sql.DataFrame) =
    df.collect().toSeq.map(bits).groupBy(identity).view.mapValues(_.size).toMap

  test("form matrix: every endpoint type, closedness pair and edge value joins alike on every strategy") {
    // the tick key orders doubles as Spark SQL does
    val ds = pools.find(_.name == "double").get.values.map(_.asInstanceOf[Double])
    for (a <- ds; b <- ds)
      assert(Integer.signum(java.lang.Long.compare(DoubleTickKey.key(a), DoubleTickKey.key(b))) ==
        Integer.signum(org.apache.spark.sql.catalyst.util.SQLOrderingUtil.compareDoubles(a, b)),
        s"$a vs $b")
    for ((p, i) <- pools.zipWithIndex) {
      val l = poolFrame(p, 500L + i, "l")
      val r = poolFrame(p, 600L + i, "r")
      // bounded x bounded, half-open x bounded, and half-open x half-open
      // (dates have no half-open form)
      val forms = Seq(("b", "b"), ("h", "b")) ++ (if (p.name == "date") Nil else Seq(("h", "h")))
      for ((lOn, rOn) <- forms) {
        val lf = l.select(col("id_l"), col(lOn).as("span"))
        val rf = r.select(col("id_r"), col(rOn).as("win"))
        def join(o: Options) = IntervalJoin.intervalJoin(lf, rf, ("span", "win"), o)
        // the predicate the join evaluated before ticks: no pair may be lost
        val before =
          if (rOn == "h") IntervalCols.overlaps(col("span"), col("win"))
          else BoundedIntervals.overlapsBounded(
            if (lOn == "b") col("span") else BoundedIntervals.fromHalfOpen(col("span")), col("win"))
        val case_ = s"${p.name} $lOn x $rOn"
        val range = join(Options(strategy = Strategy.Range))
        assert(multiset(range.select("id_l", "id_r")) ==
          multiset(lf.crossJoin(rf).where(before).select("id_l", "id_r")), case_)
        val rangeRows = multiset(range)
        for (strat <- Seq(Strategy.Binned, Strategy.Sweep, Strategy.Auto))
          assert(multiset(join(Options(strategy = strat))) == rangeRows, s"$case_ $strat")
        // full outer: Auto with every side "big" runs the binned outer plan
        val outer = Options(keepleft = true, keepright = true)
        assert(multiset(join(outer.copy(maxRangeRows = 0L))) ==
          multiset(join(outer.copy(strategy = Strategy.Range))), s"$case_ full outer")
      }
    }
  }
}
