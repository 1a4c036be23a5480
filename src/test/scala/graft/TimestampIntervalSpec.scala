package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.intervals.IntervalCols
import graft.operators.{IntervalJoin, QuantileWindows}
import graft.operators.IntervalJoin.{Options, Strategy}

/** Timestamp-struct intervals flow through every operator natively and come
  * back in the input representation (`backto`, reference
  * `src/DataFrameIntervals.jl:32-35,44-46`): internally exact long-µs ticks,
  * no lossy arithmetic. */
class TimestampIntervalSpec extends SparkSuite {
  import spark.implicits._

  /** the long fixture converted to µs-timestamp structs */
  lazy val nsDf = fixture()
  lazy val tsDf = nsDf.select(col("label"), col("x"),
    struct(
      timestamp_micros(expr("span.start div 1000")).as("start"),
      timestamp_micros(expr("span.stop div 1000")).as("stop")).as("span"))
  /** ns fixture truncated to µs so the ts and long paths see identical ticks */
  lazy val usDf = nsDf.select(col("label"), col("x"),
    struct(expr("(span.start div 1000) * 1000").as("start"),
      expr("(span.stop div 1000) * 1000").as("stop")).as("span"))

  test("quantileWindows on a timestamp span column returns timestamp windows") {
    val w = QuantileWindows.quantileWindows(8, tsDf, "span", "idx")
    val t = w.schema("span").dataType.asInstanceOf[StructType]
    assert(t("start").dataType == TimestampType && t("stop").dataType == TimestampType)
    assert(w.count() == 8)
    // contiguous + covering: stop(i) == start(i+1), first == lo, last == hi
    val rows = w.orderBy("idx")
      .select(unix_micros(col("span.start")), unix_micros(col("span.stop")))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    rows.sliding(2).foreach { case Array(a, b) => assert(a._2 == b._1); case _ => () }
    val us = tsDf.select(unix_micros(col("span.start")).as("s"), unix_micros(col("span.stop")).as("e"))
      .agg(min("s"), max("e")).head()
    assert(rows.head._1 == us.getLong(0) && rows.last._2 == us.getLong(1))
  }

  test("interval join on timestamp intervals == join on equivalent long intervals") {
    for (strat <- Seq(Strategy.Range, Strategy.Binned)) {
      val wTs = QuantileWindows.quantileWindows(4, tsDf, "span", "q")
      val wUs = QuantileWindows.quantileWindows(4,
        usDf.select(col("label"), col("x"),
          struct(expr("span.start div 1000").as("start"), expr("span.stop div 1000").as("stop")).as("span")),
        "span", "q")
      val jTs = IntervalJoin.intervalJoin(tsDf, wTs, "span", Options(strategy = strat))
        .select(col("label"), col("x"), col("q"),
          unix_micros(col("span.start")).as("is"), unix_micros(col("span.stop")).as("ie"))
      val jUs = IntervalJoin.intervalJoin(
        usDf.select(col("label"), col("x"),
          struct(expr("span.start div 1000").as("start"), expr("span.stop div 1000").as("stop")).as("span")),
        wUs, "span", Options(strategy = strat))
        .select(col("label"), col("x"), col("q"),
          col("span.start").as("is"), col("span.stop").as("ie"))
      assertSameRows(jTs, jUs)
      // output columns carry the timestamp representation (backto)
      val j = IntervalJoin.intervalJoin(tsDf, wTs, "span", Options(strategy = strat))
      for (c <- Seq("span_left", "span_right", "span")) {
        val t = j.schema(c).dataType.asInstanceOf[StructType]
        assert(t("start").dataType == TimestampType, s"$c/$strat")
      }
    }
  }

  test("outer join on timestamps: unmatched rows keep NULL intersection (not struct(NULL,NULL))") {
    val lo = tsDf.select(min(col("span.start"))).head().getTimestamp(0)
    val wins = QuantileWindows.quantileWindows(2, tsDf, "span", "h")
      .limit(1) // only the first half -> some spans unmatched
    val j = IntervalJoin.intervalJoin(tsDf, wins, "span", Options(keepleft = true))
    val unmatched = j.where(col("h").isNull)
    assert(unmatched.count() > 0)
    assert(unmatched.where(col("span").isNotNull).count() == 0)
  }

  test("mixed timestamp/long representations are rejected with a clear error") {
    val e = intercept[IllegalArgumentException] {
      IntervalJoin.intervalJoin(tsDf, nsDf.select(col("span")), "span")
    }
    assert(e.getMessage.contains("same representation"))
  }

  /** NTZ fixture: same µs ticks as tsDf but wall-clock timestamps. */
  lazy val ntzDf = tsDf.select(col("label"), col("x"),
    struct(col("span.start").cast(TimestampNTZType).as("start"),
      col("span.stop").cast(TimestampNTZType).as("stop")).as("span"))

  test("NTZ intervals come back as NTZ, with values independent of the session timezone") {
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    try {
      def runJoin() = {
        val w = QuantileWindows.quantileWindows(4, ntzDf, "span", "q")
        val t = w.schema("span").dataType.asInstanceOf[StructType]
        assert(t("start").dataType == TimestampNTZType && t("stop").dataType == TimestampNTZType)
        val j = IntervalJoin.intervalJoin(ntzDf, w, "span")
        for (c <- Seq("span_left", "span_right", "span")) {
          val ct = j.schema(c).dataType.asInstanceOf[StructType]
          assert(ct("start").dataType == TimestampNTZType, s"$c keeps NTZ (backto)")
        }
        j.select(col("label"), col("q"), col("span.start").cast("string"),
            col("span.stop").cast("string"))
          .collect().map(_.toSeq).toSet
      }
      val inUtc = runJoin()
      spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
      val inTokyo = runJoin()
      // wall-clock semantics: identical results regardless of session zone
      assert(inUtc == inTokyo && inUtc.nonEmpty)
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }

  test("NTZ join results equal the TZ join results on the same ticks (UTC session)") {
    val w = QuantileWindows.quantileWindows(4, tsDf, "span", "q")
    val wN = QuantileWindows.quantileWindows(4, ntzDf, "span", "q")
    val jTs = IntervalJoin.intervalJoin(tsDf, w, "span")
      .select(col("label"), col("x"), col("q"),
        unix_micros(col("span.start")).as("is"), unix_micros(col("span.stop")).as("ie"))
    val jNtz = IntervalJoin.intervalJoin(ntzDf, wN, "span")
      .select(col("label"), col("x"), col("q"),
        expr("timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01 00:00:00', span.start)").as("is"),
        expr("timestampdiff(MICROSECOND, timestamp_ntz'1970-01-01 00:00:00', span.stop)").as("ie"))
    assertSameRows(jTs, jNtz)
  }

  test("integer-endpoint intervals widen to long ticks and come back as int (backto)") {
    import graft.operators.IntervalJoin.{Options, Strategy}
    val intDf = Seq((1, 0, 10), (2, 5, 20), (3, 30, 40)).toDF("id", "s", "e")
      .select(col("id"), struct(col("s").cast("int").as("start"),
        col("e").cast("int").as("stop")).as("span"))
    val longDf = intDf.select(col("id").as("rid"),
      struct(col("span.start").cast("long").as("start"),
        col("span.stop").cast("long").as("stop")).as("span"))
    for (strat <- Seq(Strategy.Range, Strategy.Binned, Strategy.Sweep)) {
      // int x int self-join: on columns AND intersection keep IntegerType
      val j = IntervalJoin.intervalJoin(intDf, intDf, "span",
        Options(strategy = strat, makeunique = true))
      val t = j.schema("span").dataType.asInstanceOf[StructType]
      assert(t("start").dataType == IntegerType, s"isect int/$strat")
      assert(j.schema("span_left").dataType.asInstanceOf[StructType]("start")
        .dataType == IntegerType)
      // pairs: the 3 self-pairs + 1-2 and 2-1
      assert(j.count() == 5, s"$strat")
      // mixed int x long: each side keeps its own type, intersection widens
      val m = IntervalJoin.intervalJoin(intDf, longDf, "span" -> "span")
      val mt = m.schema("span").dataType.asInstanceOf[StructType]
      assert(mt("start").dataType == LongType, "intersection widens to long")
      assert(m.schema("span_left").dataType.asInstanceOf[StructType]("start")
        .dataType == IntegerType)
      assert(m.schema("span_right").dataType.asInstanceOf[StructType]("start")
        .dataType == LongType)
    }
    // fractional endpoints join alike on every strategy (same pairs, double
    // type preserved)
    val dblDf = intDf.select(col("id"),
      struct(col("span.start").cast("double").as("start"),
        col("span.stop").cast("double").as("stop")).as("span"))
    val jd = IntervalJoin.intervalJoin(dblDf, dblDf, "span", Options(makeunique = true))
    assert(jd.count() == 5)
    assert(jd.schema("span").dataType.asInstanceOf[StructType]("start")
      .dataType == DoubleType)
    assert(collectSorted(IntervalJoin.intervalJoin(dblDf, dblDf, "span",
      Options(strategy = Strategy.Binned, makeunique = true))) == collectSorted(jd))
  }

  test("NTZ/TZ mixed sides and mixed endpoints are rejected") {
    val e = intercept[IllegalArgumentException] {
      IntervalJoin.intervalJoin(ntzDf, tsDf.select(col("span")), "span")
    }
    assert(e.getMessage.contains("same representation"))
    val mixed = tsDf.select(struct(col("span.start"),
      col("span.stop").cast(TimestampNTZType).as("stop")).as("span"))
    val e2 = intercept[IllegalArgumentException] {
      IntervalJoin.intervalJoin(mixed, mixed, "span")
    }
    assert(e2.getMessage.contains("mixes TIMESTAMP and TIMESTAMP_NTZ"))
  }
}
