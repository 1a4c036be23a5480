package graft

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.GroupedIntervalJoin.{groupbyIntervalJoin, Selector}
import graft.operators.IntervalJoin
import graft.operators.IntervalJoin.{Options, Strategy}
import graft.operators.QuantileWindows

/** `quantileWindows`' grid hint: Auto bins a window join on the frame's own
  * `{lo, hi, n}` with no stats pass and no nested loop, and the result is
  * exact whether or not the hint still describes the frame. Every join is
  * compared with `Strategy.Range` as an order-insensitive multiset. */
class WindowGridSpec extends SparkSuite {

  private val (lo, hi, n) = (1000L, 51000L, 50L)
  private lazy val wins = QuantileWindows.quantileWindows(spark, n, lo, hi, "span", "idx")

  private def spansOf(rows: Seq[(Long, Long, Long)]): DataFrame = {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("span", StructType(Seq(StructField("start", LongType),
        StructField("stop", LongType))))))
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (i, s, e) => Row(i, Row(s, e)) }, 3), schema)
  }

  /** Seeded spans over and around the grid, plus the edge rows: before
    * `lo`, after `hi`, straddling the whole grid, empty, and stops next to
    * Long.MaxValue. */
  private lazy val spans = {
    val rng = new scala.util.Random(7)
    val random = (0 until 300).map { i =>
      val s = lo - 5000 + rng.nextInt(60000)
      (i.toLong, s, s + 1 + rng.nextInt(3000))
    }
    spansOf(random ++ Seq(
      (1000L, 0L, 500L), (1001L, 60000L, 70000L), (1002L, Long.MinValue, Long.MaxValue),
      (1003L, -10L, lo), (1004L, hi, hi + 1), (1005L, hi - 1, hi), (1006L, 3000L, 3000L),
      (1007L, 9000L, 8000L), (1008L, Long.MaxValue - 2, Long.MaxValue),
      (1009L, 40000L, Long.MaxValue), (1010L, Long.MaxValue - 1, Long.MaxValue)))
  }

  private def jobsDuring[T](body: => T): (T, Long) = {
    val sc = spark.sparkContext
    val jobs = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    GraftListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = body
      GraftListenerBus.drain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  private def plan(df: DataFrame) = df.queryExecution.executedPlan.toString

  private def assertLikeRange(l: DataFrame, r: DataFrame, opts: Options): DataFrame = {
    val got = IntervalJoin.intervalJoin(l, r, "span", opts)
    assertSameRows(got,
      IntervalJoin.intervalJoin(l, r, "span", opts.copy(strategy = Strategy.Range)))
    got
  }

  test("hinted joins: no build job, no nested loop, Range's rows for every join type") {
    // Auto takes the grid for inner joins; outer ones name Binned to get it
    for ((kl, kr) <- Seq((false, false), (true, false), (false, true), (true, true))) {
      val opts = Options(keepleft = kl, keepright = kr,
        strategy = if (kl || kr) Strategy.Binned else Strategy.Auto)
      val (j, jobs) = jobsDuring(IntervalJoin.intervalJoin(spans, wins, "span", opts))
      assert(jobs == 0, s"keepleft=$kl keepright=$kr: $jobs jobs at build")
      assert(!plan(j).contains("NestedLoop"), s"keepleft=$kl keepright=$kr:\n${plan(j)}")
      assertSameRows(j, IntervalJoin.intervalJoin(spans, wins, "span",
        opts.copy(strategy = Strategy.Range)))
    }
    // the hint works from either side
    val flipped = assertLikeRange(wins, spans, Options())
    assert(!plan(flipped).contains("NestedLoop"))
  }

  test("a hint that no longer matches the frame costs speed, never a row") {
    val filtered = wins.where(pmod(col("idx"), lit(7L)) =!= 3L)
    val relabelled = wins.select((col("idx") * 10L).as("idx"), col("span").as("span"))
    val shifted = wins.union(QuantileWindows.quantileWindows(spark, 13, lo + 777, hi + 5555,
      "span", "idx"))
    // a frame of arbitrary spans carrying a fabricated grid
    val forged = spans.select(col("id").as("idx"), col("span").as("span",
      wins.schema("span").metadata))
    for ((name, frame) <- Seq("filtered" -> filtered, "relabelled" -> relabelled,
        "shifted union" -> shifted, "forged" -> forged)) {
      assert(QuantileWindows.gridOf(frame, "span").isDefined, name)
      val j = assertLikeRange(spans, frame, Options(renamecols = (_ + "_l", _ + "_r")))
      assert(!plan(j).contains("NestedLoop"), name)
    }
  }

  test("timestamp windows carry the grid in µs ticks") {
    val ts = spans.where(col("id") < 1000L).select(col("id"), struct(
      timestamp_micros(col("span.start")).as("start"),
      timestamp_micros(col("span.stop")).as("stop")).as("span"))
    val tw = QuantileWindows.quantileWindows(20, ts, "span", "idx")
    val Some((tlo, thi, tn)) = QuantileWindows.gridOf(tw, "span")
    val bounds = ts.agg(min(unix_micros(col("span.start"))), max(unix_micros(col("span.stop"))))
      .head()
    assert((tlo, thi, tn) == ((bounds.getLong(0), bounds.getLong(1), 20L)))
    val j = assertLikeRange(ts, tw, Options())
    assert(!plan(j).contains("NestedLoop"))
  }

  test("groupbyIntervalJoin(...).agg on hinted windows equals the Range aggregate") {
    def agg(opts: Options) = groupbyIntervalJoin(spans, wins, Seq(Selector.Name("idx")),
        "span" -> "span", opts)
      .agg(count(lit(1)).as("n"), sum(col("span.stop") - col("span.start")).as("covered"))
    val hinted = agg(Options())
    assert(!plan(hinted).contains("NestedLoop"))
    assertSameRows(hinted, agg(Options(strategy = Strategy.Range)))
  }

  test("an explicit binWidth skips the stats pass") {
    val plain = wins.select(col("idx"),
      struct(col("span.start").as("start"), col("span.stop").as("stop")).as("span"))
    assert(QuantileWindows.gridOf(plain, "span").isEmpty)
    // the edge rows run to Long.MaxValue: 700-tick cells would explode them
    val seeded = spans.where(col("id") < 1000L)
    val opts = Options(strategy = Strategy.Binned, binWidth = Some(700L))
    val (j, jobs) = jobsDuring(IntervalJoin.intervalJoin(seeded, plain, "span", opts))
    assert(jobs == 0, s"$jobs jobs at build")
    assertSameRows(j, IntervalJoin.intervalJoin(seeded, plain, "span",
      opts.copy(strategy = Strategy.Range)))
  }
}
