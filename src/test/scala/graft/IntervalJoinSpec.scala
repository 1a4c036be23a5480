package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.IntervalJoin
import graft.operators.IntervalJoin.{Options, Strategy}
import graft.operators.QuantileWindows._

/** Mirrors reference `test/runtests.jl:32-80`: oracle cross-check against a
  * direct nested-loop computation, invariants, outer variants, renames,
  * missing rejection, empty frames, strategy equivalence. */
class IntervalJoinSpec extends SparkSuite {

  lazy val df = fixture()
  lazy val quarters = quantileWindows(4, df, "span", "quarter")

  /** brute-force oracle: all (l, r) pairs with half-open overlap */
  def bruteCount(): Long = {
    val spans = df.select("span.start", "span.stop").collect().map(r => (r.getLong(0), r.getLong(1)))
    val wins = quarters.select("span.start", "span.stop").collect().map(r => (r.getLong(0), r.getLong(1)))
    spans.map(s => wins.count(w => s._1 < w._2 && w._1 < s._2).toLong).sum
  }

  test("inner join matches brute-force oracle; every span matched at least once") {
    val j = IntervalJoin.intervalJoin(df, quarters, "span")
    assert(j.count() == bruteCount())
    assert(j.count() >= df.count()) // windows cover the whole span
  }

  test("output columns: left, right (renamed on both sides), intersection last") {
    val j = IntervalJoin.intervalJoin(df, quarters, "span")
    assert(j.columns.toSeq == Seq("label", "x", "span_left", "quarter", "span_right", "span"))
  }

  test("invariant: per window, sum of intersection durations <= window duration") {
    val j = IntervalJoin.intervalJoin(df, quarters, "span")
    val bad = j.groupBy("quarter", "span_right")
      .agg(sum(col("span.stop") - col("span.start")).as("tot"))
      .where(col("tot") > col("span_right.stop") - col("span_right.start"))
    assert(bad.count() == 0)
  }

  test("intersection is contained in both inputs and non-empty (inner)") {
    val j = IntervalJoin.intervalJoin(df, quarters, "span")
    val bad = j.where(
      col("span.start") < greatest(col("span_left.start"), col("span_right.start")) ||
      col("span.stop") > least(col("span_left.stop"), col("span_right.stop")) ||
      col("span.start") >= col("span.stop"))
    assert(bad.count() == 0)
  }

  test("touching half-open intervals do not match") {
    import spark.implicits._
    val a = Seq((1L, 0L, 10L)).toDF("id", "s", "e").select(col("id"), struct(col("s").as("start"), col("e").as("stop")).as("span"))
    val b = Seq((2L, 10L, 20L)).toDF("id", "s", "e").select(col("id"), struct(col("s").as("start"), col("e").as("stop")).as("span"))
    assert(IntervalJoin.intervalJoin(a, b, "span", Options(makeunique = true)).count() == 0)
  }

  test("binned and sweep strategy result sets == range strategy result set") {
    val jr = IntervalJoin.intervalJoin(df, quarters, "span", Options(strategy = Strategy.Range))
    val jb = IntervalJoin.intervalJoin(df, quarters, "span", Options(strategy = Strategy.Binned))
    assertSameRows(jr, jb)
    // and with an adversarial tiny bin width (heavy replication)
    val jb2 = IntervalJoin.intervalJoin(df, quarters, "span",
      Options(strategy = Strategy.Binned, binWidth = Some(1000000L)))
    assertSameRows(jr, jb2)
    val js = IntervalJoin.intervalJoin(df, quarters, "span", Options(strategy = Strategy.Sweep))
    assertSameRows(jr, js)
    // a span wider than Long.MaxValue ticks: the binned stats pass must not
    // overflow, explicitly Binned or as Auto's big-side full outer join
    import spark.implicits._
    val wide = Seq((1L, Long.MinValue, Long.MaxValue), (2L, 5L, 10L)).toDF("id", "s", "e")
      .select(col("id"), struct(col("s").as("start"), col("e").as("stop")).as("span"))
    val self = Options(renamecols = (_ + "_a", _ + "_b"))
    for (o <- Seq(self.copy(strategy = Strategy.Binned),
        self.copy(keepleft = true, keepright = true, maxRangeRows = 0L)))
      assertSameRows(IntervalJoin.intervalJoin(wide, wide, "span", o.copy(strategy = Strategy.Range)),
        IntervalJoin.intervalJoin(wide, wide, "span", o))
  }

  test("keepleft: unmatched left rows survive with NULL right/intersection") {
    // windows over only the first half of the span -> later spans unmatched
    val Some((lo, hi)) = graft.intervals.IntervalCols.coveringSpan(df, "span")
    val halfWins = quantileWindows(spark, 2, lo, lo + (hi - lo) / 2, "span", "half")
    val j = IntervalJoin.intervalJoin(df, halfWins, "span", Options(keepleft = true))
    val unmatched = j.where(col("half").isNull)
    assert(unmatched.count() > 0)
    assert(unmatched.where(col("span").isNotNull || col("span_right").isNotNull).count() == 0)
    // matched + distinct-unmatched-left == all left rows
    val matchedLeft = j.where(col("half").isNotNull).select("span_left").distinct().count()
    val unmatchedLeft = unmatched.select("span_left").distinct().count()
    assert(matchedLeft + unmatchedLeft == df.select("span").distinct().count())
  }

  test("keepright: windows with no span keep NULL left side") {
    val few = df.limit(3)
    val j = IntervalJoin.intervalJoin(few, quantileWindows(1000, df, "span", "idx"),
      "span", Options(keepright = true))
    assert(j.where(col("label").isNull).count() > 0)
    assert(j.count() >= 1000)
  }

  test("binned outer strategies match range outer results (left/right/full)") {
    val Some((lo, hi)) = graft.intervals.IntervalCols.coveringSpan(df, "span")
    val halfWins = quantileWindows(spark, 40, lo, lo + (hi - lo) / 2, "span", "w")
    val few = df.where(col("x") < 0.3)
    for ((kl, kr) <- Seq((true, false), (false, true), (true, true))) {
      val o = Options(keepleft = kl, keepright = kr)
      assertSameRows(
        IntervalJoin.intervalJoin(few, halfWins, "span", o.copy(strategy = Strategy.Range)),
        IntervalJoin.intervalJoin(few, halfWins, "span", o.copy(strategy = Strategy.Binned)))
    }
  }

  test("keepleft+keepright = full outer; empty other side keeps rows (documented divergence)") {
    val empty = quarters.limit(0)
    val j = IntervalJoin.intervalJoin(df, empty, "span", Options(keepleft = true, keepright = true))
    assert(j.count() == df.count()) // reference would silently drop these
    assert(j.where(col("quarter").isNotNull).count() == 0)
  }

  test("renamecols/renameon surface") {
    val j = IntervalJoin.intervalJoin(df, quarters, "span", Options(
      renamecols = (_ + "_A", _ + "_B"),
      renameon = (_ + "_lo", _ + "_ro")))
    assert(j.columns.toSeq == Seq("label_A", "x_A", "span_lo", "quarter_B", "span_ro", "span"))
  }

  test("renameon clash with joined column errors like the reference") {
    val e = intercept[IllegalArgumentException] {
      IntervalJoin.intervalJoin(df, quarters, "span", Options(renameon = (identity, _ + "_r")))
    }
    assert(e.getMessage.contains("Interval join failed"))
  }

  test("duplicate payload names need makeunique") {
    val q2 = quarters.withColumn("label", lit("z"))
    intercept[IllegalArgumentException] {
      IntervalJoin.intervalJoin(df, q2, "span")
    }
    val j = IntervalJoin.intervalJoin(df, q2, "span", Options(makeunique = true))
    assert(j.columns.count(_.startsWith("label")) == 2)
    assert(j.columns.contains("label_1"))
  }

  test("different on names on each side") {
    val q2 = quarters.withColumnRenamed("span", "time_span")
    val j = IntervalJoin.intervalJoin(df, q2, "span" -> "time_span")
    assert(j.columns.contains("span_left") && j.columns.contains("time_span_right"))
    assert(j.count() == bruteCount())
  }

  test("NULL on values rejected with the reference's message") {
    val withNull = df.select(col("label"), col("x"),
      when(col("x") < lit(0.05), lit(null)).otherwise(col("span")).as("span"))
    val e = intercept[Exception] {
      IntervalJoin.intervalJoin(withNull, quarters, "span").count()
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("There are missing values in the left table")))
  }

  test("empty inputs: schema preserved") {
    val j = IntervalJoin.intervalJoin(df.limit(0), quarters, "span")
    assert(j.count() == 0)
    assert(j.columns.toSeq == Seq("label", "x", "span_left", "quarter", "span_right", "span"))
  }

  test("non-struct on column rejected at plan time with a helpful message") {
    import spark.implicits._
    val bad = Seq((1L, 2L)).toDF("id", "span")
    val e = intercept[IllegalArgumentException] {
      IntervalJoin.intervalJoin(bad, quarters, "span")
    }
    assert(e.getMessage.contains("must be a struct<start,stop>"))
  }

  test("Auto strategy: small side -> theta/broadcast; big-big -> sweep (inner) / binned (outer)") {
    // a fresh struct carries no grid hint: the small side broadcasts
    val plain = quarters.select(col("quarter"),
      struct(col("span.start").as("start"), col("span.stop").as("stop")).as("span"))
    val small = IntervalJoin.intervalJoin(df, plain, "span")
    assert(small.queryExecution.executedPlan.toString.contains("NestedLoop"))
    // quantileWindows' own span column carries its grid: binned, no nested loop
    val hinted = IntervalJoin.intervalJoin(df, quarters, "span").queryExecution.executedPlan
      .toString
    assert(hinted.contains("sequence(") && !hinted.contains("NestedLoop"), hinted.take(500))
    // force tiny broadcast threshold so both sides count as big
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
      val big = IntervalJoin.intervalJoin(df, df, "span",
        Options(renamecols = (_ + "_a", _ + "_b")))
      val plan = big.queryExecution.executedPlan.toString
      assert(plan.contains("MapPartitions"), s"expected sweep plan:\n${plan.take(500)}")
      assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"))
      val bigOuter = IntervalJoin.intervalJoin(df, df, "span",
        Options(renamecols = (_ + "_a", _ + "_b"), keepleft = true))
      val planO = bigOuter.queryExecution.executedPlan.toString
      assert(planO.contains("sequence("), s"expected binned outer plan:\n${planO.take(500)}")
      assert(!planO.contains("NestedLoop") && !planO.contains("Cartesian"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("adversarial skew: heavily stacked intervals still join correctly") {
    import spark.implicits._
    // 300 intervals all overlapping the same hot region + 50 spread out
    val hot = (0 until 300).map(i => (i.toLong, 1000L + i, 2000L + i))
    val cold = (0 until 50).map(i => (1000L + i, 100000L * (i + 1), 100000L * (i + 1) + 10L))
    val d = (hot ++ cold).toDF("id", "s", "e")
      .select(col("id"), struct(col("s").as("start"), col("e").as("stop")).as("span"))
    val expected = {
      val xs = (hot ++ cold)
      (for { a <- xs; b <- xs if a._2 < b._3 && b._2 < a._3 } yield 1).size.toLong
    }
    val got = IntervalJoin.intervalJoin(d, d, "span",
      Options(renamecols = (_ + "_a", _ + "_b"), strategy = Strategy.Binned)).count()
    assert(got == expected)
    // the sweep handles the same hot region (identical starts collapse the
    // sampled bounds; a degenerate single range is still correct)
    val gotSweep = IntervalJoin.intervalJoin(d, d, "span",
      Options(renamecols = (_ + "_a", _ + "_b"), strategy = Strategy.Sweep)).count()
    assert(gotSweep == expected)
  }

  test("checkMissing=false: NULL intervals drop from inner joins in every strategy") {
    val withNull = df.select(col("label"), col("x"),
      when(col("x") < lit(0.2), lit(null)).otherwise(col("span")).as("span"))
    val expected = IntervalJoin.intervalJoin(withNull.where(col("span").isNotNull),
      quarters, "span").count()
    for (strat <- Seq(Strategy.Range, Strategy.Binned, Strategy.Sweep)) {
      val n = IntervalJoin.intervalJoin(withNull, quarters, "span",
        Options(strategy = strat, checkMissing = false)).count()
      assert(n == expected, s"$strat")
    }
    // outer joins keep a NULL-`on` row with a NULL `on` and a NULL
    // intersection, in every interval form
    import spark.implicits._
    import graft.intervals.BoundedIntervals.bounded
    val ids = Seq((1L, 0L, 10L), (2L, 5L, 6L)).toDF("id", "s", "e")
    val ts = (c: String) => timestamp_micros(col(c))
    val forms = Seq(
      "long" -> (struct(col("s").as("start"), col("e").as("stop")),
        struct(lit(0L).as("start"), lit(100L).as("stop"))),
      "timestamp" -> (struct(ts("s").as("start"), ts("e").as("stop")),
        struct(timestamp_micros(lit(0L)).as("start"), timestamp_micros(lit(100L)).as("stop"))),
      "bounded" -> (bounded(col("s"), col("e"), lit(true), lit(false)),
        struct(lit(0L).as("start"), lit(100L).as("stop"))))
    for ((form, (l, r)) <- forms; strat <- Seq(Strategy.Range, Strategy.Binned)) {
      val left = ids.select(col("id"), when(col("id") === 2L, lit(null)).otherwise(l).as("span"))
      val right = ids.limit(1).select(col("id").as("rid"), r.as("span"))
      val rows = IntervalJoin.intervalJoin(left, right, "span",
          Options(strategy = strat, keepleft = true, checkMissing = false))
        .where(col("id") === 2L).collect()
      assert(rows.length == 1, s"$form $strat")
      for (c <- Seq("span_left", "rid", "span"))
        assert(rows.head.isNullAt(rows.head.fieldIndex(c)), s"$form $strat: $c is not NULL")
    }
  }

  test("sweep strategy: empty inputs and empty-one-side") {
    val opts = Options(strategy = Strategy.Sweep)
    assert(IntervalJoin.intervalJoin(df.limit(0), quarters, "span", opts).count() == 0)
    assert(IntervalJoin.intervalJoin(df, quarters.limit(0), "span",
      Options(strategy = Strategy.Sweep, makeunique = true)).count() == 0)
    assert(IntervalJoin.intervalJoin(df.limit(0), quarters.limit(0), "span", opts).count() == 0)
  }

  test("reversed/empty intervals match nothing in every strategy, survive outer") {
    import spark.implicits._
    // one good interval, one zero-length, one reversed (corrupt) — the
    // reversed row must NOT explode into a descending bin sequence
    val d = Seq((1L, 100L, 200L), (2L, 150L, 150L), (3L, 500L, 120L))
      .toDF("id", "s", "e")
      .select(col("id"), struct(col("s").as("start"), col("e").as("stop")).as("span"))
    val r = Seq((10L, 0L, 1000L)).toDF("rid", "s", "e")
      .select(col("rid"), struct(col("s").as("start"), col("e").as("stop")).as("span"))
    for (strat <- Seq(Strategy.Range, Strategy.Binned)) {
      val inner = IntervalJoin.intervalJoin(d, r, "span",
        Options(strategy = strat, binWidth = Some(1L)))
      assert(inner.count() == 1, s"$strat inner")   // only id=1 overlaps
      val outer = IntervalJoin.intervalJoin(d, r, "span",
        Options(strategy = strat, binWidth = Some(1L), keepleft = true))
      assert(outer.count() == 3, s"$strat keepleft") // ids 2,3 kept unmatched
      assert(outer.where(col("rid").isNull).select("id").as[Long].collect().toSet == Set(2L, 3L))
    }
  }

  test("reversed struct field order is normalized") {
    val rev = df.select(col("label"), col("x"),
      struct(col("span.stop").as("stop"), col("span.start").as("start")).as("span"))
    val j = IntervalJoin.intervalJoin(rev, quarters, "span")
    assert(j.count() == bruteCount())
    val f = j.schema("span").dataType.asInstanceOf[StructType].fieldNames.toSeq
    assert(f == Seq("start", "stop"))
  }

  test("stab join matches brute-force point-in-interval; strategies agree") {
    import spark.implicits._
    val pts = df.select(col("span.start").as("t"), col("x").as("px"))
    // brute force: t in [s, e) half-open
    val spans = quarters.select("span.start", "span.stop").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expected = pts.select("t").as[Long].collect()
      .map(t => spans.count(w => t >= w._1 && t < w._2).toLong).sum
    val j = IntervalJoin.stabJoin(pts, quarters, "t" -> "span")
    assert(j.count() == expected)
    // output: point columns kept as-is, no synthetic span, no intersection
    assert(j.columns.toSeq == Seq("t", "px", "quarter", "span_right"))
    // binned strategy agrees with the default plan
    val b = IntervalJoin.stabJoin(pts, quarters, "t" -> "span",
      Options(strategy = Strategy.Binned))
    assert(collectSorted(b) == collectSorted(j))
    // each point lies inside its matched window
    assert(j.where(col("t") < col("span_right.start") ||
      col("t") >= col("span_right.stop")).count() == 0)
  }

  test("stab join: keepleft keeps unmatched points; float points rejected") {
    val pts = df.select((col("span.stop") + lit(1L)).as("t")) // beyond its own span
    val maxStop = quarters.agg(max(col("span.stop"))).head().getLong(0)
    val out = IntervalJoin.stabJoin(pts, quarters, "t" -> "span",
      Options(keepleft = true))
    // the point one past the global max stop matches nothing but survives
    assert(out.where(col("quarter").isNull).count() ==
      pts.where(col("t") >= maxStop).count())
    val err = intercept[IllegalArgumentException] {
      IntervalJoin.stabJoin(df.select(col("x")), quarters, "x" -> "span")
    }
    assert(err.getMessage.contains("integral or timestamp"))
  }

  test("stab join: Long.MaxValue point raises instead of silently vanishing") {
    import spark.implicits._
    // t+1 would wrap to Long.MinValue — a reversed span every strategy
    // silently drops; the lift must raise so the point can't just vanish
    val pts = Seq(Long.MaxValue, 25L).toDF("t")
    val e = intercept[Exception] {
      IntervalJoin.stabJoin(pts, quarters, "t" -> "span").count()
    }
    assert(e.getMessage.contains("9223372036854775807"))
    // points clear of the edge are unaffected
    val ok = IntervalJoin.stabJoin(Seq(Long.MaxValue - 1L, 25L).toDF("t"),
      quarters, "t" -> "span", Options(keepleft = true))
    assert(ok.count() >= 2)
  }
}
