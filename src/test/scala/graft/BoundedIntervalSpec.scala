package graft

import org.apache.spark.sql.functions._
import graft.intervals.BoundedIntervals._

/** Bound-flag interval algebra (reference `Interval{T,L,R}`, README.md:29's
  * Closed-Closed example): overlap and intersection honor Open/Closed
  * endpoints; a brute-force rational-point oracle pins every combination. */
class BoundedIntervalSpec extends SparkSuite {
  import spark.implicits._

  private def mk(rows: Seq[(Long, Long, Long, Boolean, Boolean)], name: String) =
    rows.toDF("id", "s", "e", "l", "r").select(col("id").as(s"${name}_id"),
      bounded(col("s"), col("e"), col("l"), col("r")).as(name))

  test("touching intervals: only Closed-meets-Closed matches") {
    for {
      aR <- Seq(true, false); bL <- Seq(true, false)
    } {
      val a = mk(Seq((1L, 0L, 10L, true, aR)), "a")
      val b = mk(Seq((2L, 10L, 20L, bL, false)), "b")
      val n = a.join(b, overlapsBounded(col("a"), col("b"))).count()
      assert((n == 1) == (aR && bL), s"aR=$aR bL=$bL")
    }
  }

  test("Closed-Closed join reproduces the reference README example semantics") {
    // [1,3] vs [3,5]: touching closed bounds DO match (unlike half-open)
    val a = mk(Seq((1L, 1L, 3L, true, true)), "a")
    val b = mk(Seq((2L, 3L, 5L, true, true)), "b")
    val j = a.join(b, overlapsBounded(col("a"), col("b")))
      .select(intersectBounded(col("a"), col("b")).as("i"))
    val i = j.head()
    val st = i.getStruct(0)
    assert(st.getLong(0) == 3L && st.getLong(1) == 3L)
    assert(st.getBoolean(2) && st.getBoolean(3)) // [3,3] — a valid point set
    assert(j.select(nonEmpty(col("i"))).head().getBoolean(0))
  }

  test("degenerate intervals: [a,a] closed-closed is a point; all else empty") {
    val pt = mk(Seq((1L, 5L, 5L, true, true)), "a")
    val host = mk(Seq((2L, 0L, 10L, true, false)), "b")
    assert(pt.join(host, overlapsBounded(col("a"), col("b"))).count() == 1)
    for ((l, r) <- Seq((true, false), (false, true), (false, false))) {
      val empt = mk(Seq((1L, 5L, 5L, l, r)), "a")
      assert(empt.join(host, overlapsBounded(col("a"), col("b"))).count() == 0, s"$l$r")
    }
  }

  test("intervalJoin accepts bounded intervals: touching closed bounds match, flags merge") {
    import graft.operators.IntervalJoin
    // [1,3] CC vs windows: touches [3,5] CC (matches) and [0,1] CO (start
    // touch at 1: window rclosed=false -> no match)
    val l = mk(Seq((1L, 1L, 3L, true, true)), "a")
    val r = mk(Seq((10L, 3L, 5L, true, true), (11L, 0L, 1L, true, false)), "b")
    val j = IntervalJoin.intervalJoin(l, r, "a" -> "b")
    val rows = j.collect()
    assert(rows.length == 1 && rows.head.getAs[Long]("b_id") == 10L)
    val ix = rows.head.getStruct(rows.head.fieldIndex("a"))
    assert(ix.getLong(0) == 3L && ix.getLong(1) == 3L && ix.getBoolean(2) && ix.getBoolean(3))
    // column contract: renameon defaults, joined column keeps left's name
    assert(j.columns.toSeq == Seq("a_id", "a_left", "b_id", "b_right", "a"))
  }

  test("intervalJoin lifts a plain half-open side against a bounded side") {
    import graft.operators.IntervalJoin
    import graft.intervals.IntervalCols
    import org.apache.spark.sql.functions.col
    val plain = Seq((1L, 0L, 10L)).toDF("pid", "s", "e")
      .select(col("pid"), IntervalCols.interval(col("s"), col("e")).as("span"))
    // [10,20] CC touches [0,10) only at 10, which the half-open left excludes
    val b1 = mk(Seq((2L, 10L, 20L, true, true)), "win")
    assert(IntervalJoin.intervalJoin(plain, b1, "span" -> "win").count() == 0)
    // [9,20] CC overlaps on [9,10); left is plain -> intersection is plain
    val b2 = mk(Seq((3L, 9L, 20L, true, true)), "win")
    val row = IntervalJoin.intervalJoin(plain, b2, "span" -> "win").collect().head
    val ix = row.getStruct(row.fieldIndex("span"))
    assert(ix.schema.fieldNames.toSeq == Seq("start", "stop"))
    assert(ix.getLong(0) == 9L && ix.getLong(1) == 10L)
  }

  test("bounded OUTER joins: unmatched rows get NULL other side AND NULL intersection") {
    import graft.operators.IntervalJoin
    import graft.operators.IntervalJoin.Options
    import graft.intervals.IntervalCols
    import org.apache.spark.sql.functions.col
    // plain left x bounded right, keepright: the unmatched right row's
    // intersection must be NULL — a non-NULL-preserving lift would fabricate
    // struct(NULL,NULL,true,false) and greatest/least would skip the NULLs,
    // echoing the right row's own interval as the "intersection"
    val plain = Seq((1L, 0L, 10L)).toDF("pid", "s", "e")
      .select(col("pid"), IntervalCols.interval(col("s"), col("e")).as("span"))
    val b = mk(Seq((2L, 5L, 8L, true, true), (3L, 100L, 200L, true, true)), "win")
    val j = IntervalJoin.intervalJoin(plain, b, ("span", "win"),
      Options(keepright = true)).collect()
    assert(j.length == 2)
    val unmatched = j.find(r => r.getAs[Long]("win_id") == 3L).get
    assert(unmatched.isNullAt(unmatched.fieldIndex("pid")))
    assert(unmatched.isNullAt(unmatched.fieldIndex("span")), "intersection must be NULL")
    val matched = j.find(r => r.getAs[Long]("win_id") == 2L).get
    val ix = matched.getStruct(matched.fieldIndex("span"))
    assert(ix.getLong(0) == 5L && ix.getLong(1) == 8L)
    // symmetric: bounded left x plain right, keepleft
    val j2 = IntervalJoin.intervalJoin(b.withColumnRenamed("win_id", "bid"), plain,
      ("win", "span"), Options(keepleft = true)).collect()
    val un2 = j2.find(r => r.getAs[Long]("bid") == 3L).get
    assert(un2.isNullAt(un2.fieldIndex("win")), "bounded-left intersection must be NULL")
  }

  test("bounded joins give Range's rows on the sweep; mismatched endpoint types are rejected") {
    import graft.operators.IntervalJoin
    import graft.operators.IntervalJoin.{Options, Strategy}
    val l = mk(Seq((1L, 1L, 3L, true, true)), "a")
    val r = mk(Seq((10L, 3L, 5L, true, true)), "b")
    def rows(strategy: Strategy) =
      collectSorted(IntervalJoin.intervalJoin(l, r, ("a", "b"), Options(strategy = strategy)))
    assert(rows(Strategy.Range).length == 1)
    assert(rows(Strategy.Sweep) == rows(Strategy.Range))
    val rd = Seq((10L, 3.0, 5.0, true, true)).toDF("b_id", "s", "e", "l", "r")
      .select(col("b_id"), bounded(col("s"), col("e"), col("l"), col("r")).as("b"))
    val e2 = intercept[IllegalArgumentException] {
      IntervalJoin.intervalJoin(l, rd, "a" -> "b")
    }
    assert(e2.getMessage.contains("ONE endpoint type"))
  }

  test("endpoints without an order-preserving tick key join on Range; forced Binned says why") {
    import graft.operators.IntervalJoin
    import graft.operators.IntervalJoin.{Options, Strategy}
    def strs(rows: Seq[(Long, String, String, Boolean, Boolean)], name: String) =
      rows.toDF("id", "s", "e", "l", "r").select(col("id").as(s"${name}_id"),
        bounded(col("s"), col("e"), col("l"), col("r")).as(name))
    val a = strs(Seq((1L, "a", "c", true, true), (2L, "d", "f", false, true),
      (3L, "x", "z", true, true)), "a")
    val b = strs(Seq((10L, "c", "e", true, false)), "b")
    // [a,c] touches [c,e) on two closed bounds; (d,f] overlaps it on (d,e)
    val j = IntervalJoin.intervalJoin(a, b, "a" -> "b")
    assert(j.select("a_id").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    val e = intercept[IllegalArgumentException] {
      IntervalJoin.intervalJoin(a, b, ("a", "b"), Options(strategy = Strategy.Binned))
    }
    assert(e.getMessage.contains("string interval endpoints have none") &&
      e.getMessage.contains("Strategy.Range"))
  }

  test("open gaps between consecutive keys and the closed point at Long.MaxValue join on every strategy") {
    import graft.operators.IntervalJoin
    import graft.operators.IntervalJoin.{Options, Strategy}
    val top = Long.MaxValue
    // (0,3) and (2,5) open share the gap (2,3); (1,2) open is the gap (1,2)
    val a = mk(Seq((1L, 0L, 3L, false, false), (2L, 1L, 2L, false, false),
      (3L, top, top, true, true)), "a")
    val b = mk(Seq((10L, 2L, 5L, false, false), (11L, 1L, 2L, false, false),
      (12L, top - 1, top, true, true), (13L, top - 1, top, true, false),
      (14L, 0L, top, false, true)), "b")
    val expected = Seq((1L, 10L), (1L, 11L), (1L, 14L), (2L, 11L), (2L, 14L), (3L, 12L), (3L, 14L))
    for (strategy <- Seq(Strategy.Range, Strategy.Binned, Strategy.Sweep, Strategy.Auto)) {
      val got = IntervalJoin.intervalJoin(a, b, ("a", "b"), Options(strategy = strategy))
        .select("a_id", "b_id").as[(Long, Long)].collect().sorted.toSeq
      assert(got == expected, s"$strategy")
    }
  }

  test("property: bounded BINNED outer joins == range outer joins on random bound combos") {
    import graft.operators.IntervalJoin
    import graft.operators.IntervalJoin.{Options, Strategy}
    val rng = new scala.util.Random(97L)
    // sparse region (80..) guarantees unmatched rows on both sides; points
    // and touching ends exercise the inclusive-stop bins; degenerate
    // half-open [a,a) rows must survive as unmatched under outer semantics
    def rows(base: Long) = (1L to 60L).map { i =>
      val s = rng.nextInt(100).toLong
      val e = s + rng.nextInt(10).toLong
      (base + i, s, e, rng.nextBoolean(), rng.nextBoolean())
    }
    val a = mk(rows(0L), "a")
    val b = mk(rows(1000L), "b")
    for ((kl, kr) <- Seq((true, false), (false, true), (true, true))) {
      def result(o: Options) =
        IntervalJoin.intervalJoin(a, b, ("a", "b"), o)
          .select(col("a_id"), col("b_id"), col("a.start"), col("a.lclosed"))
          .collect().map(_.toSeq).toSet
      val range = result(Options(strategy = Strategy.Range, keepleft = kl, keepright = kr))
      val binned = result(Options(strategy = Strategy.Binned, binWidth = Some(7L),
        keepleft = kl, keepright = kr))
      assert(binned == range,
        s"kl=$kl kr=$kr: binned ${binned.size} vs range ${range.size}")
    }
  }

  test("Auto plans no BNLJ for a big-big bounded OUTER join") {
    import graft.operators.IntervalJoin
    import graft.operators.IntervalJoin.Options
    val rng = new scala.util.Random(5L)
    def rows(base: Long) = (1L to 200L).map { i =>
      val s = rng.nextInt(500).toLong
      (base + i, s, s + rng.nextInt(8).toLong, rng.nextBoolean(), rng.nextBoolean())
    }
    val a = mk(rows(0L), "a")
    val b = mk(rows(10000L), "b")
    // maxRangeRows=0 makes every side "big" for Auto, the shape a genuinely
    // large pair of inputs produces; the plan must be the binned equi-join,
    // never a nested loop
    val j = IntervalJoin.intervalJoin(a, b, ("a", "b"),
      Options(keepleft = true, keepright = true, maxRangeRows = 0L))
    val plan = j.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") && !plan.contains("CartesianProduct"),
      s"bounded outer Auto fell into a nested loop:\n$plan")
    assert(j.count() > 0)
  }

  test("property: bounded BINNED inner join == range join on random bound combos") {
    import graft.operators.IntervalJoin
    import graft.operators.IntervalJoin.{Options, Strategy}
    val rng = new scala.util.Random(42L)
    // dense random intervals incl. points and touching ends so the
    // inclusive-stop binning and bound-sensitive residual both matter;
    // a small explicit binWidth forces many cross-bin spans
    val rows = (1L to 120L).map { i =>
      val s = rng.nextInt(40).toLong
      val e = s + rng.nextInt(12).toLong // points (e == s) included
      (i, s, e, rng.nextBoolean(), rng.nextBoolean())
    }
    val a = mk(rows, "a")
    val b = mk(rows.map { case (i, s, e, lc, rc) => (i + 1000L, s, e, lc, rc) }, "b")
    def pairs(o: Options) =
      IntervalJoin.intervalJoin(a, b, ("a", "b"), o)
        .select(col("a_id"), col("b_id"), col("a.start"), col("a.stop"),
          col("a.lclosed"), col("a.rclosed"))
        .collect().map(_.toSeq).toSet
    val range = pairs(Options(strategy = Strategy.Range))
    val binned = pairs(Options(strategy = Strategy.Binned, binWidth = Some(5L)))
    assert(binned == range, s"binned ${binned.size} vs range ${range.size}")
    // mixed plain x bounded also agrees across strategies
    val plain = rows.map { case (i, s, e, _, _) => (i, s, e) }.toDF("pid", "s", "e")
      .select(col("pid"), graft.intervals.IntervalCols.interval(col("s"), col("e")).as("span"))
    def mixedPairs(o: Options) =
      IntervalJoin.intervalJoin(plain, b, ("span", "b"), o)
        .select(col("pid"), col("b_id")).collect().map(_.toSeq).toSet
    assert(mixedPairs(Options(strategy = Strategy.Binned, binWidth = Some(5L))) ==
      mixedPairs(Options(strategy = Strategy.Range)))
  }

  test("float endpoints join alike on every strategy; mixed float/integral sides error") {
    import graft.operators.IntervalJoin
    import graft.operators.IntervalJoin.{Options, Strategy}
    import graft.intervals.IntervalCols
    val l = Seq((1L, 0.5, 2.5), (2L, 3.0, 4.0)).toDF("lid", "s", "e")
      .select(col("lid"), IntervalCols.interval(col("s"), col("e")).as("span"))
    val r = Seq((10L, 2.0, 3.5)).toDF("rid", "s", "e")
      .select(col("rid"), IntervalCols.interval(col("s"), col("e")).as("win"))
    val j = IntervalJoin.intervalJoin(l, r, "span" -> "win").collect()
    // [0.5,2.5) x [2.0,3.5) -> [2.0,2.5); [3.0,4.0) x [2.0,3.5) -> [3.0,3.5)
    assert(j.length == 2)
    val byId = j.map(row => row.getAs[Long]("lid") ->
      row.getStruct(row.fieldIndex("span"))).toMap
    assert(byId(1L).getDouble(0) == 2.0 && byId(1L).getDouble(1) == 2.5)
    assert(byId(2L).getDouble(0) == 3.0 && byId(2L).getDouble(1) == 3.5)
    for (strategy <- Seq(Strategy.Binned, Strategy.Sweep))
      assert(collectSorted(IntervalJoin.intervalJoin(l, r, ("span", "win"),
        Options(strategy = strategy))) == collectSorted(IntervalJoin.intervalJoin(l, r, "span" -> "win")))
    // float FLOAT side vs DOUBLE side: both floating -> widened, joins fine
    val rf = Seq((10L, 2.0f, 3.5f)).toDF("rid", "s", "e")
      .select(col("rid"), IntervalCols.interval(col("s"), col("e")).as("win"))
    assert(IntervalJoin.intervalJoin(l, rf, "span" -> "win").count() == 2)
    // mixed float/integral endpoints are ambiguous -> error
    val ri = Seq((10L, 2L, 4L)).toDF("rid", "s", "e")
      .select(col("rid"), IntervalCols.interval(col("s"), col("e")).as("win"))
    val e2 = intercept[IllegalArgumentException] {
      IntervalJoin.intervalJoin(l, ri, "span" -> "win")
    }
    assert(e2.getMessage.contains("cannot mix floating and integral"))
  }

  test("overlap and intersection match a dense-point oracle over all 16 bound combos") {
    // work on a x2 integer grid so bound openness = grid-point membership:
    // interval [s,e] with flags covers 2s..2e minus open endpoints
    def points(s: Long, e: Long, lcl: Boolean, rcl: Boolean): Set[Long] = {
      val all = (2 * s).to(2 * e).toSet
      val minusL = if (lcl) all else all - (2 * s)
      if (rcl) minusL else minusL - (2 * e)
    }
    val combos = for {
      lcl <- Seq(true, false); rcl <- Seq(true, false)
    } yield (lcl, rcl)
    val fixtures = for {
      ((alc, arc), i) <- combos.zipWithIndex
      ((blc, brc), j) <- combos.zipWithIndex
      ((as, ae, bs, be), shape) <- Seq((0L, 4L, 2L, 6L), (0L, 4L, 4L, 8L), (0L, 4L, 5L, 9L),
        (0L, 4L, 0L, 4L), (2L, 2L, 0L, 4L)).zipWithIndex
    } yield (i * 1000L + j * 10L + shape, as, ae, alc, arc, bs, be, blc, brc)
    val a = mk(fixtures.map(f => (f._1, f._2, f._3, f._4, f._5)), "a")
    val b = mk(fixtures.map(f => (f._1, f._6, f._7, f._8, f._9)), "b")
    val joined = a.join(b, col("a_id") === col("b_id"))
      .select(col("a_id"),
        overlapsBounded(col("a"), col("b")).as("ov"),
        intersectBounded(col("a"), col("b")).as("ix"))
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getStruct(2)))).toMap
    fixtures.foreach { f =>
      val pa = points(f._2, f._3, f._4, f._5)
      val pb = points(f._6, f._7, f._8, f._9)
      val inter = pa & pb
      val (ov, ix) = joined(f._1)
      assert(ov == inter.nonEmpty, s"overlap mismatch for $f")
      if (ov) {
        val ixPts = points(ix.getLong(0), ix.getLong(1), ix.getBoolean(2), ix.getBoolean(3))
        assert(ixPts == inter, s"intersection mismatch for $f: $ixPts vs $inter")
      }
    }
  }
}
