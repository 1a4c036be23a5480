package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.intervals.IntervalCols
import graft.operators.{GroupedIntervalJoin, IntervalJoin, QuantileWindows}
import graft.operators.IntervalJoin.{Options, Strategy}
import graft.operators.GroupedIntervalJoin.Selector
import QueryFixtures._

/** Interval queries: quantile windows, interval joins (inner, outer,
  * timestamp, bounded, float, stab, near, semi/anti), grouped joins,
  * interval-set algebra, sessionization and as-of joins, over the
  * `event_spans` and `order_spans` fixtures (FIXTURES.md). */
private[graft] object IntervalQueries {

  /** Interval fixture: per user, consecutive event timestamps become
    * half-open spans (FIXTURES.md `event_spans`). */
  private def eventSpans(spark: SparkSession, dir: String): DataFrame = {
    val ev = table(spark, dir, "events")
      // DuckDB (the oracle) reads Parquet TIMESTAMP(NANOS) at µs precision;
      // truncate to µs boundaries so both engines see identical longs.
      .withColumn("tsq", expr("unix_micros(cast(ts as timestamp)) * 1000"))
    val w = Window.partitionBy("user_id").orderBy("tsq", "event_id")
    ev.select(col("user_id"), col("event_type"), col("value"), col("tsq").as("st"),
        lead("tsq", 1).over(w).as("en"))
      .where(col("en").isNotNull)
      .select(col("user_id"), col("event_type"), col("value"),
        IntervalCols.interval(col("st"), col("en")).as("span"))
  }

  private val esSql =
    """es0 AS (
      |  SELECT user_id, event_type, value, epoch_ns(ts) AS s,
      |         epoch_ns(lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) AS e
      |  FROM events),
      |es AS (SELECT * FROM es0 WHERE e IS NOT NULL)""".stripMargin

  /** Interval fixture over orders: span = [orderdate, orderdate + (1..30) days)
    * with a deterministic per-key width (FIXTURES.md `order_spans`). */
  private def orderSpans(spark: SparkSession, dir: String): DataFrame = {
    // o_orderdate is TIMESTAMP_NTZ; session TZ is pinned UTC so the cast is
    // lossless and epoch_us(naive) on the DuckDB side agrees.
    val startNs = unix_micros(col("o_orderdate").cast("timestamp")) * 1000L
    table(spark, dir, "orders").select(
      col("o_orderkey"),
      IntervalCols.interval(
        startNs,
        startNs + (pmod(col("o_orderkey"), lit(30L)) + 1L) * lit(86400000000000L)).as("span"))
  }

  private val osSql =
    """os AS (
      |  SELECT o_orderkey, epoch_us(o_orderdate)*1000 AS s,
      |         epoch_us(o_orderdate)*1000 + ((o_orderkey % 30)+1)*86400000000000 AS e
      |  FROM orders)""".stripMargin

  /** DuckDB CTE emitting the same integer-exact quantile windows as
    * [[QuantileWindows]]: b(i) = lo + i*(W//n) + (i*(W%n))//n. */
  private def winSql(n: Int, loExpr: String, hiExpr: String, src: String): String =
    s"""sp AS (SELECT $loExpr AS lo, $hiExpr AS hi FROM $src),
       |win AS (SELECT i + 1 AS idx,
       |               lo + i*((hi-lo)//$n) + (i*((hi-lo)%$n))//$n AS ws,
       |               lo + (i+1)*((hi-lo)//$n) + ((i+1)*((hi-lo)%$n))//$n AS we
       |        FROM sp, range($n) t(i))""".stripMargin

  /** Two deterministic per-custkey interval sets for the set-algebra queries:
    * A = order spans (as q28), B = the same orders shifted +10 days with a
    * (o_orderkey % 45)+1 day width. */
  private def setOpFixtures(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val startNs = unix_micros(col("o_orderdate").cast("timestamp")) * 1000L
    val day = 86400000000000L
    val o = table(spark, dir, "orders")
    val a = o.select(col("o_custkey"),
      IntervalCols.interval(startNs,
        startNs + (pmod(col("o_orderkey"), lit(30L)) + 1L) * lit(day)).as("span"))
    val b = o.select(col("o_custkey"),
      IntervalCols.interval(startNs + lit(10L * day),
        startNs + lit(10L * day) +
          (pmod(col("o_orderkey"), lit(45L)) + 1L) * lit(day)).as("span"))
    (a, b)
  }

  /** DuckDB replica of the set-algebra boundary sweep (same fixtures). */
  private def setOpSql(pred: String, sCol: String, eCol: String) =
    s"""WITH A AS (
       |  SELECT o_custkey AS k, epoch_us(o_orderdate)*1000 AS s,
       |         epoch_us(o_orderdate)*1000 + ((o_orderkey % 30)+1)*86400000000000 AS e
       |  FROM orders),
       |B AS (
       |  SELECT o_custkey AS k, epoch_us(o_orderdate)*1000 + 10*86400000000000 AS s,
       |         epoch_us(o_orderdate)*1000 + 10*86400000000000
       |           + ((o_orderkey % 45)+1)*86400000000000 AS e
       |  FROM orders),
       |ev AS (
       |  SELECT k, s AS pos, 1 AS da, 0 AS db FROM A WHERE s < e
       |  UNION ALL SELECT k, e, -1, 0 FROM A WHERE s < e
       |  UNION ALL SELECT k, s, 0, 1 FROM B WHERE s < e
       |  UNION ALL SELECT k, e, 0, -1 FROM B WHERE s < e),
       |g AS (SELECT k, pos, sum(da) AS da, sum(db) AS db FROM ev GROUP BY k, pos),
       |c AS (SELECT k, pos,
       |             sum(da) OVER w AS ca, sum(db) OVER w AS cb,
       |             lead(pos) OVER (PARTITION BY k ORDER BY pos) AS nxt
       |      FROM g WINDOW w AS (PARTITION BY k ORDER BY pos ROWS UNBOUNDED PRECEDING)),
       |seg AS (SELECT k, pos AS s, nxt AS e FROM c
       |        WHERE nxt IS NOT NULL AND pos < nxt AND $pred),
       |m AS (SELECT k, s, e,
       |             max(e) OVER (PARTITION BY k ORDER BY s, e
       |                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS rmax
       |      FROM seg),
       |gg AS (SELECT k, s, e,
       |              sum(CASE WHEN rmax IS NULL OR s > rmax THEN 1 ELSE 0 END)
       |                OVER (PARTITION BY k ORDER BY s, e ROWS UNBOUNDED PRECEDING) AS grp
       |       FROM m)
       |SELECT k AS o_custkey, min(s) AS $sCol, max(e) AS $eCol
       |FROM gg GROUP BY k, grp""".stripMargin

  private def windowsOver(df: DataFrame, n: Int, label: String): DataFrame =
    QuantileWindows.quantileWindows(n, df, "span", label)

  /** Flatten a join output's intersection struct to istart/istop longs. */
  private def flat(j: DataFrame, cols: String*): DataFrame =
    j.select(cols.map(col) :+ col("span.start").as("istart") :+ col("span.stop").as("istop"): _*)

  val defs: Seq[QueryDef] = Seq(
    // I5+I6: window generation over the covering span of event spans
    QueryDef("q01_quantile_windows", (sp, dir) => {
      windowsOver(eventSpans(sp, dir), 1000, "idx")
        .select(col("idx"), col("span.start").as("ws"), col("span.stop").as("we"))
    },
      s"""WITH $esSql, ${winSql(1000, "min(s)", "max(e)", "es")}
         |SELECT idx, ws, we FROM win""".stripMargin),

    // I1+I4: inner overlap join, intersection column
    QueryDef("q02_interval_join_inner", (sp, dir) => {
      val es = eventSpans(sp, dir)
      val j = IntervalJoin.intervalJoin(es, windowsOver(es, 100, "idx"), "span")
      flat(j, "idx", "user_id", "event_type", "value")
    },
      s"""WITH $esSql, ${winSql(100, "min(s)", "max(e)", "es")}
         |SELECT idx, user_id, event_type, value,
         |       greatest(s, ws) AS istart, least(e, we) AS istop
         |FROM es JOIN win ON s < we AND ws < e""".stripMargin),

    // I2 keepleft: windows over only the first half of the order span
    QueryDef("q03_interval_join_left", (sp, dir) => {
      val os = orderSpans(sp, dir)
      val Some((lo, hi)) = IntervalCols.coveringSpan(os, "span")
      val wins = QuantileWindows.quantileWindows(sp, 50, lo, lo + (hi - lo) / 2, "span", "idx")
      val j = IntervalJoin.intervalJoin(os, wins, "span", Options(keepleft = true))
      flat(j, "idx", "o_orderkey")
    },
      s"""WITH $osSql, ${winSql(50, "min(s)", "min(s) + (max(e)-min(s))//2", "os")}
         |SELECT idx, o_orderkey,
         |       CASE WHEN idx IS NULL THEN NULL ELSE greatest(s, ws) END AS istart,
         |       CASE WHEN idx IS NULL THEN NULL ELSE least(e, we) END AS istop
         |FROM os LEFT JOIN win ON s < we AND ws < e""".stripMargin),

    // I2 keepright: sparse spans against dense windows
    QueryDef("q04_interval_join_right", (sp, dir) => {
      val os = orderSpans(sp, dir).where(pmod(col("o_orderkey"), lit(97L)) === 0L)
      val osAll = orderSpans(sp, dir)
      val Some((lo, hi)) = IntervalCols.coveringSpan(osAll, "span")
      val wins = QuantileWindows.quantileWindows(sp, 1000, lo, hi, "span", "idx")
      val j = IntervalJoin.intervalJoin(os, wins, "span", Options(keepright = true))
      flat(j, "idx", "o_orderkey")
    },
      s"""WITH $osSql, ${winSql(1000, "min(s)", "max(e)", "os")},
         |os2 AS (SELECT * FROM os WHERE o_orderkey % 97 = 0)
         |SELECT idx, o_orderkey,
         |       CASE WHEN o_orderkey IS NULL THEN NULL ELSE greatest(s, ws) END AS istart,
         |       CASE WHEN o_orderkey IS NULL THEN NULL ELSE least(e, we) END AS istop
         |FROM os2 RIGHT JOIN win ON s < we AND ws < e""".stripMargin),

    // I2 full outer: unmatched rows on both sides
    QueryDef("q05_interval_join_full", (sp, dir) => {
      val osAll = orderSpans(sp, dir)
      val os = osAll.where(pmod(col("o_orderkey"), lit(40L)) === 0L)
      val Some((lo, hi)) = IntervalCols.coveringSpan(osAll, "span")
      val wins = QuantileWindows.quantileWindows(sp, 1000, lo, lo + (hi - lo) / 2, "span", "idx")
      val j = IntervalJoin.intervalJoin(os, wins, "span",
        Options(keepleft = true, keepright = true))
      flat(j, "idx", "o_orderkey")
    },
      s"""WITH $osSql, ${winSql(1000, "min(s)", "min(s) + (max(e)-min(s))//2", "os")},
         |os2 AS (SELECT * FROM os WHERE o_orderkey % 40 = 0)
         |SELECT idx, o_orderkey,
         |       CASE WHEN idx IS NULL OR o_orderkey IS NULL THEN NULL ELSE greatest(s, ws) END AS istart,
         |       CASE WHEN idx IS NULL OR o_orderkey IS NULL THEN NULL ELSE least(e, we) END AS istop
         |FROM os2 FULL JOIN win ON s < we AND ws < e""".stripMargin),

    // I1 over TIMESTAMP-struct intervals (the second native representation;
    // reference `backto`): join runs on exact µs ticks, output converted
    // back to timestamps, compared here as unix_micros longs
    QueryDef("q32_interval_join_ts", (sp, dir) => {
      val startTs = col("o_orderdate").cast("timestamp")
      val os = table(sp, dir, "orders").select(
        col("o_orderkey"),
        struct(startTs.as("start"),
          timestamp_micros(unix_micros(startTs) +
            (pmod(col("o_orderkey"), lit(30L)) + 1L) * lit(86400000000L)).as("stop")).as("span"))
      val wins = QuantileWindows.quantileWindows(200, os, "span", "idx")
      val j = IntervalJoin.intervalJoin(os, wins, "span")
      j.select(col("idx"), col("o_orderkey"),
        unix_micros(col("span.start")).as("istart_us"),
        unix_micros(col("span.stop")).as("istop_us"))
    },
      s"""WITH osu AS (
         |  SELECT o_orderkey, epoch_us(o_orderdate) AS s,
         |         epoch_us(o_orderdate) + ((o_orderkey % 30)+1)*86400000000 AS e
         |  FROM orders),
         |sp AS (SELECT min(s) AS lo, max(e) AS hi FROM osu),
         |win AS (SELECT i + 1 AS idx,
         |               lo + i*((hi-lo)//200) + (i*((hi-lo)%200))//200 AS ws,
         |               lo + (i+1)*((hi-lo)//200) + ((i+1)*((hi-lo)%200))//200 AS we
         |        FROM sp, range(200) t(i))
         |SELECT idx, o_orderkey, greatest(s, ws) AS istart_us, least(e, we) AS istop_us
         |FROM osu JOIN win ON s < we AND ws < e""".stripMargin),

    // I6: covering-span aggregate
    QueryDef("q06_span_agg", (sp, dir) => {
      eventSpans(sp, dir).agg(
        min(col("span.start")).as("lo"), max(col("span.stop")).as("hi"))
    },
      s"""WITH $esSql SELECT min(s) AS lo, max(e) AS hi FROM es""".stripMargin),

    // I7 (+I1+I4+I5+I6): the README demo — duration-weighted mean per window
    QueryDef("q07_grouped_interval_join", (sp, dir) => {
      val es = eventSpans(sp, dir)
      val g = GroupedIntervalJoin.groupbyIntervalJoin(
        es, windowsOver(es, 4, "idx"), Seq(Selector.Name("idx")), "span" -> "span")
      val dsec = (col("span.stop") - col("span.start")).cast("double") / 1e9
      g.joined.groupBy("idx").agg(
        round(sum(col("value") * dsec) / sum(dsec), 6).as("wmean"),
        count(lit(1)).as("n"))
    },
      s"""WITH $esSql, ${winSql(4, "min(s)", "max(e)", "es")}
         |SELECT idx,
         |       round(sum(value * ((least(e, we) - greatest(s, ws))/1e9))
         |             / sum((least(e, we) - greatest(s, ws))/1e9), 6) AS wmean,
         |       count(*) AS n
         |FROM es JOIN win ON s < we AND ws < e
         |GROUP BY idx""".stripMargin),

    // I1 big×big self overlap join via the scale path (the v3 range-
    // partitioned plane sweep — what Auto picks for big-big inner joins;
    // the query key keeps its historical name for artifact continuity)
    QueryDef("q08_interval_join_binned", (sp, dir) => {
      val os = orderSpans(sp, dir).where(pmod(col("o_orderkey"), lit(3L)) === 0L)
      val j = IntervalJoin.intervalJoin(os, os, "span", Options(
        renamecols = (_ + "_a", _ + "_b"), strategy = Strategy.Sweep))
      // exact integer division — epoch-ns magnitudes exceed Double's mantissa;
      // per-pair overlap in whole seconds so the sum fits int64 at any SF
      j.groupBy(expr("span_left.start div 2592000000000000").as("bucket"))
        .agg(count(lit(1)).as("pairs"),
          sum(expr("(span.stop - span.start) div 1000000000")).as("overlap_s"))
    },
      s"""WITH $osSql, os2 AS (SELECT * FROM os WHERE o_orderkey % 3 = 0)
         |SELECT l.s // 2592000000000000 AS bucket,
         |       count(*) AS pairs,
         |       CAST(sum((least(l.e, r.e) - greatest(l.s, r.s)) // 1000000000) AS BIGINT) AS overlap_s
         |FROM os2 l, os2 r WHERE l.s < r.e AND r.s < l.e
         |GROUP BY 1""".stripMargin),

    // Interval-set union: coalesce overlapping order spans per customer
    QueryDef("q28_merge_intervals", (sp, dir) => {
      val startNs = unix_micros(col("o_orderdate").cast("timestamp")) * 1000L
      val os = table(sp, dir, "orders").select(
        col("o_custkey"),
        IntervalCols.interval(startNs,
          startNs + (pmod(col("o_orderkey"), lit(30L)) + 1L) * lit(86400000000000L)).as("span"))
      graft.operators.IntervalOps.mergeIntervals(os, Seq("o_custkey"), "span")
        .select(col("o_custkey"), col("span.start").as("mstart"),
          col("span.stop").as("mstop"), col("n_merged"))
    },
      """WITH os AS (
        |  SELECT o_custkey, epoch_us(o_orderdate)*1000 AS s,
        |         epoch_us(o_orderdate)*1000 + ((o_orderkey % 30)+1)*86400000000000 AS e
        |  FROM orders),
        |m AS (SELECT o_custkey, s, e,
        |             max(e) OVER (PARTITION BY o_custkey ORDER BY s, e
        |                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS rmax
        |      FROM os),
        |g AS (SELECT o_custkey, s, e,
        |             sum(CASE WHEN rmax IS NULL OR s > rmax THEN 1 ELSE 0 END)
        |               OVER (PARTITION BY o_custkey ORDER BY s, e
        |                     ROWS UNBOUNDED PRECEDING) AS grp
        |      FROM m)
        |SELECT o_custkey, min(s) AS mstart, max(e) AS mstop,
        |       count(*) AS n_merged
        |FROM g GROUP BY o_custkey, grp""".stripMargin),

    // Interval-set measure: covered duration per customer (overlaps once)
    QueryDef("q33_covered_duration", (sp, dir) => {
      val startNs = unix_micros(col("o_orderdate").cast("timestamp")) * 1000L
      val os = table(sp, dir, "orders").select(
        col("o_custkey"),
        IntervalCols.interval(startNs,
          startNs + (pmod(col("o_orderkey"), lit(30L)) + 1L) * lit(86400000000000L)).as("span"))
      graft.operators.IntervalOps.coveredDuration(os, Seq("o_custkey"), "span")
    },
      """WITH os AS (
        |  SELECT o_custkey, epoch_us(o_orderdate)*1000 AS s,
        |         epoch_us(o_orderdate)*1000 + ((o_orderkey % 30)+1)*86400000000000 AS e
        |  FROM orders),
        |m AS (SELECT o_custkey, s, e,
        |             max(e) OVER (PARTITION BY o_custkey ORDER BY s, e
        |                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS rmax
        |      FROM os),
        |g AS (SELECT o_custkey, s, e,
        |             sum(CASE WHEN rmax IS NULL OR s > rmax THEN 1 ELSE 0 END)
        |               OVER (PARTITION BY o_custkey ORDER BY s, e
        |                     ROWS UNBOUNDED PRECEDING) AS grp
        |      FROM m),
        |mg AS (SELECT o_custkey, min(s) AS ms, max(e) AS me
        |       FROM g GROUP BY o_custkey, grp)
        |SELECT o_custkey, CAST(sum(me - ms) AS BIGINT) AS covered
        |FROM mg GROUP BY o_custkey""".stripMargin),

    // Interval-set complement: uncovered gaps between merged order spans
    QueryDef("q36_interval_gaps", (sp, dir) => {
      val startNs = unix_micros(col("o_orderdate").cast("timestamp")) * 1000L
      val os = table(sp, dir, "orders").select(
        col("o_custkey"),
        IntervalCols.interval(startNs,
          startNs + (pmod(col("o_orderkey"), lit(30L)) + 1L) * lit(86400000000000L)).as("span"))
      graft.operators.IntervalOps.gaps(os, Seq("o_custkey"), "span")
        .select(col("o_custkey"), col("span.start").as("gstart"),
          col("span.stop").as("gstop"))
    },
      """WITH os AS (
        |  SELECT o_custkey, epoch_us(o_orderdate)*1000 AS s,
        |         epoch_us(o_orderdate)*1000 + ((o_orderkey % 30)+1)*86400000000000 AS e
        |  FROM orders),
        |m AS (SELECT o_custkey, s, e,
        |             max(e) OVER (PARTITION BY o_custkey ORDER BY s, e
        |                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS rmax
        |      FROM os),
        |g AS (SELECT o_custkey, s, e,
        |             sum(CASE WHEN rmax IS NULL OR s > rmax THEN 1 ELSE 0 END)
        |               OVER (PARTITION BY o_custkey ORDER BY s, e
        |                     ROWS UNBOUNDED PRECEDING) AS grp
        |      FROM m),
        |mg AS (SELECT o_custkey, min(s) AS ms, max(e) AS me
        |       FROM g GROUP BY o_custkey, grp),
        |lg AS (SELECT o_custkey, ms, me,
        |              lag(me) OVER (PARTITION BY o_custkey ORDER BY ms) AS pe
        |       FROM mg)
        |SELECT o_custkey, pe AS gstart, ms AS gstop
        |FROM lg WHERE pe IS NOT NULL AND pe < ms""".stripMargin),

    // Interval-set algebra between two tables: A = order spans, B = the same
    // orders shifted +10 days with a different width — coverage ∩ / \ per key
    QueryDef("q39_interval_set_intersect", (sp, dir) => {
      val (a, b) = setOpFixtures(sp, dir)
      graft.operators.IntervalOps.setIntersect(a, b, Seq("o_custkey"), "span")
        .select(col("o_custkey"), col("span.start").as("istart"),
          col("span.stop").as("istop"))
    },
      setOpSql("ca > 0 AND cb > 0", "istart", "istop")),

    QueryDef("q40_interval_set_subtract", (sp, dir) => {
      val (a, b) = setOpFixtures(sp, dir)
      graft.operators.IntervalOps.setSubtract(a, b, Seq("o_custkey"), "span")
        .select(col("o_custkey"), col("span.start").as("dstart"),
          col("span.stop").as("dstop"))
    },
      setOpSql("ca > 0 AND cb = 0", "dstart", "dstop")),

    // Sessionization: gap-based event sessions per user (30 min gap)
    QueryDef("q29_sessionize", (sp, dir) => {
      val ev = table(sp, dir, "events").withColumn("tsq", expr("unix_micros(cast(ts as timestamp)) * 1000"))
      graft.operators.IntervalOps.sessionize(ev, Seq("user_id"), "tsq",
          gapNs = 1800000000000L, orderTiebreak = Seq("event_id"))
        .select(col("user_id"), col("session"), col("span.start").as("sstart"),
          col("span.stop").as("sstop"), col("n_events"))
    },
      """WITH ev AS (SELECT user_id, event_id, epoch_ns(ts) AS t FROM events),
        |l AS (SELECT user_id, event_id, t,
        |             lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS prev
        |      FROM ev),
        |s AS (SELECT user_id, t,
        |             sum(CASE WHEN prev IS NULL OR t - prev > 1800000000000 THEN 1 ELSE 0 END)
        |               OVER (PARTITION BY user_id ORDER BY t, event_id
        |                     ROWS UNBOUNDED PRECEDING) AS session
        |      FROM l)
        |SELECT user_id, CAST(session AS BIGINT) AS session,
        |       min(t) AS sstart, max(t) AS sstop,
        |       count(*) AS n_events
        |FROM s GROUP BY user_id, session""".stripMargin),

    // As-of join (beyond the reference): latest purchase at or before each
    // click, per user — one shuffle + one window pass, no range join
    QueryDef("q19_asof", (sp, dir) => {
      val ev = table(sp, dir, "events").withColumn("tsq", expr("unix_micros(cast(ts as timestamp)) * 1000"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("tsq").as("ts"), col("event_id").as("click_id"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("tsq").as("pts"), col("event_id").as("purchase_id"),
          col("value").as("purchase_value"))
      graft.operators.AsofJoin.asofJoin(clicks, purchases, "ts", "pts",
        Seq("user_id" -> "user_id"))
    },
      // Explicit arg-max formulation rather than DuckDB's ASOF keyword: ASOF
      // breaks same-tick ties by ITS OWN arbitrary rule, while asofJoin's rule
      // is pinned (max carried struct = max (purchase_id, purchase_value) on
      // the winning tick) — the window ORDER BY mirrors it exactly.
      """WITH l AS (SELECT user_id, ts, event_id AS click_id
        |           FROM events WHERE event_type = 'click'),
        |     r AS (SELECT user_id, ts AS pts, event_id AS purchase_id,
        |                  value AS purchase_value
        |           FROM events WHERE event_type = 'purchase'),
        |     j AS (SELECT l.user_id, l.ts, l.click_id,
        |                  r.purchase_id, r.purchase_value, r.pts,
        |                  row_number() OVER (PARTITION BY l.click_id
        |                    ORDER BY r.pts DESC, r.purchase_id DESC,
        |                             r.purchase_value DESC) AS rn
        |           FROM l LEFT JOIN r
        |             ON l.user_id = r.user_id AND r.pts <= l.ts)
        |SELECT user_id, epoch_ns(ts) AS ts, click_id, purchase_id,
        |       purchase_value, epoch_ns(pts) AS pts
        |FROM j WHERE rn = 1""".stripMargin),

    // Forward as-of: for each click, the FIRST purchase at/after it per user
    QueryDef("q41_asof_forward", (sp, dir) => {
      val ev = table(sp, dir, "events").withColumn("tsq", expr("unix_micros(cast(ts as timestamp)) * 1000"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("tsq").as("ts"), col("event_id").as("click_id"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("tsq").as("pts"), col("event_id").as("purchase_id"),
          col("value").as("purchase_value"))
      graft.operators.AsofJoin.asofJoin(clicks, purchases, "ts", "pts",
        Seq("user_id" -> "user_id"),
        direction = graft.operators.AsofJoin.Direction.Forward)
    },
      """WITH l AS (SELECT user_id, ts, event_id AS click_id
        |           FROM events WHERE event_type = 'click'),
        |     r AS (SELECT user_id, ts AS pts, event_id AS purchase_id,
        |                  value AS purchase_value
        |           FROM events WHERE event_type = 'purchase'),
        |     j AS (SELECT l.user_id, l.ts, l.click_id,
        |                  r.purchase_id, r.purchase_value, r.pts,
        |                  row_number() OVER (PARTITION BY l.click_id
        |                    ORDER BY r.pts ASC, r.purchase_id DESC,
        |                             r.purchase_value DESC) AS rn
        |           FROM l LEFT JOIN r
        |             ON l.user_id = r.user_id AND r.pts >= l.ts)
        |SELECT user_id, epoch_ns(ts) AS ts, click_id, purchase_id,
        |       purchase_value, epoch_ns(pts) AS pts
        |FROM j WHERE rn = 1""".stripMargin),

    // I1 generalized: BOUNDED intervals (per-row Closed/Open flags — the
    // reference's generic Interval{T,L,R}), broadcast against the tiny
    // nation frame. Day-tick endpoints; left bounds vary by key parity, right by key mod 3, so
    // the bound-sensitive touching cases and the merged intersection flags
    // are all exercised against DuckDB's explicit >=/<= algebra.
    QueryDef("q52_interval_join_bounded", (sp, dir) => {
      import graft.intervals.BoundedIntervals
      val days = expr("unix_micros(cast(o_orderdate as timestamp)) div 86400000000")
      val l = table(sp, dir, "orders").select(
        col("o_orderkey"),
        BoundedIntervals.bounded(days, days + pmod(col("o_orderkey"), lit(30L)),
          lit(true), pmod(col("o_orderkey"), lit(2L)) === 0L).as("span"))
      val ws = lit(9000L) + col("n_nationkey").cast("long") * 120L
      val r = table(sp, dir, "nation").select(
        col("n_nationkey").cast("long").as("wid"),
        BoundedIntervals.bounded(ws, ws + 200L,
          pmod(col("n_nationkey"), lit(3L)) =!= 0L, lit(true)).as("win"))
      IntervalJoin.intervalJoin(l, r, "span" -> "win")
        .select(col("o_orderkey"), col("wid"),
          col("span.start").as("istart"), col("span.stop").as("istop"),
          col("span.lclosed").as("ilc"), col("span.rclosed").as("irc"))
    },
      // Bound-sensitive overlap and intersection spelled out in first-order
      // logic: touching endpoints overlap only when BOTH touching bounds are
      // closed; the tighter start/stop carries its own bound flag, ties AND
      """WITH l AS (SELECT o_orderkey,
        |                 epoch_us(o_orderdate)//86400000000 AS s,
        |                 epoch_us(o_orderdate)//86400000000 + (o_orderkey % 30) AS e,
        |                 true AS lc, (o_orderkey % 2 = 0) AS rc
        |          FROM orders),
        |r AS (SELECT CAST(n_nationkey AS BIGINT) AS wid,
        |             9000 + CAST(n_nationkey AS BIGINT)*120 AS ws,
        |             9000 + CAST(n_nationkey AS BIGINT)*120 + 200 AS we,
        |             (n_nationkey % 3 <> 0) AS wlc, true AS wrc
        |      FROM nation)
        |SELECT o_orderkey, wid,
        |       greatest(s, ws) AS istart, least(e, we) AS istop,
        |       CASE WHEN s = ws THEN lc AND wlc WHEN s > ws THEN lc ELSE wlc END AS ilc,
        |       CASE WHEN e = we THEN rc AND wrc WHEN e < we THEN rc ELSE wrc END AS irc
        |FROM l JOIN r
        |  ON (s < e OR (s = e AND lc AND rc))
        | AND (ws < we OR (ws = we AND wlc AND wrc))
        | AND NOT (e < ws OR (e = ws AND NOT (rc AND wlc)))
        | AND NOT (we < s OR (we = s AND NOT (wrc AND lc)))""".stripMargin),

    // I1 generalized: FLOATING endpoints (reference generic ordered T),
    // broadcast against the tiny region frame; greatest/least intersection
    // endpoints are picked, not computed, so they compare exactly
    QueryDef("q53_interval_join_float", (sp, dir) => {
      val price = col("o_totalprice").cast("double")
      val l = table(sp, dir, "orders").select(
        col("o_orderkey"),
        IntervalCols.interval(price, price * 1.1).as("span"))
      val wlo = col("r_regionkey").cast("double") * 100000.0
      val r = table(sp, dir, "region").select(
        col("r_regionkey").cast("long").as("wid"),
        IntervalCols.interval(wlo, wlo + 120000.0).as("win"))
      IntervalJoin.intervalJoin(l, r, "span" -> "win")
        .select(col("o_orderkey"), col("wid"),
          col("span.start").as("istart"), col("span.stop").as("istop"))
    },
      """WITH l AS (SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS s,
        |                  CAST(o_totalprice AS DOUBLE) * 1.1 AS e
        |           FROM orders),
        |r AS (SELECT CAST(r_regionkey AS BIGINT) AS wid,
        |             CAST(r_regionkey AS DOUBLE) * 100000.0 AS ws,
        |             CAST(r_regionkey AS DOUBLE) * 100000.0 + 120000.0 AS we
        |      FROM region)
        |SELECT o_orderkey, wid, greatest(s, ws) AS istart, least(e, we) AS istop
        |FROM l JOIN r ON s < we AND ws < e AND s < e AND ws < we""".stripMargin),

    // I1 specialization: point-in-interval ("stab") join — every event
    // timestamp lands in its (unique, since windows tile the span) quantile
    // window. Same rename/strategy machinery as q02; the point side lifts
    // to one-tick spans so the scale paths apply unchanged.
    QueryDef("q60_stab_join", (sp, dir) => {
      val es = eventSpans(sp, dir)
      val win = windowsOver(es, 1000, "idx")
      val pts = table(sp, dir, "events")
        .select(col("event_id"), col("user_id"),
          expr("unix_micros(cast(ts as timestamp)) * 1000").as("t"))
      IntervalJoin.stabJoin(pts, win, "t" -> "span")
        .select(col("event_id"), col("user_id"), col("idx"),
          col("span_right.start").as("ws"), col("span_right.stop").as("we"))
    },
      s"""WITH $esSql, ${winSql(1000, "min(s)", "max(e)", "es")},
         |pts AS (SELECT event_id, user_id, epoch_ns(ts) AS t FROM events)
         |SELECT p.event_id, p.user_id, w.idx, w.ws, w.we
         |FROM pts p JOIN win w ON p.t >= w.ws AND p.t < w.we""".stripMargin),

    // Window coverage fraction: 500 quantile windows over the order-span
    // range, covered by the SPARSE subset of spans (orderkey % 10 == 0) —
    // per window, merged-overlap time / window duration. The per-epoch
    // artifact/coverage metric of the reference's home domain.
    QueryDef("q83_window_coverage", (sp, dir) => {
      val os = orderSpans(sp, dir)
      val sub = os.where(pmod(col("o_orderkey"), lit(10L)) === 0L)
      val win = windowsOver(os, 500, "idx")
      graft.operators.IntervalOps.windowCoverage(win, sub, Seq("idx"))
        .select(col("idx"), col("span.start").as("ws"),
          col("span.stop").as("we"), col("covered"), col("coverage"))
    },
      s"""WITH $osSql,
        |sub AS (SELECT s, e FROM os WHERE o_orderkey % 10 = 0),
        |${winSql(500, "min(s)", "max(e)", "os")},
        |ov AS (
        |  SELECT w.idx, greatest(w.ws, t.s) AS s, least(w.we, t.e) AS e
        |  FROM win w JOIN sub t ON t.s < w.we AND w.ws < t.e),
        |m AS (
        |  SELECT idx, s, e,
        |         max(e) OVER (PARTITION BY idx ORDER BY s, e
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS rmax
        |  FROM ov),
        |gg AS (
        |  SELECT idx, s, e,
        |         sum(CASE WHEN rmax IS NULL OR s > rmax THEN 1 ELSE 0 END)
        |           OVER (PARTITION BY idx ORDER BY s, e ROWS UNBOUNDED PRECEDING) AS grp
        |  FROM m),
        |runs AS (SELECT idx, grp, min(s) AS rs, max(e) AS re FROM gg GROUP BY idx, grp),
        |cov AS (SELECT idx, CAST(sum(re - rs) AS BIGINT) AS covered FROM runs GROUP BY idx)
        |SELECT w.idx, w.ws, w.we,
        |       CAST(coalesce(c.covered, 0) AS BIGINT) AS covered,
        |       round(CASE WHEN w.we > w.ws
        |                  THEN coalesce(c.covered, 0) / CAST(w.we - w.ws AS DOUBLE)
        |                  ELSE 0.0 END, 6) AS coverage
        |FROM win w LEFT JOIN cov c ON c.idx = w.idx""".stripMargin),

    // Peak-load profile: max simultaneously-active order spans per customer
    // (q39's overlapping A fixture) + the earliest instant the peak is hit.
    // One key-keyed shuffle; the groupBy reuses the window Exchange.
    QueryDef("q91_concurrency", (sp, dir) => {
      val (a, _) = setOpFixtures(sp, dir)
      graft.operators.IntervalOps.maxConcurrency(a, Seq("o_custkey"), "span")
    },
      // The same boundary sweep as the Spark side: +1/-1 deltas, a
      // peer-inclusive RANGE-framed running sum, then per-key max and the
      // earliest position attaining it.
      """WITH A AS (
        |  SELECT o_custkey AS k, epoch_us(o_orderdate)*1000 AS s,
        |         epoch_us(o_orderdate)*1000 + ((o_orderkey % 30)+1)*86400000000000 AS e
        |  FROM orders),
        |ev AS (
        |  SELECT k, s AS pos, 1 AS d FROM A WHERE s < e
        |  UNION ALL SELECT k, e, -1 FROM A WHERE s < e),
        |c AS (SELECT k, pos,
        |             sum(d) OVER (PARTITION BY k ORDER BY pos
        |                          RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca
        |      FROM ev),
        |m AS (SELECT k, CAST(max(ca) AS BIGINT) AS mc FROM c GROUP BY k)
        |SELECT m.k AS o_custkey, m.mc AS max_conc,
        |       min(c.pos) AS first_at
        |FROM m JOIN c ON c.k = m.k AND c.ca = m.mc
        |GROUP BY m.k, m.mc""".stripMargin),

    // Allen-relation classification of deterministic per-order span pairs:
    // B starts (o_orderkey%25)-12 days around A's start, so both orders of
    // every endpoint comparison occur. Pure codegen'd CASE — no join, no
    // shuffle; the classifier column composes with any interval join output.
    QueryDef("q93_allen", (sp, dir) => {
      val day = 86400000000000L
      val startNs = unix_micros(col("o_orderdate").cast("timestamp")) * 1000L
      val a = IntervalCols.interval(startNs,
        startNs + (pmod(col("o_orderkey"), lit(30L)) + 1L) * lit(day))
      val bs = startNs + (pmod(col("o_orderkey"), lit(25L)) - 12L) * lit(day)
      val b = IntervalCols.interval(bs,
        bs + (pmod(col("o_orderkey"), lit(45L)) + 1L) * lit(day))
      table(sp, dir, "orders")
        .select(col("o_orderkey"), IntervalCols.allenRelation(a, b).as("rel"))
    },
      // Identical endpoint arithmetic (all-integer) + the same CASE order as
      // IntervalCols.allenRelation — exhaustive/exclusive for non-empty spans.
      """WITH p AS (
        |  SELECT o_orderkey,
        |         epoch_us(o_orderdate)*1000 AS a_s,
        |         epoch_us(o_orderdate)*1000
        |           + ((o_orderkey % 30)+1)*86400000000000 AS a_e,
        |         epoch_us(o_orderdate)*1000
        |           + ((o_orderkey % 25)-12)*86400000000000 AS b_s,
        |         epoch_us(o_orderdate)*1000
        |           + ((o_orderkey % 25)-12)*86400000000000
        |           + ((o_orderkey % 45)+1)*86400000000000 AS b_e
        |  FROM orders)
        |SELECT o_orderkey,
        |       CASE WHEN a_e < b_s THEN 'precedes'
        |            WHEN a_e = b_s THEN 'meets'
        |            WHEN b_e < a_s THEN 'preceded_by'
        |            WHEN b_e = a_s THEN 'met_by'
        |            WHEN a_s = b_s AND a_e = b_e THEN 'equals'
        |            WHEN a_s = b_s AND a_e < b_e THEN 'starts'
        |            WHEN a_s = b_s THEN 'started_by'
        |            WHEN a_e = b_e AND a_s > b_s THEN 'finishes'
        |            WHEN a_e = b_e THEN 'finished_by'
        |            WHEN a_s > b_s AND a_e < b_e THEN 'during'
        |            WHEN a_s < b_s AND a_e > b_e THEN 'contains'
        |            WHEN a_s < b_s THEN 'overlaps'
        |            ELSE 'overlapped_by' END AS rel
        |FROM p""".stripMargin),

    // I1 specialization: WITHIN-DISTANCE ("near") interval join — event
    // spans within 30 min of a window, found by expanding the window side
    // by d and running the standard overlap join (same Auto strategy /
    // broadcast as q02); the gap to the ORIGINAL window rides along
    // (0 = genuinely overlapping).
    QueryDef("q101_near_join", (sp, dir) => {
      val d = 1800000000000L
      val es = eventSpans(sp, dir)
        .select(col("user_id"), col("span.start").as("s"),
          col("span.stop").as("e"), col("span"))
      val win = windowsOver(es, 100, "idx")
        .select(col("idx"), col("span.start").as("__ws"),
          col("span.stop").as("__we"),
          IntervalCols.interval(col("span.start") - d, col("span.stop") + d)
            .as("span"))
      IntervalJoin.intervalJoin(es, win, "span")
        .select(col("idx"), col("user_id"), col("s"), col("e"),
          greatest(col("s") - col("__we"), col("__ws") - col("e"), lit(0L))
            .as("gap"))
    },
      // The expanded-window overlap predicate IS the within-distance
      // predicate; gap to the original window replayed as integer arithmetic.
      s"""WITH $esSql, ${winSql(100, "min(s)", "max(e)", "es")}
         |SELECT idx, user_id, s, e,
         |       greatest(s - we, ws - e, 0) AS gap
         |FROM es JOIN win
         |  ON s < we + 1800000000000 AND ws - 1800000000000 < e""".stripMargin),

    // Gaps-and-islands: maximal consecutive event_id runs per user via the
    // id - row_number() trick — no self-join, one key-keyed shuffle.
    QueryDef("q104_islands", (sp, dir) =>
      graft.functions.EventOps.islands(
        table(sp, dir, "events").select("user_id", "event_id"),
        Seq("user_id"), "event_id"),
      """WITH r AS (SELECT user_id, event_id,
        |                  event_id - row_number()
        |                    OVER (PARTITION BY user_id ORDER BY event_id) AS grp
        |           FROM events)
        |SELECT user_id, min(event_id) AS run_start, max(event_id) AS run_end,
        |       count(*) AS run_len
        |FROM r GROUP BY user_id, grp""".stripMargin),

    // Time-weighted mean of the piecewise-constant per-user signal (value
    // held over each event span) — decimal-exact weighting, one aggregate.
    QueryDef("q105_time_weighted", (sp, dir) => {
      val es = eventSpans(sp, dir)
        .select(col("user_id"), col("span"),
          floor(col("value") * 1000).cast("long").as("v"))
      graft.operators.IntervalOps.timeWeightedMean(es, Seq("user_id"),
        "span", "v")
    },
      // Exact HUGEINT weighting replayed against the decimal sum; the two
      // final IEEE divisions written in the same order.
      s"""WITH $esSql,
        |w AS (SELECT user_id, e - s AS dur,
        |             CAST(floor(value * 1000) AS HUGEINT) * (e - s) AS wv
        |      FROM es)
        |SELECT user_id, CAST(sum(dur) AS BIGINT) AS active,
        |       round(CAST(sum(wv) AS DOUBLE) / 1000.0
        |             / CAST(CAST(sum(dur) AS BIGINT) AS DOUBLE), 6) AS twa
        |FROM w GROUP BY user_id""".stripMargin),

    // As-of resample onto a regular grid: each of 500 global quantile-grid
    // starts stabs into the per-user value spans — the downsampling shape
    // for held signals. Composition of q01 + q60's machinery.
    QueryDef("q106_grid_resample", (sp, dir) => {
      val es = eventSpans(sp, dir)
        .select(col("user_id"), col("span"),
          floor(col("value") * 1000).cast("long").as("v"))
      val pts = windowsOver(eventSpans(sp, dir), 500, "idx")
        .select(col("idx"), col("span.start").as("t"))
      IntervalJoin.stabJoin(pts, es, "t" -> "span")
        .select(col("idx"), col("t"), col("user_id"), col("v"))
    },
      s"""WITH $esSql, ${winSql(500, "min(s)", "max(e)", "es")},
        |pts AS (SELECT idx, ws AS t FROM win),
        |vs AS (SELECT user_id, s, e, CAST(floor(value * 1000) AS BIGINT) AS v
        |       FROM es)
        |SELECT p.idx, p.t, v.user_id, v.v
        |FROM pts p JOIN vs v ON p.t >= v.s AND p.t < v.e""".stripMargin),

    // Interval ANTI join: event spans overlapping NO sparse window (every
    // 7th) — keepleft outer + null filter, so every physical strategy of
    // I1/I2 applies unchanged.
    QueryDef("q118_interval_anti", (sp, dir) => {
      val es = eventSpans(sp, dir)
        .select(col("user_id"), col("span.start").as("s"),
          col("span.stop").as("e"), col("span"))
      val win = windowsOver(eventSpans(sp, dir), 100, "idx")
        .where(pmod(col("idx"), lit(7L)) === 0L)
      IntervalJoin.intervalJoin(es, win, "span", Options(keepleft = true))
        .where(col("idx").isNull)
        .select(col("user_id"), col("s"), col("e"))
    },
      s"""WITH $esSql, ${winSql(100, "min(s)", "max(e)", "es")},
         |sw AS (SELECT * FROM win WHERE idx % 7 = 0)
         |SELECT user_id, s, e FROM es
         |WHERE NOT EXISTS (SELECT 1 FROM sw WHERE es.s < sw.we AND sw.ws < es.e)
         |""".stripMargin),

    // Interval SEMI join: distinct event spans overlapping at least one
    // sparse window — inner join + distinct on the left identity.
    QueryDef("q119_interval_semi", (sp, dir) => {
      val es = eventSpans(sp, dir)
        .select(col("user_id"), col("span.start").as("s"),
          col("span.stop").as("e"), col("span"))
      val win = windowsOver(eventSpans(sp, dir), 100, "idx")
        .where(pmod(col("idx"), lit(7L)) === 0L)
      IntervalJoin.intervalJoin(es, win, "span")
        .select(col("user_id"), col("s"), col("e")).distinct()
    },
      s"""WITH $esSql, ${winSql(100, "min(s)", "max(e)", "es")},
         |sw AS (SELECT * FROM win WHERE idx % 7 = 0)
         |SELECT DISTINCT user_id, s, e FROM es
         |WHERE EXISTS (SELECT 1 FROM sw WHERE es.s < sw.we AND sw.ws < es.e)
         |""".stripMargin),

    // Numeric band join: same-type event pairs within one integer cent of
    // each other, via BandJoin's bucketed equi-join (floor(v/δ) buckets,
    // left replicated into ±1, exact predicate re-check) — the value-space
    // analogue of the binned interval join; the naive theta-join plan is a
    // nested-loop scan. Values quantize to exact integer cents first
    // (`round(value·100)` longs) so bucket ids and the band predicate are
    // pure integer arithmetic — no float quotient can shift a boundary
    // bucket in either engine.
    QueryDef("q120_band_join", (sp, dir) => {
      def side(ida: String, va: String) = table(sp, dir, "events")
        .select(col("event_type"), col("event_id").as(ida),
          round(col("value") * 100).cast("long").cast("double").as(va))
      graft.operators.BandJoin.bandJoin(
          side("id_a", "va"), side("id_b", "vb"), "va", 1.0,
          Seq("event_type"), Some("vb"))
        .where(col("id_a") < col("id_b"))
        .select(col("event_type"), col("id_a"), col("id_b"),
          col("va").cast("long").as("cents_a"),
          col("vb").cast("long").as("cents_b"))
    },
      // Integer-cent band predicate replayed as the plain theta join (fine
      // at oracle scale; the Spark plan is the bucketed equi-join).
      """WITH e AS (SELECT event_type, event_id,
        |                  CAST(round(value * 100) AS BIGINT) AS cents
        |           FROM events)
        |SELECT a.event_type, a.event_id AS id_a, b.event_id AS id_b,
        |       a.cents AS cents_a, b.cents AS cents_b
        |FROM e a JOIN e b
        |  ON a.event_type = b.event_type
        | AND abs(a.cents - b.cents) <= 1
        | AND a.event_id < b.event_id""".stripMargin),

    // Maximal intervals: drop every order span CONTAINED in another span
    // of the same customer — one window pass per key, no contains
    // self-join (q28's span fixture).
    QueryDef("q140_max_intervals", (sp, dir) => {
      val startNs = unix_micros(col("o_orderdate").cast("timestamp")) * 1000L
      val spans = table(sp, dir, "orders").select(
        col("o_custkey"), col("o_orderkey"),
        IntervalCols.interval(startNs,
          startNs + (pmod(col("o_orderkey"), lit(30L)) + 1L) *
            lit(86400000000000L)).as("span"))
      graft.operators.IntervalOps
        .removeContained(spans, Seq("o_custkey"), "span", "o_orderkey")
        .select(col("o_custkey"), col("o_orderkey"),
          col("span.start").as("s"), col("span.stop").as("e"))
    },
      // Containment replay: the window survivors are exactly the rows with
      // no (s' <= s, e' >= e) peer under the smaller-id tie rule.
      """WITH os AS (SELECT o_orderkey, o_custkey,
        |                   epoch_us(o_orderdate)*1000 AS s,
        |                   epoch_us(o_orderdate)*1000
        |                     + ((o_orderkey % 30)+1)*86400000000000 AS e
        |            FROM orders)
        |SELECT o_custkey, o_orderkey, s, e FROM os r1
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM os r2
        |  WHERE r2.o_custkey = r1.o_custkey
        |    AND r2.s <= r1.s AND r2.e >= r1.e
        |    AND (r2.s < r1.s OR r2.e > r1.e
        |         OR r2.o_orderkey < r1.o_orderkey))""".stripMargin)
  )
}
