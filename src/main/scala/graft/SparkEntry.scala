package graft

import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.intervals.IntervalCols
import graft.operators.{GroupedIntervalJoin, IntervalJoin, QuantileWindows}
import graft.operators.IntervalJoin.{Options, Strategy}
import graft.operators.GroupedIntervalJoin.Selector
import graft.functions.{Dedup, Packing, Similarity, TextFunctions => TF}
import graft.multimodal.Multimodal

/** Driver contract — one `queries` entry per implemented operator
  * (SURVEY.md §2), with DuckDB-oracle SQL for each (SURVEY §2.3).
  *
  * Interval convention: canonical `struct<start,stop>` long nanoseconds,
  * half-open. All timestamp columns (`events.ts`, orders/lineitem dates)
  * are Parquet TIMESTAMP(MICROS), read as TIMESTAMP_NTZ and converted to
  * long ns via `unix_micros(cast(.. as timestamp)) × 1000` under the
  * UTC-pinned session; the DuckDB side uses `epoch_ns` / `epoch_us × 1000`
  * on the same naive values. (Round-6-and-earlier testdata wrote `ts` as
  * TIMESTAMP(NANOS) and was read as long ns via the `nanosAsLong` conf the
  * builders still set — inert on today's µs files.) All oracle
  * comparisons are order-insensitive; every aggregate/computed column
  * carries the same alias on both sides.
  */
object SparkEntry {

  // ---------------------------------------------------------------- helpers

  private def s(session: SparkSession): SparkSession = {
    // legacy conf is runtime-settable; harmless if already set by the builder
    try session.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    catch { case NonFatal(_) => () }
    session
  }

  private def table(spark: SparkSession, dir: String, name: String): DataFrame =
    s(spark).read.parquet(s"$dir/$name.parquet")

  /** Collision-free per-dataset suffix for session-cached index names: the
    * FULL sanitized dir path (a 32-bit `String.hashCode` can collide two
    * data dirs onto one cached index) plus a content fingerprint of the
    * `documents` parquet — a 64-bit fold over every part file's (name,
    * length, mtime), sorted by name. Max-mtime alone has millisecond
    * granularity: a dataset overwritten in place fast enough (or with
    * mtimes preserved) could serve a stale index; the size+name fold
    * changes whenever the snapshot's bytes change. */
  private[graft] def datasetStamp(dir: String): String = {
    val src = new java.io.File(dir, "documents.parquet")
    val files = Option(src.listFiles).filter(_.nonEmpty)
      .getOrElse(Array(src)).sortBy(_.getName)
    val fp = files.foldLeft(1469598103934665603L) { (h, f) =>
      val s = s"${f.getName}:${f.length}:${f.lastModified}"
      s.foldLeft(h)((a, c) => (a ^ c) * 1099511628211L)
    }
    dir.replaceAll("[^A-Za-z0-9]+", "_").stripPrefix("_") + "_" +
      java.lang.Long.toUnsignedString(fp, 16)
  }

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

  // ---------------------------------------------------------------- contract

  /** Flagship: the reference README's demo query (README.md:66-84) — join
    * event spans against quantile windows and aggregate per window. */
  def entry(spark: SparkSession): DataFrame =
    queries("q07_grouped_interval_join")(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // I5+I6: window generation over the covering span of event spans
    "q01_quantile_windows" -> ((sp, dir) => {
      windowsOver(eventSpans(sp, dir), 1000, "idx")
        .select(col("idx"), col("span.start").as("ws"), col("span.stop").as("we"))
    }),

    // I1+I4: inner overlap join, intersection column
    "q02_interval_join_inner" -> ((sp, dir) => {
      val es = eventSpans(sp, dir)
      val j = IntervalJoin.intervalJoin(es, windowsOver(es, 100, "idx"), "span")
      flat(j, "idx", "user_id", "event_type", "value")
    }),

    // I2 keepleft: windows over only the first half of the order span
    "q03_interval_join_left" -> ((sp, dir) => {
      val os = orderSpans(sp, dir)
      val Some((lo, hi)) = IntervalCols.coveringSpan(os, "span")
      val wins = QuantileWindows.quantileWindows(sp, 50, lo, lo + (hi - lo) / 2, "span", "idx")
      val j = IntervalJoin.intervalJoin(os, wins, "span", Options(keepleft = true))
      flat(j, "idx", "o_orderkey")
    }),

    // I2 keepright: sparse spans against dense windows
    "q04_interval_join_right" -> ((sp, dir) => {
      val os = orderSpans(sp, dir).where(pmod(col("o_orderkey"), lit(97L)) === 0L)
      val osAll = orderSpans(sp, dir)
      val Some((lo, hi)) = IntervalCols.coveringSpan(osAll, "span")
      val wins = QuantileWindows.quantileWindows(sp, 1000, lo, hi, "span", "idx")
      val j = IntervalJoin.intervalJoin(os, wins, "span", Options(keepright = true))
      flat(j, "idx", "o_orderkey")
    }),

    // I2 full outer: unmatched rows on both sides
    "q05_interval_join_full" -> ((sp, dir) => {
      val osAll = orderSpans(sp, dir)
      val os = osAll.where(pmod(col("o_orderkey"), lit(40L)) === 0L)
      val Some((lo, hi)) = IntervalCols.coveringSpan(osAll, "span")
      val wins = QuantileWindows.quantileWindows(sp, 1000, lo, lo + (hi - lo) / 2, "span", "idx")
      val j = IntervalJoin.intervalJoin(os, wins, "span",
        Options(keepleft = true, keepright = true))
      flat(j, "idx", "o_orderkey")
    }),

    // I1 over TIMESTAMP-struct intervals (the second native representation;
    // reference `backto`): join runs on exact µs ticks, output converted
    // back to timestamps, compared here as unix_micros longs
    "q32_interval_join_ts" -> ((sp, dir) => {
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
    }),

    // I6: covering-span aggregate
    "q06_span_agg" -> ((sp, dir) => {
      eventSpans(sp, dir).agg(
        min(col("span.start")).as("lo"), max(col("span.stop")).as("hi"))
    }),

    // I7 (+I1+I4+I5+I6): the README demo — duration-weighted mean per window
    "q07_grouped_interval_join" -> ((sp, dir) => {
      val es = eventSpans(sp, dir)
      val g = GroupedIntervalJoin.groupbyIntervalJoin(
        es, windowsOver(es, 4, "idx"), Seq(Selector.Name("idx")), "span" -> "span")
      val dsec = (col("span.stop") - col("span.start")).cast("double") / 1e9
      g.joined.groupBy("idx").agg(
        round(sum(col("value") * dsec) / sum(dsec), 6).as("wmean"),
        count(lit(1)).as("n"))
    }),

    // I1 big×big self overlap join via the scale path (the v3 range-
    // partitioned plane sweep — what Auto picks for big-big inner joins;
    // the query key keeps its historical name for artifact continuity)
    "q08_interval_join_binned" -> ((sp, dir) => {
      val os = orderSpans(sp, dir).where(pmod(col("o_orderkey"), lit(3L)) === 0L)
      val j = IntervalJoin.intervalJoin(os, os, "span", Options(
        renamecols = (_ + "_a", _ + "_b"), strategy = Strategy.Sweep))
      // exact integer division — epoch-ns magnitudes exceed Double's mantissa;
      // per-pair overlap in whole seconds so the sum fits int64 at any SF
      j.groupBy(expr("span_left.start div 2592000000000000").as("bucket"))
        .agg(count(lit(1)).as("pairs"),
          sum(expr("(span.stop - span.start) div 1000000000")).as("overlap_s"))
    }),

    // Delegated: hash aggregate with exact decimal sums (TPC-H Q1 shape)
    "q20_delegated_agg" -> ((sp, dir) => {
      // sum exactly in DECIMAL, then emit DOUBLE: parquet DECIMAL reaches the
      // driver's compare as python Decimal objects while DuckDB decimals come
      // back float64 — same value, different dtype, hash mismatch. One final
      // exact->double conversion on BOTH sides agrees bit-for-bit.
      table(sp, dir, "lineitem").groupBy("l_returnflag", "l_linestatus").agg(
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double").as("sum_price"),
        count(lit(1)).as("n"))
    }),

    // Delegated: window function (top order per customer)
    "q21_delegated_window" -> ((sp, dir) => {
      val o = table(sp, dir, "orders")
      val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
      o.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    }),

    // Delegated: multi-way equi-join + aggregate (broadcast dims)
    "q22_delegated_join_agg" -> ((sp, dir) => {
      val c = table(sp, dir, "customer")
      val o = table(sp, dir, "orders")
      val n = table(sp, dir, "nation")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy("n_name")
        .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("rev"),
          count(lit(1)).as("n_orders"))
    }),

    // Delegated: ordered-set aggregates (exact interpolated percentiles)
    "q38_delegated_percentile" -> ((sp, dir) => {
      table(sp, dir, "lineitem").groupBy("l_returnflag").agg(
        round(expr("percentile(l_quantity, 0.5)"), 6).as("p50"),
        round(expr("percentile(l_quantity, 0.9)"), 6).as("p90"),
        round(expr("percentile(l_extendedprice, 0.25)"), 6).as("p25e"))
    }),

    // Delegated: anti join (customers without orders)
    "q23_delegated_anti" -> ((sp, dir) => {
      val c = table(sp, dir, "customer")
      val o = table(sp, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti").select("c_custkey")
    }),

    // Delegated: semi join (customers WITH at least one order)
    "q43_delegated_semi" -> ((sp, dir) => {
      val c = table(sp, dir, "customer")
      val o = table(sp, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select("c_custkey", "c_nationkey")
    }),

    // Delegated: deterministic top-k (total order via the unique key tiebreak)
    "q44_delegated_topk" -> ((sp, dir) =>
      table(sp, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
        .select("o_orderkey", "o_custkey", "o_totalprice")),

    // Delegated: pivot — one column per order status, exact decimal sums
    // emitted as DOUBLE (same dtype rule as q20)
    "q45_delegated_pivot" -> ((sp, dir) =>
      table(sp, dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))))
        .select(col("o_orderpriority"),
          col("F").cast("double").as("f_total"),
          col("O").cast("double").as("o_total"),
          col("P").cast("double").as("p_total"))),

    // Interval-set union: coalesce overlapping order spans per customer
    "q28_merge_intervals" -> ((sp, dir) => {
      val startNs = unix_micros(col("o_orderdate").cast("timestamp")) * 1000L
      val os = table(sp, dir, "orders").select(
        col("o_custkey"),
        IntervalCols.interval(startNs,
          startNs + (pmod(col("o_orderkey"), lit(30L)) + 1L) * lit(86400000000000L)).as("span"))
      graft.operators.IntervalOps.mergeIntervals(os, Seq("o_custkey"), "span")
        .select(col("o_custkey"), col("span.start").as("mstart"),
          col("span.stop").as("mstop"), col("n_merged"))
    }),

    // Interval-set measure: covered duration per customer (overlaps once)
    "q33_covered_duration" -> ((sp, dir) => {
      val startNs = unix_micros(col("o_orderdate").cast("timestamp")) * 1000L
      val os = table(sp, dir, "orders").select(
        col("o_custkey"),
        IntervalCols.interval(startNs,
          startNs + (pmod(col("o_orderkey"), lit(30L)) + 1L) * lit(86400000000000L)).as("span"))
      graft.operators.IntervalOps.coveredDuration(os, Seq("o_custkey"), "span")
    }),

    // Interval-set complement: uncovered gaps between merged order spans
    "q36_interval_gaps" -> ((sp, dir) => {
      val startNs = unix_micros(col("o_orderdate").cast("timestamp")) * 1000L
      val os = table(sp, dir, "orders").select(
        col("o_custkey"),
        IntervalCols.interval(startNs,
          startNs + (pmod(col("o_orderkey"), lit(30L)) + 1L) * lit(86400000000000L)).as("span"))
      graft.operators.IntervalOps.gaps(os, Seq("o_custkey"), "span")
        .select(col("o_custkey"), col("span.start").as("gstart"),
          col("span.stop").as("gstop"))
    }),

    // Interval-set algebra between two tables: A = order spans, B = the same
    // orders shifted +10 days with a different width — coverage ∩ / \ per key
    "q39_interval_set_intersect" -> ((sp, dir) => {
      val (a, b) = setOpFixtures(sp, dir)
      graft.operators.IntervalOps.setIntersect(a, b, Seq("o_custkey"), "span")
        .select(col("o_custkey"), col("span.start").as("istart"),
          col("span.stop").as("istop"))
    }),

    "q40_interval_set_subtract" -> ((sp, dir) => {
      val (a, b) = setOpFixtures(sp, dir)
      graft.operators.IntervalOps.setSubtract(a, b, Seq("o_custkey"), "span")
        .select(col("o_custkey"), col("span.start").as("dstart"),
          col("span.stop").as("dstop"))
    }),

    // Delegated: JSON scalar extraction + aggregate over the events payload
    "q37_delegated_json" -> ((sp, dir) => {
      table(sp, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
    }),

    // Sessionization: gap-based event sessions per user (30 min gap)
    "q29_sessionize" -> ((sp, dir) => {
      val ev = table(sp, dir, "events").withColumn("tsq", expr("unix_micros(cast(ts as timestamp)) * 1000"))
      graft.operators.IntervalOps.sessionize(ev, Seq("user_id"), "tsq",
          gapNs = 1800000000000L, orderTiebreak = Seq("event_id"))
        .select(col("user_id"), col("session"), col("span.start").as("sstart"),
          col("span.stop").as("sstop"), col("n_events"))
    }),

    // Delegated: rollup (grouping sets) with exact decimal sums
    "q24_delegated_rollup" -> ((sp, dir) => {
      table(sp, dir, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("total"))
    }),

    // Delegated: cube (all grouping combinations); grouping_id disambiguates
    // a rolled-up NULL from NULL data, and both engines agree on the bitmask
    // convention (first grouping column = most significant bit)
    "q47_delegated_cube" -> ((sp, dir) =>
      table(sp, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("total"))),

    // Delegated: explicit grouping sets (status-only, priority-only, grand
    // total — a set ROLLUP/CUBE can't express)
    "q48_delegated_grouping_sets" -> ((sp, dir) =>
      table(sp, dir, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(grouping_id().as("gid"), count(lit(1)).as("n"))),

    // Delegated: distinct aggregates (Catalyst plans the multi-distinct via
    // Expand + two-phase partial aggregation — one shuffle per distinct set)
    "q49_delegated_distinct" -> ((sp, dir) =>
      table(sp, dir, "lineitem").groupBy("l_returnflag").agg(
        countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(col("l_partkey")).as("n_part"),
        count(lit(1)).as("n"))),

    // Delegated: correlated scalar subquery (per-customer max order price;
    // NULL for order-less customers) — exercises Catalyst's subquery
    // decorrelation into an aggregate + left outer join
    "q50_delegated_scalar_subquery" -> ((sp, dir) => {
      table(sp, dir, "customer").createOrReplaceTempView("g50_customer")
      table(sp, dir, "orders").createOrReplaceTempView("g50_orders")
      val out = sp.sql("""SELECT c_custkey,
                |  (SELECT max(o_totalprice) FROM g50_orders o
                |   WHERE o.o_custkey = c.c_custkey
                |     AND o.o_orderstatus = 'P') AS max_p_price
                |FROM g50_customer c""".stripMargin)
      // analysis is eager, so the resolved plan survives dropping the views —
      // don't leave sfDir-bound names registered on the shared session
      sp.catalog.dropTempView("g50_customer")
      sp.catalog.dropTempView("g50_orders")
      out
    }),

    // Delegated: array aggregation + array functions (per-nation ordered
    // supplier list, serialized — the compare gate hashes scalars, and a
    // joined string pins both engines to one canonical rendering)
    "q51_delegated_arrayagg" -> ((sp, dir) =>
      table(sp, dir, "supplier")
        .groupBy(col("s_nationkey").cast("long").as("nk"))
        .agg(count(lit(1)).as("n_supp"),
          array_join(sort_array(collect_list(col("s_suppkey"))), ",").as("supps"))),

    // Delegated: set operations (intersect/except on key sets)
    "q25_delegated_setops" -> ((sp, dir) => {
      val c = table(sp, dir, "customer").select(col("c_nationkey").cast("int").as("k"))
      val s = table(sp, dir, "supplier").select(col("s_nationkey").cast("int").as("k"))
      c.intersect(s).withColumn("tag", lit("both"))
        .unionByName(c.except(s).withColumn("tag", lit("cust_only")))
    }),

    // Delegated: scalar string/date/math functions in one projection
    "q26_delegated_scalars" -> ((sp, dir) => {
      table(sp, dir, "orders").select(
        col("o_orderkey"),
        upper(substring(col("o_orderpriority"), 1, 3)).as("pri3"),
        length(col("o_orderstatus")).as("st_len"),
        year(col("o_orderdate").cast("timestamp")).as("yr"),
        month(col("o_orderdate").cast("timestamp")).as("mo"),
        round(sqrt(col("o_totalprice")), 6).as("sq"),
        pmod(col("o_orderkey") * 2654435761L, lit(1000000007L)).as("hashed"))
    }),

    // Dedup: exact duplicate groups by content hash
    "q09_dedup_exact" -> ((sp, dir) =>
      Dedup.exactDupGroups(table(sp, dir, "documents"), "text", "doc_id")),

    // Sampling: deterministic hash-based train/val/test split by doc key
    "q34_split_assign" -> ((sp, dir) =>
      graft.functions.Sampling.splitByHash(
          table(sp, dir, "documents").select("doc_id"), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"),
          graft.functions.Sampling.hashBucket(col("doc_id"), "split").as("bucket"),
          col("split"))),

    // Deterministic global shuffle: every document gets a contiguous
    // 0-based position in salted-hash order — the reproducible corpus
    // shuffle before sequence packing, computed with bucket offsets +
    // within-bucket ranks (never a single-task global window).
    "q66_global_shuffle" -> ((sp, dir) =>
      graft.functions.Sampling.globalShuffle(
        table(sp, dir, "documents").select("doc_id"), "doc_id")),

    // Mixture reweighting: upsample en 2.5x by repetition (epoch column
    // decorrelates the copies), keep de/es, downsample fr/zh — the
    // deterministic domain-mixture step of a training-data pipeline.
    "q65_mixture_resample" -> ((sp, dir) =>
      graft.functions.Sampling.resampleByWeight(
        table(sp, dir, "documents").select("doc_id", "lang"), "doc_id", "lang",
        Map("en" -> 2.5, "de" -> 1.0, "es" -> 1.0, "fr" -> 0.6, "zh" -> 0.4))),

    // Token-budget cap: per-language, keep the prefix of the hash-shuffled
    // corpus whose running token total fits a 2k budget — the "first B
    // tokens per domain" step of assembling a training mix; bucket-offset
    // prefix sum, never a one-task global window.
    "q67_budget_cap" -> ((sp, dir) => {
      val d = table(sp, dir, "documents").select(col("doc_id"), col("lang"),
        TF.tokenCount(col("text")).cast("long").as("n_tok"))
      graft.functions.Sampling.capByBudget(d, "doc_id", "n_tok", 2000L,
        strataCols = Seq("lang"))
    }),

    // Text quality: within-document repetition signals
    "q35_repetition" -> ((sp, dir) =>
      // one-pass imperative ratios (bit-identical to the Column path)
      TF.repetitionFast(table(sp, dir, "documents"), "text", "doc_id")
        .select(col("id").as("doc_id"), col("dup_tok"), col("dup_bigram"))),

    // Text analysis: token counts, quality, language ID, rolling fingerprint
    "q10_text_stats" -> ((sp, dir) => {
      table(sp, dir, "documents").select(
        col("doc_id"),
        TF.tokenCount(col("text")).as("n_tok"),
        TF.bpeTokenCount(col("text")).as("n_bpe"),
        TF.qualityScore(col("text")).as("quality"),
        TF.fingerprint(col("text")).as("fp"),
        TF.langId(col("text")).as("lang_pred"))
    }),

    // Dedup: MinHash signature values (k=16, 5-gram shingles), exploded.
    // Fast imperative path (one pass/partition); values bit-identical to
    // the Column path and the DuckDB oracle.
    "q11_minhash_sig" -> ((sp, dir) => {
      val d = table(sp, dir, "documents").where(length(col("text")) >= 5)
      Dedup.signatures(d, "text", "doc_id")
        .select(col("id").as("doc_id"), posexplode(col("sig")))
        .select(col("doc_id"), col("pos").as("j"), col("col").as("sigval"))
    }),

    // Dedup: LSH band hashes (4 bands x 4 rows)
    "q12_lsh_bands" -> ((sp, dir) => {
      val d = table(sp, dir, "documents").where(length(col("text")) >= 5)
      Dedup.signatures(d, "text", "doc_id")
        .select(col("id").as("doc_id"), posexplode(col("bhs")))
        .select(col("doc_id"), col("pos").as("band"), col("col").as("bh"))
    }),

    // Dedup: 3-gram Jaccard over consecutive-doc pairs
    "q13_ngram_jaccard" -> ((sp, dir) => {
      // shingle sets computed ONCE and materialized before the self-join —
      // ngramJaccard over raw text would re-inline the interpreted shingle
      // transform at each of its four references, and without the
      // checkpoint each join side re-evaluates it over the full corpus.
      // repartition first: documents is a single file, and the interpreted
      // transform would otherwise run on one core
      val g = table(sp, dir, "documents")
        .repartition(sp.sparkContext.defaultParallelism)
        .select(col("doc_id"), TF.shingles(col("text"), 3).as("sh"))
        .localCheckpoint(true)
      val a = g.select(col("doc_id").as("doc_a"), col("sh").as("sa"))
      val b = g.select(col("doc_id").as("doc_b"), col("sh").as("sb"))
      a.join(b, col("doc_b") === col("doc_a") + 1L)
        .select(col("doc_a"), col("doc_b"),
          round(size(array_intersect(col("sa"), col("sb"))).cast("double") /
            size(array_union(col("sa"), col("sb"))), 6).as("jaccard"))
    }),

    // Dedup clusters: connected components over the simhash near-dup graph
    // (hamming <= 2), one representative (min doc_id) per component. Pair
    // generation is the pigeonhole-banded equi-join (simhashNearDupPairs)
    // — bucketed, never an all-pairs broadcast — whose pair set is PROVABLY
    // identical to the all-pairs graph, so the recursive-CTE oracle (which
    // replays all-pairs, fine at oracle scale) still agrees exactly.
    "q46_dedup_clusters" -> ((sp, dir) => {
      // one-pass imperative simhash (bit-identical to the Column path),
      // materialized once before the banded self-join
      val sh = Dedup.simhashFast(table(sp, dir, "documents"), "text", "doc_id")
        .repartition(sp.sparkContext.defaultParallelism)
        .localCheckpoint(true)
      val pairs = Dedup.simhashNearDupPairs(sh, maxDist = 2, bands = 4)
      Dedup.connectedComponents(pairs, sh.select(col("id")))
        .select(col("id").as("doc_id"), col("rep"))
    }),

    // Text: corpus TF-IDF, top-5 terms per document (inverted-index shape)
    "q42_tfidf_top" -> ((sp, dir) => {
      graft.functions.TfIdf.topTerms(table(sp, dir, "documents"), "doc_id", "text", 5)
        .select(col("id").as("doc_id"), col("term"), col("tf"), col("df"),
          round(col("score"), 6).as("score"), col("rank"))
    }),

    // Dedup: 32-bit SimHash per document
    "q14_simhash" -> ((sp, dir) =>
      Dedup.simhashFast(table(sp, dir, "documents"), "text", "doc_id")
        .select(col("id").as("doc_id"), col("sh"))),

    // Similarity: exact brute-force cosine top-10 for query vectors
    "q15_ann_brute" -> ((sp, dir) => {
      val e = table(sp, dir, "embeddings")
      val q = e.where(pmod(col("vec_id"), lit(100L)) === 0L)
      Similarity.bruteForceTopK(e, q, 10)
    }),

    // Similarity: LSH-bucketed approximate top-10 — the planes are
    // deterministic library constants, so the DuckDB oracle replays the
    // sign-projection bucketing exactly (plane literals embedded in the SQL)
    "q16_ann_lsh" -> ((sp, dir) => {
      val e = table(sp, dir, "embeddings")
      val q = e.where(pmod(col("vec_id"), lit(100L)) === 0L)
      Similarity.lshTopK(e, q, 10, Similarity.randomPlanes(8, 64))
    }),

    // Similarity: IVF top-10 at FULL probe (nProbe = nLists): every list is
    // probed, so the candidate set is the whole corpus and the result must
    // EQUAL brute force — which makes the train/assign/probe/rerank
    // machinery oracle-checkable (centroid-detail-independent). The
    // approximate regime (nProbe < nLists) is pinned by SimilaritySpec's
    // recall test.
    "q27_ann_ivf" -> ((sp, dir) => {
      val e = table(sp, dir, "embeddings")
      val q = e.where(pmod(col("vec_id"), lit(100L)) === 0L)
      Similarity.ivfTopK(e, q, 10, Similarity.ivfTrain(e, nLists = 16), nProbe = 16)
    }),

    // Dedup: end-to-end MinHash-LSH near-dup pipeline. Every stage is
    // deterministic md5-derived math, so the DuckDB oracle replays the full
    // pipeline (signatures -> band hashes -> band-collision candidates ->
    // exact hash-set Jaccard >= threshold)
    "q17_neardup_pairs" -> ((sp, dir) =>
      // parallelized: MinHash signatures are the map-side cost and the
      // one-row-group source hands them to a single task
      Dedup.nearDupPairs(
        graft.sources.Scans.parallelized(table(sp, dir, "documents")),
        "text", "doc_id",
        k = 16, bands = 4, shingleN = 5, threshold = 0.5)),

    // Dedup: exact embedding-cosine near-dup pairs. DECLARED BASELINE:
    // all-pairs by construction (the exactness oracle for q31's LSH path,
    // which is the plan that ships at scale) — never run this on a big
    // corpus.
    "q30_embed_neardup_baseline" -> ((sp, dir) =>
      Similarity.cosineNearDupPairs(table(sp, dir, "embeddings"), 0.4)),

    // Dedup: multi-table LSH embedding near-dup — deterministic plane
    // constants again make the bucketing + verified cosine fully
    // oracle-checkable (and the output remains a subset of q30's exact set)
    "q31_embed_neardup_lsh" -> ((sp, dir) =>
      Similarity.lshNearDupPairs(table(sp, dir, "embeddings"), 0.4, dim = 64)),

    // As-of join (beyond the reference): latest purchase at or before each
    // click, per user — one shuffle + one window pass, no range join
    "q19_asof" -> ((sp, dir) => {
      val ev = table(sp, dir, "events").withColumn("tsq", expr("unix_micros(cast(ts as timestamp)) * 1000"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("tsq").as("ts"), col("event_id").as("click_id"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("tsq").as("pts"), col("event_id").as("purchase_id"),
          col("value").as("purchase_value"))
      graft.operators.AsofJoin.asofJoin(clicks, purchases, "ts", "pts",
        Seq("user_id" -> "user_id"))
    }),

    // Forward as-of: for each click, the FIRST purchase at/after it per user
    "q41_asof_forward" -> ((sp, dir) => {
      val ev = table(sp, dir, "events").withColumn("tsq", expr("unix_micros(cast(ts as timestamp)) * 1000"))
      val clicks = ev.where(col("event_type") === "click")
        .select(col("user_id"), col("tsq").as("ts"), col("event_id").as("click_id"))
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), col("tsq").as("pts"), col("event_id").as("purchase_id"),
          col("value").as("purchase_value"))
      graft.operators.AsofJoin.asofJoin(clicks, purchases, "ts", "pts",
        Seq("user_id" -> "user_id"),
        direction = graft.operators.AsofJoin.Direction.Forward)
    }),

    // I1 generalized: BOUNDED intervals (per-row Closed/Open flags — the
    // reference's generic Interval{T,L,R}) on the range path. Day-tick
    // endpoints; left bounds vary by key parity, right by key mod 3, so
    // the bound-sensitive touching cases and the merged intersection flags
    // are all exercised against DuckDB's explicit >=/<= algebra.
    "q52_interval_join_bounded" -> ((sp, dir) => {
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
    }),

    // I1 generalized: FLOATING endpoints (reference generic ordered T) on
    // the range path — no tick space needed; greatest/least intersection
    // endpoints are picked, not computed, so they compare exactly
    "q53_interval_join_float" -> ((sp, dir) => {
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
    }),

    // Decontamination: corpus docs sharing token 3-grams with a "benchmark"
    // slice (every 50th doc) — the standard eval-set contamination check.
    // One broadcast equi-join on the n-gram string; corpus never shuffles.
    "q54_decontaminate" -> ((sp, dir) => {
      val d = table(sp, dir, "documents")
      val bench = d.where(pmod(col("doc_id"), lit(50L)) === 0L)
      val corpus = d.where(pmod(col("doc_id"), lit(50L)) =!= 0L)
      Dedup.benchmarkContamination(corpus, bench, "text", "doc_id", n = 3)
    }),

    // PII redaction: deterministic regex scrub of emails/phones, exercised
    // on synthesized contact strings derived from table values (the corpus
    // itself carries no PII); same RE2-safe patterns replay in the oracle
    "q55_pii_redact" -> ((sp, dir) =>
      table(sp, dir, "documents").select(
        col("doc_id"),
        TF.redactPii(concat(
          substring(col("text"), 1, 40),
          lit(" contact: user"), col("doc_id").cast("string"),
          lit("@example.com or +1 555-00"),
          pmod(col("doc_id"), lit(100L)).cast("string"), lit("1")
        )).as("clean"))),

    // Sequence packing: concatenate-and-chop the corpus into 256-token
    // packs, sharded into 8 deterministic hash buckets (per-bucket window
    // = the distributable formulation; one shuffle)
    "q56_pack_stream" -> ((sp, dir) =>
      Packing.packStream(
          table(sp, dir, "documents").select(col("doc_id"), col("text")),
          "doc_id", TF.tokenCount(col("text")), capacity = 256, nBuckets = 8)
        .select("doc_id", "bucket", "n_tok", "pack_first", "pack_offset",
          "pack_last", "n_packs")),

    // Sliding-window chunking: 64-token windows at stride 48 per document
    // (no shuffle; explode fuses into the scan)
    "q57_chunk_overlap" -> ((sp, dir) =>
      Packing.chunkByTokens(table(sp, dir, "documents"), "doc_id", "text",
        window = 64, stride = 48)),

    // Corpus stats: top-100 token bigrams by document frequency
    // (map-side-combining agg + TakeOrderedAndProject, deterministic ties)
    "q58_top_ngrams" -> ((sp, dir) =>
      TF.topNgrams(table(sp, dir, "documents"), "text", n = 2, k = 100)),

    // LM-quality proxy: per-doc mean unigram surprisal against the corpus
    // frequency table (sorted-fold float sum -> bit-exact vs the oracle)
    "q59_unigram_surprisal" -> ((sp, dir) =>
      TF.unigramSurprisal(table(sp, dir, "documents"), "doc_id", "text")),

    // I1 specialization: point-in-interval ("stab") join — every event
    // timestamp lands in its (unique, since windows tile the span) quantile
    // window. Same rename/strategy machinery as q02; the point side lifts
    // to one-tick spans so the scale paths apply unchanged.
    "q60_stab_join" -> ((sp, dir) => {
      val es = eventSpans(sp, dir)
      val win = windowsOver(es, 1000, "idx")
      val pts = table(sp, dir, "events")
        .select(col("event_id"), col("user_id"),
          expr("unix_micros(cast(ts as timestamp)) * 1000").as("t"))
      IntervalJoin.stabJoin(pts, win, "t" -> "span")
        .select(col("event_id"), col("user_id"), col("idx"),
          col("span_right.start").as("ws"), col("span_right.stop").as("we"))
    }),

    // Similarity: IVF at its real approximate operating point (nProbe 4 of
    // 16 lists — the regime a user would run; q27 is the same machinery at
    // full probe, where the oracle can require equality with brute force).
    // The coarse quantizer here is the DETERMINISTIC hashAnchors one (the
    // q82 oracle idiom), so assignment + probe-list restriction + rerank
    // all replay exactly in SQL — q61 gets the full three-gate oracle.
    // The k-means (ivfTrain) quantizer at the same operating point stays
    // pinned by SimilaritySpec's recall test.
    "q61_ann_ivf_probe" -> ((sp, dir) => {
      val e = table(sp, dir, "embeddings")
      val q = e.where(pmod(col("vec_id"), lit(100L)) === 0L)
      Similarity.ivfTopKAnchored(e, q, 10,
        Similarity.hashAnchors(e, 16, salt = "q61"), nProbe = 4)
    }),

    // Multimodal: binary payloads -> partition-parallel decode with REAL
    // image-header parsing. Every 10th doc gets a synthetic PNG IHDR
    // prepended and every (10k+5)th a JPEG SOF0, so the oracle verifies the
    // actual parsed width/height (640x480) — not just the unknown-format
    // fall-through — against header constants it can replay.
    "q18_multimodal" -> ((sp, dir) => {
      val pngHdr = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a,
        0, 0, 0, 13, 'I', 'H', 'D', 'R', 0, 0, 2, 0x80, 0, 0, 1, 0xE0)
        .map(_.toByte)
      val jpegHdr = Array(0xFF, 0xD8, 0xFF, 0xC0, 0x00, 0x0B, 0x08,
        0x01, 0xE0, 0x02, 0x80).map(_.toByte)
      val d = table(sp, dir, "documents").select(col("doc_id"),
        when(pmod(col("doc_id"), lit(10L)) === 0L,
          concat(lit(pngHdr), col("text").cast("binary")))
          .when(pmod(col("doc_id"), lit(10L)) === 5L,
            concat(lit(jpegHdr), col("text").cast("binary")))
          .otherwise(col("text").cast("binary")).as("data"))
      Multimodal.mediaFeatures(d, "doc_id", "data")
    }),

    // Multimodal: REAL pixel decode via the JDK's own javax.imageio PNG
    // reader. Every 5th doc carries an actual 3x2 PNG (deterministic
    // pixels, encoded at plan-build time — PNG is lossless, so the decoded
    // values are exact constants the oracle states; the bytes the encoder
    // emits don't matter, only what they decode back to). Other docs carry
    // text bytes, which no JRE reader accepts -> the undecodable path.
    "q62_image_decode" -> ((sp, dir) => {
      val d = table(sp, dir, "documents").select(col("doc_id"),
        when(pmod(col("doc_id"), lit(5L)) === 0L, lit(testPng))
          .otherwise(col("text").cast("binary")).as("data"))
      Multimodal.pixelFeatures(d, "doc_id", "data")
    }),

    // Incremental near-dup: even doc_ids become the persisted band index
    // (the historical corpus, signatures paid once at write time), odd
    // doc_ids are the new ingestion batch probing it. Exact-Jaccard
    // verified cross pairs only — the production shape for daily-crawl
    // dedup against an accumulated corpus.
    "q64_neardup_index" -> ((sp, dir) => {
      val docs = table(sp, dir, "documents")
      val hist = docs.where(pmod(col("doc_id"), lit(2L)) === 0L)
      // parallelized: the probe batch's MinHash signatures are the map-side
      // cost and the one-row-group source hands them to a single task
      val fresh = graft.sources.Scans.parallelized(
        docs.where(pmod(col("doc_id"), lit(2L)) === 1L))
      // The index is built ONCE per testdata version — the production cost
      // model (history pays signatures at write time, each batch only
      // probes). The cache key is the full sanitized dir path + the source
      // parquet's latest mtime, so neither a path-hash collision nor
      // regenerated testdata can ever serve a stale index; the sidecar is
      // written after the data, so its presence implies a complete index.
      val path = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_band_index_${datasetStamp(dir)}").getPath
      if (Dedup.readIndexMeta(sp, path).isEmpty)
        Dedup.writeBandIndex(hist, "text", "doc_id", path)
      Dedup.nearDupAgainstIndex(fresh, "text", "doc_id", path, threshold = 0.5)
    }),

    // Multimodal: audio metadata from real RIFF/WAVE headers. Every 7th
    // doc carries a canonical 44-byte WAV header (PCM, 2 ch, 16 kHz,
    // 16-bit) + 320 data bytes -> 80 frames; the rest are the sentinel row.
    "q63_audio_meta" -> ((sp, dir) => {
      val d = table(sp, dir, "documents").select(col("doc_id"),
        when(pmod(col("doc_id"), lit(7L)) === 0L, lit(testWav))
          .otherwise(col("text").cast("binary")).as("data"))
      Multimodal.audioMeta(d, "doc_id", "data")
    }),

    // Multimodal: video container metadata from a real ISO-BMFF box walk.
    // Every 6th doc carries a minimal mp4 (ftyp isom + moov/mvhd v0 with
    // timescale 1000, duration 5000 ticks, 2 trak boxes); the rest are
    // text bytes -> the sentinel row.
    "q68_video_meta" -> ((sp, dir) => {
      val d = table(sp, dir, "documents").select(col("doc_id"),
        when(pmod(col("doc_id"), lit(6L)) === 0L, lit(testMp4))
          .otherwise(col("text").cast("binary")).as("data"))
      Multimodal.videoMeta(d, "doc_id", "data")
    }),

    // Temperature-scaled mixture weights: the alpha-smoothed language mix
    // (alpha = 0.5) every multilingual pretraining recipe computes — one
    // corpus-count pass, then per-stratum math on a handful of rows.
    "q69_temperature_mix" -> ((sp, dir) =>
      graft.functions.Sampling.temperatureWeights(
        table(sp, dir, "documents").select("lang"), "lang", 0.5)),

    // Segment-level exact dedup (RefinedWeb/C4-style): segments delimited
    // by the corpus's commonest token keep only their global first
    // occurrence; docs reassemble from the survivors. First-occurrence is
    // a min-struct aggregate (map-side combining), never a rank window.
    "q70_segment_dedup" -> ((sp, dir) =>
      Dedup.dedupSegments(table(sp, dir, "documents"), "doc_id", "text",
          delim = " the ", joiner = " | ")
        .select(col("id").as("doc_id"), col("n_segs"), col("n_kept"),
          col("clean_text"))),

    // Count-min sketch: 4x64 sketch over the corpus token stream, probed
    // with the full vocabulary — (token, exact count, CMS estimate);
    // est >= true always, overestimates mark bucket collisions. The
    // sketch shuffle is at most depth*width cells per map partition.
    "q71_cms_counts" -> ((sp, dir) => {
      // parallelized: the 4 md5 cell hashes per token are the map-side
      // cost, and a single-row-group file hands them to ONE task
      val toks = graft.sources.Scans.parallelized(
          table(sp, dir, "documents").select(col("text")))
        .select(explode(TF.tokens(col("text"))).as("tok"))
      val sketch = graft.functions.Sketches.cmsSketch(toks, "tok", 4, 64, "q71")
      val truth = toks.groupBy("tok").agg(count(lit(1)).as("true_cnt"))
      graft.functions.Sketches.cmsLookup(sketch, truth.select("tok"), "tok", 4, 64, "q71")
        .join(truth, "tok")
        .select(col("tok"), col("true_cnt"), col("est"))
    }),

    // HyperLogLog: 2^8-register distinct-token estimate next to the exact
    // count — registers are a max aggregate (sketch-sized shuffle), the
    // estimator folds registers in order (bit-exact, oracle-replayable).
    "q72_hll_distinct" -> ((sp, dir) => {
      val toks = graft.sources.Scans.parallelized(
          table(sp, dir, "documents").select(col("text")))
        .select(explode(TF.tokens(col("text"))).as("tok"))
      val est = graft.functions.Sketches.hllEstimate(
        graft.functions.Sketches.hllSketch(toks, "tok", 8, "q72"), 8)
      est.crossJoin(broadcast(
        toks.agg(countDistinct(col("tok")).as("exact_distinct"))))
    }),

    // Bloom-filter membership: filter built from even docs' texts (4096
    // bits, k=3), probed with every doc's text — evens always present (no
    // false negatives), odds only on text collision or designed-rate false
    // positives. The cheap "seen in history?" pre-filter for crawl dedup.
    "q73_bloom_probe" -> ((sp, dir) => {
      val d = table(sp, dir, "documents")
      val bits = graft.functions.Sketches.bloomBits(
        d.where(pmod(col("doc_id"), lit(2L)) === 0L), "text", 4096L, 3, "q73")
      graft.functions.Sketches.bloomProbe(bits,
        d.select(col("doc_id"), col("text")), "text", 4096L, 3, "q73")
        .select(col("doc_id"), col("present"))
    }),

    // BM25 retrieval: every 50th doc's first 8 tokens as a query, top-10
    // docs per query over the corpus inverted index. Postings stay put
    // (term-keyed join against a broadcast query set); scores fold
    // contributions in sorted term order — engine-exact, rounded 6 dp.
    "q74_bm25" -> ((sp, dir) => {
      val d = table(sp, dir, "documents")
      val q = d.where(pmod(col("doc_id"), lit(50L)) === 0L)
        .select(col("doc_id").as("qid"),
          array_join(slice(TF.tokens(lower(col("text"))), 1, 8), " ").as("qtext"))
      graft.functions.TfIdf.bm25TopK(d, "doc_id", "text", q, "qid", "qtext", 10)
    }),

    // Dedup policy: MinHash near-dup clusters (q17's pair graph) keep the
    // HIGHEST-QUALITY member, ties to smallest id — "keep the best copy",
    // not "drop every collision". One cluster-keyed window shuffle.
    "q75_cluster_canonical" -> ((sp, dir) => {
      val d = graft.sources.Scans.parallelized(table(sp, dir, "documents"))
      val pairs = Dedup.nearDupPairs(d, "text", "doc_id",
          k = 16, bands = 4, shingleN = 5, threshold = 0.5)
        .select(col("id_a").as("a"), col("id_b").as("b"))
      val docs = d.select(col("doc_id").as("id"),
        round(TF.qualityScore(col("text")), 6).as("quality"))
      Dedup.canonicalByQuality(pairs, docs)
    }),

    // Fixed-size stratified take: exactly 20 docs per language by salted-
    // hash order — the deterministic eval-set quota. WindowGroupLimit keeps
    // the per-stratum shuffle bounded at n rows per map partition.
    "q76_stratified_take" -> ((sp, dir) =>
      graft.functions.Sampling.takeNPerStratum(
        table(sp, dir, "documents").select(col("doc_id"), col("lang")),
        "doc_id", "lang", 20)),

    // Exact 1/30-share heavy hitters via the sketch-gated two-pass plan:
    // CMS nominates (complete by est >= true), the exact pass counts only
    // candidate rows and re-applies the threshold. Oracle is the plain
    // exact HAVING — the sketch shapes the plan, never the answer.
    "q77_heavy_hitters" -> ((sp, dir) => {
      val toks = graft.sources.Scans.parallelized(
          table(sp, dir, "documents").select(col("text")))
        .select(explode(TF.tokens(col("text"))).as("tok"))
      graft.functions.Sketches.heavyHittersByShare(toks, "tok", 30L, 4, 64, "q77")
    }),

    // BM25 through the PERSISTED term-bucketed index: the corpus pays
    // tokenize+aggregate once at write time, the probe is one broadcast
    // join against the layout. Same corpus + query set as q74, so the
    // oracle is q74's replay verbatim — probe == direct, bit for bit.
    // Built once per dataset version (Verify/Bench run every query in one
    // session); the name carries the full sanitized dir path + source
    // mtime, so path collisions and stale in-session rebuilds can't alias.
    // 32 buckets: a bucketed scan is one task per bucket, so the bucket
    // count is the probe's map parallelism floor (8 capped the 16×
    // fixture's 44 M-match probe at a quarter of the machine).
    "q78_bm25_index" -> ((sp, dir) => {
      val d = table(sp, dir, "documents")
      val tbl = s"graft_bm25_idx_${datasetStamp(dir)}"
      if (!sp.catalog.tableExists(tbl))
        graft.functions.TfIdf.writeBm25Index(d, "doc_id", "text", tbl, nBuckets = 32)
      val q = d.where(pmod(col("doc_id"), lit(50L)) === 0L)
        .select(col("doc_id").as("qid"),
          array_join(slice(TF.tokens(lower(col("text"))), 1, 8), " ").as("qtext"))
      graft.functions.TfIdf.bm25AgainstIndex(q, "qid", "qtext", tbl, 10)
    }),

    // Weighted sampling WITHOUT replacement: 15 docs per language, win
    // probability ∝ doc length — the A-ES exponential race over the salted
    // hash, fully SQL-replayable (race times rounded 6 dp, ties by id).
    "q79_weighted_take" -> ((sp, dir) => {
      val d = table(sp, dir, "documents").select(col("doc_id"), col("lang"),
        greatest(col("n_chars"), lit(1L)).as("w"))
      graft.functions.Sampling.weightedTakeN(d, "doc_id", "w", "lang", 15, salt = "q79")
    }),

    // Model-based quality filter shape: feature-hashing linear classifier
    // score per doc. The dot product is a pure integer sum (engine-exact in
    // any addition order); only the final normalize + sigmoid are floats,
    // rounded 6 dp. Zero shuffle — one codegen'd fold fused into the scan.
    "q80_quality_classifier" -> ((sp, dir) =>
      table(sp, dir, "documents").select(col("doc_id"),
        TF.hashedLinearScore(col("text"), dim = 64, salt = "q80").as("qscore"))),

    // Exact-substring dedup metric: per doc, the fraction of token
    // positions covered by a 5-token window that occurs more than once in
    // the corpus. Gram counting is one map-side-combining aggregate;
    // coverage is the per-doc running-max interval merge.
    "q81_dup_span_fraction" -> ((sp, dir) =>
      Dedup.dupSpanFraction(table(sp, dir, "documents"), "doc_id", "text", 5)),

    // SemDeDup-shaped semantic dedup: 8 hash-selected anchors define the
    // cells (anchor literals folded into one codegen'd assignment — zero
    // shuffle), then within-cell cosine >= 0.4 drops the larger id.
    // Survivors + their cell, fully SQL-replayable.
    "q82_semantic_dedup" -> ((sp, dir) => {
      val e = table(sp, dir, "embeddings")
      val anchors = graft.functions.Similarity.hashAnchors(e, 8, salt = "q82")
      graft.functions.Similarity.semanticDedup(e, anchors, 0.4)
    }),

    // Window coverage fraction: 500 quantile windows over the order-span
    // range, covered by the SPARSE subset of spans (orderkey % 10 == 0) —
    // per window, merged-overlap time / window duration. The per-epoch
    // artifact/coverage metric of the reference's home domain.
    "q83_window_coverage" -> ((sp, dir) => {
      val os = orderSpans(sp, dir)
      val sub = os.where(pmod(col("o_orderkey"), lit(10L)) === 0L)
      val win = windowsOver(os, 500, "idx")
      graft.operators.IntervalOps.windowCoverage(win, sub, Seq("idx"))
        .select(col("idx"), col("span.start").as("ws"),
          col("span.stop").as("we"), col("covered"), col("coverage"))
    }),

    // Hybrid retrieval: reciprocal-rank fusion of the BM25 lexical top-10
    // with the brute-force cosine top-10 over the same query ids —
    // rank-based, so no score calibration; the two-term sum is
    // engine-exact. Both inputs are k-bounded per query before the fuse.
    // The BM25 side goes through the PERSISTED index (shared with q78 and
    // bit-identical to the direct q74 path, so the oracle replay is
    // unchanged) — the shape a production hybrid stack runs, and it keeps
    // the corpus tokenize+aggregate out of every fusion query.
    "q84_hybrid_rrf" -> ((sp, dir) => {
      val d = table(sp, dir, "documents")
      val tbl = s"graft_bm25_idx_${datasetStamp(dir)}"
      if (!sp.catalog.tableExists(tbl))
        graft.functions.TfIdf.writeBm25Index(d, "doc_id", "text", tbl, nBuckets = 32)
      val q = d.where(pmod(col("doc_id"), lit(50L)) === 0L)
        .select(col("doc_id").as("qid"),
          array_join(slice(TF.tokens(lower(col("text"))), 1, 8), " ").as("qtext"))
      val bm = graft.functions.TfIdf.bm25AgainstIndex(q, "qid", "qtext", tbl, 10)
        .select(col("qid"), col("doc_id"), col("rank"))
      val e = table(sp, dir, "embeddings")
      val vq = e.where(pmod(col("vec_id"), lit(50L)) === 0L)
      val vec = graft.functions.Similarity.bruteForceTopK(e, vq, 10)
        .select(col("q_id").as("qid"), col("vec_id").as("doc_id"), col("rank"))
      graft.functions.TfIdf.rrfFuse(bm, vec, "qid", "doc_id", "rank", 10)
    }),

    // Spelling-variant pairs over the token vocabulary: FastSS deletion
    // neighborhoods make the candidate scan a bucketed equi-join (never
    // all-pairs), the exact levenshtein verifies — typo clustering, a
    // normalization pass before token-level stats. The synthetic corpus
    // has no natural typos, so a deterministic first-char-to-z variant is
    // planted for a third of the vocabulary (hash-selected, replayed
    // verbatim by the oracle) — the pairs recovered must be exactly the
    // planted substitutions.
    "q85_spelling_pairs" -> ((sp, dir) => {
      val toks = table(sp, dir, "documents")
        .select(explode(TF.tokens(lower(col("text")))).as("tok"))
        .where(length(col("tok")).between(3, 20)).distinct()
      val typos = toks.where(TF.tokenHashMod(col("tok")) % 3 === 0)
        .select(concat(lit("z"), expr("substr(tok, 2)")).as("tok"))
      val vocab = toks.union(typos).distinct()
      Dedup.editDistance1Pairs(
        vocab.select(col("tok").as("tid"), col("tok").as("tstr")), "tid", "tstr")
        .select(col("str_a"), col("str_b"), col("dist"))
    }),

    // Data profiling: per-column health summary of the documents table in
    // ONE aggregate pass (rows/nulls/exact distinct/min/max-as-string) —
    // the schema-drift and null-regression gate of a production ingest.
    "q86_profile" -> ((sp, dir) =>
      graft.functions.Profiling.profile(table(sp, dir, "documents"),
        Seq("doc_id", "lang", "source", "n_chars"))),

    // Delegated: event-time HOPPING window aggregation (1 h windows every
    // 30 min — each event lands in two) via Spark's built-in window();
    // epoch-aligned starts replayed as integer arithmetic in the oracle.
    // The summed value goes through floor(value*1000) so the aggregate is
    // an exact integer in any addition order.
    "q87_hopping_window" -> ((sp, dir) =>
      table(sp, dir, "events")
        .select(col("event_type"), col("ts").cast("timestamp").as("t"),
          floor(col("value") * 1000).cast("long").as("v"))
        .groupBy(window(col("t"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), sum("v").as("sum_v"))
        .select(unix_micros(col("window.start")).as("ws"),
          unix_micros(col("window.end")).as("we"),
          col("event_type"), col("cnt"), col("sum_v"))),

    // Snapshot diff (dataset-versioning CDC): v2 is v1 with hash-selected
    // deterministic mutations — drops (doc_id % 97 == 0), text edits
    // (hash % 7 == 0), and synthetic additions (doc_id % 101 == 0,
    // re-keyed +10^6). The diff must recover exactly those deltas.
    "q88_snapshot_diff" -> ((sp, dir) => {
      val v1 = table(sp, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      val kept = v1.where(pmod(col("doc_id"), lit(97L)) =!= 0L)
        .withColumn("text",
          when(TF.tokenHashMod(col("text")) % 7 === 0,
            concat(col("text"), lit(" [v2]"))).otherwise(col("text")))
      val added = v1.where(pmod(col("doc_id"), lit(101L)) === 0L)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"), col("lang"))
      val v2 = kept.unionByName(added)
      graft.functions.Profiling.diffSnapshots(v1, v2, "doc_id", Seq("text", "lang"))
    }),

    // Per-language quality floor: keep docs at or above their language's
    // exact interpolated 75th-percentile quality — "top quarter per
    // domain". The threshold is rounded 6 dp on both sides so a sub-ulp
    // interpolation difference can never flip a boundary row. Exact
    // percentile buffers each language's values in one task BY CHOICE
    // (the oracle needs exactness); approx_percentile is the sketch path
    // at the 100 TB end, same plan otherwise.
    "q89_quality_cut" -> ((sp, dir) => {
      val d = table(sp, dir, "documents").select(col("doc_id"), col("lang"),
        TF.qualityScore(col("text")).as("quality"))
      val thr = d.groupBy("lang")
        .agg(round(expr("percentile(quality, 0.75)"), 6).as("thr"))
      d.join(broadcast(thr), "lang").where(col("quality") >= col("thr"))
        .select(col("doc_id"), col("lang"), col("quality"))
    }),

    // Deterministic negative sampling for contrastive pairs: each doc
    // pairs with the docs at offsets {1, 7} after it on the global
    // hash-shuffle ring — uniform-random in content space, reproducible,
    // and scale-safe (the shuffle index is the bucket-offset prefix sum;
    // pairing is one self-equi-join on the ring position per offset).
    "q90_negative_pairs" -> ((sp, dir) => {
      val d = table(sp, dir, "documents").select(col("doc_id"))
      val idx = graft.functions.Sampling.globalShuffle(d, "doc_id", salt = "q90")
      val withN = idx.crossJoin(broadcast(idx.agg((max("idx") + 1L).as("__n"))))
      val targets = idx.select(col("doc_id").as("neg_id"), col("idx").as("__tidx"))
      val offs = Seq(1L, 7L)
      offs.map { off =>
        withN.select(col("doc_id"), lit(off).as("off"),
            pmod(col("idx") + off, col("__n")).as("__tidx"))
          .join(targets, "__tidx")
          .select(col("doc_id"), col("off"), col("neg_id"))
      }.reduce(_ unionByName _)
        .where(col("doc_id") =!= col("neg_id"))
    }),

    // Peak-load profile: max simultaneously-active order spans per customer
    // (q39's overlapping A fixture) + the earliest instant the peak is hit.
    // One key-keyed shuffle; the groupBy reuses the window Exchange.
    "q91_concurrency" -> ((sp, dir) => {
      val (a, _) = setOpFixtures(sp, dir)
      graft.operators.IntervalOps.maxConcurrency(a, Seq("o_custkey"), "span")
    }),

    // SCD Type-2 build from the events table as an append-only change log:
    // per user, event_type runs become half-open validity intervals;
    // consecutive repeats collapse. Exact integer-ns endpoints.
    "q92_scd2" -> ((sp, dir) => {
      val ev = table(sp, dir, "events").select(col("user_id"), col("event_id"),
        col("event_type"),
        expr("unix_micros(cast(ts as timestamp)) * 1000").as("t"))
      graft.functions.Profiling.scd2(ev, "user_id",
        Seq("t", "event_id"), Seq("event_type"))
    }),

    // Allen-relation classification of deterministic per-order span pairs:
    // B starts (o_orderkey%25)-12 days around A's start, so both orders of
    // every endpoint comparison occur. Pure codegen'd CASE — no join, no
    // shuffle; the classifier column composes with any interval join output.
    "q93_allen" -> ((sp, dir) => {
      val day = 86400000000000L
      val startNs = unix_micros(col("o_orderdate").cast("timestamp")) * 1000L
      val a = IntervalCols.interval(startNs,
        startNs + (pmod(col("o_orderkey"), lit(30L)) + 1L) * lit(day))
      val bs = startNs + (pmod(col("o_orderkey"), lit(25L)) - 12L) * lit(day)
      val b = IntervalCols.interval(bs,
        bs + (pmod(col("o_orderkey"), lit(45L)) + 1L) * lit(day))
      table(sp, dir, "orders")
        .select(col("o_orderkey"), IntervalCols.allenRelation(a, b).as("rel"))
    }),

    // Skew-mitigating salted equi-join: lineitem (probe, salted 4 ways by a
    // full-row hash) x orders (build, replicated per salt), joined on
    // (l_orderkey, salt) — row-identical to the plain join, so the oracle
    // IS the plain join. The hot-key spread is the point at 100 TB; the
    // aggregate keeps the checked output small.
    "q98_salted_join" -> ((sp, dir) => {
      val l = table(sp, dir, "lineitem").select("l_orderkey", "l_quantity")
      val o = table(sp, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      graft.operators.SkewJoin.saltedJoin(l, o, Seq("l_orderkey"), nSalts = 4)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"))
    }),

    // Delegated: trailing event-time rolling aggregates — per user, the
    // count and sum of the preceding hour (RANGE frame over exact ns
    // longs; the measure integer-ized so the sum is order-exact).
    "q99_rolling_window" -> ((sp, dir) => {
      val e = table(sp, dir, "events").select(col("user_id"), col("event_id"),
        expr("unix_micros(cast(ts as timestamp)) * 1000").as("t"),
        floor(col("value") * 1000).cast("long").as("v"))
      val w = Window.partitionBy("user_id").orderBy("t")
        .rangeBetween(-3600000000000L, 0L)
      e.select(col("user_id"), col("event_id"), col("t"),
        count(lit(1)).over(w).as("roll_n"), sum("v").over(w).as("roll_sum"))
    }),

    // One spherical k-means (Lloyd) iteration from deterministic hash
    // anchors: cosine-argmax assignment (zero-shuffle codegen'd fold) +
    // fixed-point centroid means (order-exact long sums). Chained, this is
    // the IVF coarse-quantizer trainer.
    // The centroid array serializes to comma-joined 6-dp fixed-point longs
    // (round(x*1e6) is exact on 6-dp-rounded doubles; BIGINT renders
    // identically in both engines, unlike double->string) — driver pandas
    // sort cannot canonicalize array columns (q51 rule).
    "q100_kmeans_step" -> ((sp, dir) => {
      val e = table(sp, dir, "embeddings")
      val anchors = graft.functions.Similarity.hashAnchors(e, 6, salt = "q100")
      graft.functions.Similarity.kmeansStep(e, anchors)
        .select(col("cell"), col("n"),
          array_join(transform(col("centroid"),
            x => round(x * 1e6, 0).cast("long").cast("string")), ",")
            .as("centroid"))
    }),

    // I1 specialization: WITHIN-DISTANCE ("near") interval join — event
    // spans within 30 min of a window, found by expanding the window side
    // by d and running the standard overlap join (same Auto strategy /
    // broadcast as q02); the gap to the ORIGINAL window rides along
    // (0 = genuinely overlapping).
    "q101_near_join" -> ((sp, dir) => {
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
    }),

    // Character-level Shannon entropy per doc — gibberish/base64 detector.
    // One-pass imperative fast path, bit-identical to the Column path
    // (parity-pinned): terms rounded 6 dp, folded in code-point order
    // (q94's engine-stability rule). The Column path's per-character
    // explode shuffle measured 7x slower at sf0.1.
    "q102_char_entropy" -> ((sp, dir) =>
      TF.charEntropyFast(table(sp, dir, "documents"), "doc_id", "text")),

    // Ordered first-touch funnel view -> click -> purchase per user:
    // stage aggregates and key-sized joins only, the event stream is never
    // self-joined at event granularity.
    "q103_funnel" -> ((sp, dir) => {
      val e = table(sp, dir, "events").select(col("user_id"), col("event_type"),
        expr("unix_micros(cast(ts as timestamp)) * 1000").as("t"))
      graft.functions.EventOps.funnel(e, Seq("user_id"), "event_type", "t",
        Seq("view", "click", "purchase"))
    }),

    // Gaps-and-islands: maximal consecutive event_id runs per user via the
    // id - row_number() trick — no self-join, one key-keyed shuffle.
    "q104_islands" -> ((sp, dir) =>
      graft.functions.EventOps.islands(
        table(sp, dir, "events").select("user_id", "event_id"),
        Seq("user_id"), "event_id")),

    // Time-weighted mean of the piecewise-constant per-user signal (value
    // held over each event span) — decimal-exact weighting, one aggregate.
    "q105_time_weighted" -> ((sp, dir) => {
      val es = eventSpans(sp, dir)
        .select(col("user_id"), col("span"),
          floor(col("value") * 1000).cast("long").as("v"))
      graft.operators.IntervalOps.timeWeightedMean(es, Seq("user_id"),
        "span", "v")
    }),

    // As-of resample onto a regular grid: each of 500 global quantile-grid
    // starts stabs into the per-user value spans — the downsampling shape
    // for held signals. Composition of q01 + q60's machinery.
    "q106_grid_resample" -> ((sp, dir) => {
      val es = eventSpans(sp, dir)
        .select(col("user_id"), col("span"),
          floor(col("value") * 1000).cast("long").as("v"))
      val pts = windowsOver(eventSpans(sp, dir), 500, "idx")
        .select(col("idx"), col("span.start").as("t"))
      IntervalJoin.stabJoin(pts, es, "t" -> "span")
        .select(col("idx"), col("t"), col("user_id"), col("v"))
    }),

    // Delegated: per-language rank (quantile) normalization of the quality
    // score — percent_rank is (rank-1)/(n-1) on exact integers, ties share
    // a rank, single-row groups are 0 by definition in both engines.
    "q107_rank_normalize" -> ((sp, dir) => {
      val d = table(sp, dir, "documents").select(col("doc_id"), col("lang"),
        TF.qualityScore(col("text")).as("quality"))
      val w = Window.partitionBy("lang").orderBy("quality")
      d.select(col("doc_id"), col("lang"), col("quality"),
        round(percent_rank().over(w), 6).as("qnorm"))
    }),

    // Deterministic Pearson correlation per event type: decimal-exact
    // moment sums, closed form in double only at the very end (built-in
    // corr's double merge order is not reproducible across runs/engines).
    "q108_exact_corr" -> ((sp, dir) => {
      val e = table(sp, dir, "events").select(col("event_type"),
        floor(col("value") * 1000).cast("long").as("x"),
        get_json_object(col("props"), "$.k").cast("long").as("y"))
        .where(col("y").isNotNull)
      graft.functions.Profiling.exactCorr(e, Seq("event_type"), "x", "y")
    }),

    // CDC WRITE half: apply q88's delta shapes (deletes %97, text upserts
    // by token hash %7, inserts %101 re-keyed +1e6) to the base snapshot —
    // the result must equal q88's v2 exactly.
    "q109_apply_changes" -> ((sp, dir) => {
      val v1 = table(sp, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      val deletes = v1.where(pmod(col("doc_id"), lit(97L)) === 0L)
        .withColumn("op", lit("delete"))
      val edits = v1.where(pmod(col("doc_id"), lit(97L)) =!= 0L &&
          TF.tokenHashMod(col("text")) % 7 === 0)
        .withColumn("text", concat(col("text"), lit(" [v2]")))
        .withColumn("op", lit("upsert"))
      val adds = v1.where(pmod(col("doc_id"), lit(101L)) === 0L)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
          col("lang"))
        .withColumn("op", lit("upsert"))
      graft.functions.Profiling.applyDelta(v1,
        deletes.unionByName(edits).unionByName(adds), "doc_id", "op")
    }),

    // Delegated: equi-depth (ntile) histogram of the integer-scaled value
    // per event type — deterministic bucketing on the unique (v, event_id)
    // order, identical remainder rule in both engines.
    "q110_equidepth_hist" -> ((sp, dir) => {
      val e = table(sp, dir, "events").select(col("event_type"),
        floor(col("value") * 1000).cast("long").as("v"), col("event_id"))
      val w = Window.partitionBy("event_type").orderBy("v", "event_id")
      e.select(col("event_type"), col("v"), ntile(8).over(w).as("bucket"))
        .groupBy("event_type", "bucket")
        .agg(min("v").as("lo"), max("v").as("hi"), count(lit(1)).as("n"))
    }),

    // PII detection counts over q55's planted fixture — the audit metric
    // next to redaction: per doc, how many emails/phones a scan finds.
    // Pure codegen'd regexp counts fused into the scan.
    "q116_pii_counts" -> ((sp, dir) => {
      val planted = concat(
        substring(col("text"), 1, 40),
        lit(" contact: user"), col("doc_id").cast("string"),
        lit("@example.com or +1 555-00"),
        pmod(col("doc_id"), lit(100L)).cast("string"), lit("1"))
      table(sp, dir, "documents").select(col("doc_id"),
          size(regexp_extract_all(planted, lit(TF.EmailPattern), lit(0)))
            .as("n_email"),
          size(regexp_extract_all(planted, lit(TF.PhonePattern), lit(0)))
            .as("n_phone"))
        .withColumn("has_pii", col("n_email") > 0 || col("n_phone") > 0)
    }),

    // Language-ID confusion matrix: the model-eval rollup of q10's
    // heuristic against the labeled lang column — (actual, predicted)
    // counts, one aggregate.
    "q117_lang_confusion" -> ((sp, dir) =>
      table(sp, dir, "documents")
        .select(col("lang"), TF.langId(col("text")).as("pred"))
        .groupBy("lang", "pred").agg(count(lit(1)).as("n"))),

    // Interval ANTI join: event spans overlapping NO sparse window (every
    // 7th) — keepleft outer + null filter, so every physical strategy of
    // I1/I2 applies unchanged.
    "q118_interval_anti" -> ((sp, dir) => {
      val es = eventSpans(sp, dir)
        .select(col("user_id"), col("span.start").as("s"),
          col("span.stop").as("e"), col("span"))
      val win = windowsOver(eventSpans(sp, dir), 100, "idx")
        .where(pmod(col("idx"), lit(7L)) === 0L)
      IntervalJoin.intervalJoin(es, win, "span", Options(keepleft = true))
        .where(col("idx").isNull)
        .select(col("user_id"), col("s"), col("e"))
    }),

    // Interval SEMI join: distinct event spans overlapping at least one
    // sparse window — inner join + distinct on the left identity.
    "q119_interval_semi" -> ((sp, dir) => {
      val es = eventSpans(sp, dir)
        .select(col("user_id"), col("span.start").as("s"),
          col("span.stop").as("e"), col("span"))
      val win = windowsOver(eventSpans(sp, dir), 100, "idx")
        .where(pmod(col("idx"), lit(7L)) === 0L)
      IntervalJoin.intervalJoin(es, win, "span")
        .select(col("user_id"), col("s"), col("e")).distinct()
    }),

    // User journey paths: the ordered event-type sequence (first 10) per
    // user — one key-keyed aggregate; the sort happens inside the per-key
    // collected array, never as a global sort.
    "q112_user_paths" -> ((sp, dir) => {
      val e = table(sp, dir, "events").select(col("user_id"),
        expr("unix_micros(cast(ts as timestamp)) * 1000").as("t"),
        col("event_id"), col("event_type"))
      e.groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sort_array(collect_list(struct(col("t"), col("event_id"),
            col("event_type")))).as("__xs"))
        .select(col("user_id"), col("n_events"),
          concat_ws(">", transform(slice(col("__xs"), 1, 10),
            x => x.getField("event_type"))).as("path"))
    }),

    // First-order Markov transition matrix over the per-user event stream:
    // lag pairs -> (from, to) counts -> row-normalized probabilities
    // (exact long counts; the one division is deterministic).
    "q113_transitions" -> ((sp, dir) => {
      val e = table(sp, dir, "events").select(col("user_id"),
        expr("unix_micros(cast(ts as timestamp)) * 1000").as("t"),
        col("event_id"), col("event_type"))
      val w = Window.partitionBy("user_id").orderBy("t", "event_id")
      val pairs = e.select(col("event_type").as("to_type"),
          lag(col("event_type"), 1).over(w).as("from_type"))
        .where(col("from_type").isNotNull)
        .groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
      val tot = pairs.groupBy("from_type").agg(sum("n").as("__tot"))
      pairs.join(tot, "from_type")
        .select(col("from_type"), col("to_type"), col("n"),
          round(col("n") / col("__tot"), 6).as("p"))
    }),

    // Top event type per tumbling hour by count — per-window rank on the
    // unique (count desc, type) ordering, rank computed after the counts
    // collapse (window-count-sized, not event-sized).
    "q114_window_topk" -> ((sp, dir) => {
      val e = table(sp, dir, "events").select(
        expr("unix_micros(cast(ts as timestamp)) * 1000 div 3600000000000")
          .as("hw"), col("event_type"))
      val counts = e.groupBy("hw", "event_type").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("hw").orderBy(col("n").desc, col("event_type"))
      counts.select(col("hw"), col("event_type"), col("n"),
          row_number().over(w).as("__rn"))
        .where(col("__rn") === 1).drop("__rn")
    }),

    // Per-label embedding prototypes + pairwise prototype cosine — the
    // class-similarity audit. Fixed-point centroid means (q100's rule),
    // then an all-pairs join over the handful of labels (broadcast-sized
    // BY CONSTRUCTION: one row per label survives the aggregate).
    "q115_label_centroids" -> ((sp, dir) => {
      val e = table(sp, dir, "embeddings")
        .select(col("label"), col("embedding").cast("array<double>").as("v"))
      val cent = e.select(col("label"), posexplode(col("v")).as(Seq("__d", "__x")))
        .groupBy("label", "__d")
        .agg(sum(floor(col("__x") * 1e6)).as("__fx"), count(lit(1)).as("__cnt"))
        .groupBy("label")
        .agg(transform(
          sort_array(collect_list(struct(col("__d"),
            round(col("__fx").cast("double") / 1e6 / col("__cnt"), 6).as("__c")))),
          x => x.getField("__c")).as("cv"))
      val a = cent.select(col("label").as("label_a"), col("cv").as("va"))
      val b = cent.select(col("label").as("label_b"), col("cv").as("vb"))
      a.join(b, col("label_a") < col("label_b"))
        .select(col("label_a"), col("label_b"),
          round(Similarity.dot(col("va"), col("vb")) /
            (sqrt(Similarity.dot(col("va"), col("va"))) *
              sqrt(Similarity.dot(col("vb"), col("vb")))), 4).as("cos"))
    }),

    // Weekly active/retained cohorts: epoch-aligned integer week ids,
    // distinct (user, week) frames joined on week+1 — count arithmetic
    // only, the event stream collapses to user-week before any join.
    "q111_retention" -> ((sp, dir) => {
      val e = table(sp, dir, "events")
        .select(col("user_id"),
          expr("unix_micros(cast(ts as timestamp)) * 1000 div 604800000000000")
            .as("week"))
        .distinct()
      val act = e.groupBy("week").agg(count(lit(1)).as("n_active"))
      val ret = e.as("a").join(e.as("b"),
          col("a.user_id") === col("b.user_id") &&
            col("b.week") === col("a.week") + 1L)
        .groupBy(col("a.week").as("week"))
        .agg(count(lit(1)).as("n_ret"))
      act.join(ret, Seq("week"), "left")
        .select(col("week"), col("n_active"),
          coalesce(col("n_ret"), lit(0L)).as("n_retained"))
    }),

    // Bigram conditional surprisal: one Markov order up from q59 — mean
    // -ln P(w2|w1) under the corpus MLE bigram LM. Same sorted-fold float
    // determinism; context counts derive from the aggregated bigram counts.
    "q94_bigram_surprisal" -> ((sp, dir) =>
      TF.bigramSurprisal(table(sp, dir, "documents"), "doc_id", "text")),

    // SQ8 scalar quantization of the embedding corpus: per-dim global
    // [min,max] -> int codes in [0,255] + squared reconstruction error.
    // Stats pass ships dim rows; the corpus itself never shuffles. The
    // code array serializes to a comma-joined string for the gate (the
    // driver's pandas sort cannot canonicalize array columns — q51 rule).
    "q95_sq8" -> ((sp, dir) =>
      Similarity.scalarQuantize(table(sp, dir, "embeddings"),
        "vec_id", "embedding")
        .select(col("vec_id"),
          concat_ws(",", col("codes").cast("array<string>")).as("codes"),
          col("err"))),

    // Data-quality expectation suite: five row rules + one uniqueness rule
    // over documents, ONE aggregate over ONE scan. Two rules are planted to
    // fail (len>=100, latin-only langs) so both outcomes are exercised.
    "q96_expectations" -> ((sp, dir) =>
      graft.functions.Profiling.expectations(table(sp, dir, "documents"),
        Seq(
          "doc_id_not_null" -> col("doc_id").isNotNull,
          "text_min_100" -> (length(col("text")) >= 100),
          "lang_allowed" -> col("lang").isin("en", "de", "fr", "es", "zh"),
          "lang_latin_only" -> col("lang").isin("en", "de", "fr", "es"),
          "n_chars_consistent" -> (col("n_chars") === length(col("text")))),
        Seq("doc_id_unique" -> Seq("doc_id")))),

    // Asymmetric near-dup: n-gram containment in BOTH directions over the
    // q13 consecutive-pair fixture — catches doc-inside-doc inclusion that
    // symmetric Jaccard dilutes. Same materialize-once shingle discipline.
    "q97_containment" -> ((sp, dir) => {
      val g = table(sp, dir, "documents")
        .repartition(sp.sparkContext.defaultParallelism)
        .select(col("doc_id"), TF.shingles(col("text"), 3).as("sh"))
        .localCheckpoint(true)
      val a = g.select(col("doc_id").as("doc_a"), col("sh").as("sa"))
      val b = g.select(col("doc_id").as("doc_b"), col("sh").as("sb"))
      a.join(b, col("doc_b") === col("doc_a") + 1L)
        .select(col("doc_a"), col("doc_b"),
          round(size(array_intersect(col("sa"), col("sb"))).cast("double") /
            nullif(size(col("sa")).cast("double"), lit(0.0)), 6).as("cont_ab"),
          round(size(array_intersect(col("sa"), col("sb"))).cast("double") /
            nullif(size(col("sb")).cast("double"), lit(0.0)), 6).as("cont_ba"))
    }),

    // Numeric band join: same-type event pairs within one integer cent of
    // each other, via BandJoin's bucketed equi-join (floor(v/δ) buckets,
    // left replicated into ±1, exact predicate re-check) — the value-space
    // analogue of the binned interval join; the naive theta-join plan is a
    // nested-loop scan. Values quantize to exact integer cents first
    // (`round(value·100)` longs) so bucket ids and the band predicate are
    // pure integer arithmetic — no float quotient can shift a boundary
    // bucket in either engine.
    "q120_band_join" -> ((sp, dir) => {
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
    }),

    // Gopher-style rule-based quality filter: the seven surface-statistic
    // rules (word count, mean word length, symbol/bullet/ellipsis ratios,
    // alpha-word fraction, stopword hits) as one codegen'd projection.
    "q121_gopher_rules" -> ((sp, dir) =>
      TF.gopherFlags(table(sp, dir, "documents"), "doc_id", "text")
        .withColumnRenamed("id", "doc_id")),

    // Deterministic EWMA (alpha = 1/2) of each user's value sequence:
    // power-of-two weights so every term is exact IEEE arithmetic, summed
    // as floor(term·1e6) fixed-point longs (order-exact under any
    // partitioning). ONE key shuffle.
    "q122_ewma" -> ((sp, dir) => {
      val e = table(sp, dir, "events").select(col("user_id"),
        expr("unix_micros(cast(ts as timestamp)) * 1000").as("t"),
        col("event_id"), col("value"))
      graft.functions.EventOps.ewma(e, Seq("user_id"), "t", "value", "event_id")
    }),

    // Robust per-type outliers via exact median/MAD: |z| > 3 under
    // z = (v - med) / (1.4826·MAD), med/MAD rounded 6 dp (q89 discipline),
    // z rounded 4 dp before the cut.
    "q123_mad_outliers" -> ((sp, dir) =>
      graft.functions.Profiling.robustOutliers(
        table(sp, dir, "events").select(col("event_id"), col("event_type"),
          col("value")),
        Seq("event_type"), "value")
        .select(col("event_id"), col("event_type"), col("value"), col("z"))),

    // One PageRank power-iteration step over the q113 event-type
    // transition graph (row-normalized Markov weights): fixed-point
    // in-edge sums, dst-keyed aggregate, sinks via left join.
    "q124_pagerank_step" -> ((sp, dir) =>
      graft.functions.GraphOps.pagerankStep(
        transitionEdges(sp, dir), "from_type", "to_type", "p")),

    // Tokenizer fertility per language: BPE-ish subword tokens per
    // whitespace word, exact integer totals + one rounded division.
    "q125_fertility" -> ((sp, dir) =>
      TF.tokenizerFertility(table(sp, dir, "documents"), "lang", "text")),

    // Exact triangle count of the user-affinity band graph (users whose
    // fixed-point activity totals lie within 20.0 of each other — edges
    // from the same BandJoin bucketing as q120, so the graph build is an
    // equi-join too), counted via degree-ordered orientation (Suri &
    // Vassilvitskii) — two equi-joins, no hub blowup, each triangle
    // counted exactly once.
    "q126_triangles" -> ((sp, dir) => {
      def totals(idc: String, vc: String) = table(sp, dir, "events")
        .groupBy(col("user_id").as(idc))
        .agg(sum(floor(col("value") * 1000).cast("long")).cast("double").as(vc))
      val edges = graft.operators.BandJoin.bandJoin(
          totals("ua", "va"), totals("ub", "vb"), "va", 20000.0,
          Nil, Some("vb"))
        .where(col("ua") < col("ub"))
      graft.functions.GraphOps.triangleCount(edges, "ua", "ub")
    }),

    // MinHash-estimate audit: for consecutive-doc pairs, the signature
    // agreement fraction (est Jaccard, 16 slots) next to the TRUE 5-gram
    // Jaccard — the operator that tells you whether k=16 suffices for
    // your near-dup threshold before a corpus-wide run.
    "q127_minhash_est" -> ((sp, dir) => {
      // ONE imperative pass emits signature AND raw shingles per doc (the
      // former two-frame shape scanned the corpus twice and paid three
      // joins — est self-join, truth self-join, est ⋈ truth — to glue the
      // same adjacent pairs back together; 12 jobs → 5, values identical).
      val f = Dedup.signaturesWithShingles(
          table(sp, dir, "documents").where(length(col("text")) >= 5),
          "text", "doc_id")
        .repartition(sp.sparkContext.defaultParallelism)
        .localCheckpoint(true)
      val a = f.select(col("id").as("doc_a"), col("sig").as("siga"),
        col("sh").as("sa"))
      val b = f.select(col("id").as("doc_b"), col("sig").as("sigb"),
        col("sh").as("sb"))
      a.join(b, col("doc_b") === col("doc_a") + 1L)
        .select(col("doc_a"), col("doc_b"),
          round(size(filter(zip_with(col("siga"), col("sigb"),
            (x, y) => when(x === y, lit(1)).otherwise(lit(0))),
            v => v === 1)).cast("double") / 16.0, 6).as("est_jaccard"),
          round(size(array_intersect(col("sa"), col("sb"))).cast("double") /
            size(array_union(col("sa"), col("sb"))), 6).as("true_jaccard"))
        .select(col("doc_a"), col("doc_b"), col("est_jaccard"),
          col("true_jaccard"),
          round(col("est_jaccard") - col("true_jaccard"), 6).as("err"))
    }),

    // Product quantization: 4 subspaces x 8 hash-selected codebook
    // entries — codes + summed sub-distance error, one codegen'd
    // projection (zero shuffle; anchors are driver-side literals).
    // Codes serialize comma-joined (driver pandas-sort rule, see q95).
    "q128_pq" -> ((sp, dir) => {
      val emb = table(sp, dir, "embeddings")
      val anchors = Similarity.hashAnchors(emb, 8, "pq")
      Similarity.productQuantize(emb, anchors, 4)
        // concat_ws over a plain array cast, NOT transform(...): a lambda
        // blocks codegen CSE, so the collapsed projection recomputed every
        // per-subspace argmin tree inside it (measured +82% on this query)
        .select(col("vec_id"),
          concat_ws(",", col("codes").cast("array<string>")).as("codes"),
          col("err"))
    }),

    // Corpus composition by source: doc/token totals, fixed-point mean
    // quality, token share of the blend — the mix dashboard row.
    "q129_source_mix" -> ((sp, dir) => {
      val d = table(sp, dir, "documents").select(col("source"),
        TF.tokenCount(col("text")).cast("long").as("__tok"),
        floor(TF.qualityScore(col("text")) * 1e6).cast("long").as("__q6"))
      val per = d.groupBy("source").agg(count(lit(1)).as("n_docs"),
        sum("__tok").as("tot_tokens"), sum("__q6").as("__qsum"))
      val tot = per.agg(sum("tot_tokens").as("__T"))
      per.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("tot_tokens"),
          round(col("__qsum").cast("double") / 1e6 / col("n_docs"), 6)
            .as("mean_quality"),
          round(col("tot_tokens") / col("__T"), 6).as("token_share"))
    }),

    // Exact two-sample KS statistic between click and view value
    // distributions — integer cross-multiplied CDFs, bucket-offset
    // running sums (never a one-task global window over the data).
    "q130_ks_test" -> ((sp, dir) =>
      graft.functions.Profiling.ksTest(table(sp, dir, "events"),
        "event_type", "value", "click", "view")),

    // Pairwise association rules (support/confidence/lift) over the
    // distinct (user, event_type) baskets.
    "q131_assoc_rules" -> ((sp, dir) =>
      graft.functions.EventOps.associationPairs(table(sp, dir, "events"),
        "user_id", "event_type")),

    // Per-source unigram KL divergence from the corpus blend — rounded
    // per-term contributions summed as DECIMAL (order-exact, no sorted
    // fold, no per-group array).
    "q132_kl_divergence" -> ((sp, dir) =>
      TF.unigramKl(table(sp, dir, "documents"), "source", "text")),

    // Cross-source contamination matrix: shared distinct 5-gram counts
    // (+ fraction of the lower source's vocabulary) between every source
    // pair — the decontamination rollup. Gram sets collapse to DISTINCT
    // (source, gram) before the gram-keyed equi-join.
    "q133_overlap_matrix" -> ((sp, dir) => {
      // ONE corpus tokenize + ONE gram-keyed shuffle: collect_set dedupes
      // (source, gram) incidence map-side, the per-gram source set is
      // bounded by the source vocabulary, and pairs explode in-array
      // (sorted set ⇒ a < b falls out). Both n_a and the pair counts
      // derive from that grouped frame — the corpus is never scanned or
      // joined twice (was: two tokenize passes + a gram self-join, 4.8 s
      // at sf0.1; now ~1 pass). Tokenize rides the imperative
      // tokenNgramsByKey fast path (parity-pinned): the Column HOF twin
      // alone cost 2.8 s of this query's former 4.3 s.
      val bySrc = TF.tokenNgramsByKey(table(sp, dir, "documents"),
          col("source"), col("text"), 5)
        .toDF("source", "g")
        .groupBy("g").agg(sort_array(collect_set(col("source"))).as("__ss"))
      val perSrc = bySrc.select(explode(col("__ss")).as("source_a"))
        .groupBy("source_a").agg(count(lit(1)).as("n_a"))
      val pairs = bySrc.select(explode(expr(
          "flatten(transform(sequence(1, size(__ss)), " +
            "i -> transform(slice(__ss, i + 1, size(__ss) - i), " +
            "y -> struct(element_at(__ss, i) AS source_a, y AS source_b))))"))
          .as("__p"))
        .groupBy(col("__p.source_a").as("source_a"),
          col("__p.source_b").as("source_b"))
        .agg(count(lit(1)).as("shared"))
      pairs.join(broadcast(perSrc), "source_a")
        .select(col("source_a"), col("source_b"), col("n_a"), col("shared"),
          round(col("shared") / col("n_a"), 6).as("overlap_frac"))
    }),

    // Kaplan-Meier signup->purchase survival with right-censoring at the
    // corpus horizon: log-space product, rounded factors, explicit zero
    // from any d==n time on.
    "q134_survival" -> ((sp, dir) => {
      val e = table(sp, dir, "events").select(col("user_id"), col("event_type"),
        expr("unix_micros(cast(ts as timestamp)) * 1000").as("t"))
      val s0 = e.where(col("event_type") === "signup")
        .groupBy("user_id").agg(min("t").as("__ts0"))
      val p0 = e.where(col("event_type") === "purchase")
        .groupBy("user_id").agg(min("t").as("__tp"))
      val mx = e.agg(max("t").as("__tmax"))
      val observed = col("__tp").isNotNull && col("__tp") >= col("__ts0")
      val durs = s0.join(p0, Seq("user_id"), "left").crossJoin(broadcast(mx))
        .select(
          when(observed, col("__tp") - col("__ts0"))
            .otherwise(col("__tmax") - col("__ts0")).as("__durns"),
          when(observed, 1L).otherwise(0L).as("event"))
        .select(expr("__durns div 86400000000000").as("dur_days"), col("event"))
      graft.functions.EventOps.survivalCurve(durs, "dur_days", "event")
    }),

    // Winsorized per-type mean: clip at exact rounded [p05, p95], then
    // the fixed-point mean — the robust location stat next to q123.
    "q135_winsorized" -> ((sp, dir) =>
      graft.functions.Profiling.winsorizedMean(
        table(sp, dir, "events").select(col("event_type"), col("value")),
        Seq("event_type"), "value")),

    // Grouped HLL: distinct users per event type as 64-register sketches
    // + the per-group estimate, next to the exact distinct (error
    // visible in the result). At 100 TB the exact column is the thing
    // this replaces — here it is the audit.
    "q136_hll_grouped" -> ((sp, dir) => {
      val e = table(sp, dir, "events")
        .select(col("event_type"), col("user_id").cast("string").as("u"))
      val est = graft.functions.Sketches.hllEstimateGrouped(
        graft.functions.Sketches.hllSketchGrouped(
          e, Seq("event_type"), "u", 6, "q136"),
        Seq("event_type"), 6)
      est.join(e.groupBy("event_type")
        .agg(countDistinct(col("u")).as("exact_distinct")), "event_type")
    }),

    // kNN label-agreement audit (mislabeled-sample detector): fraction of
    // each vector's 5 nearest cosine neighbors sharing its label, computed
    // over a 10% HASH-SAMPLE of query vectors — the 100 TB shape (audits
    // run on a query sample; the corpus is the neighbor pool, never the
    // query side). Neighbors come from ivfTopK at FULL probe, which equals
    // the exact brute ranking (q27's trick) so the DuckDB oracle replays
    // it as brute over the sampled queries. At scale: nProbe < nLists.
    "q137_label_agreement" -> ((sp, dir) => {
      val e = table(sp, dir, "embeddings")
      val qs = graft.functions.Sampling.sampleByHash(e, "vec_id", 0.1, "q137")
      val nn = Similarity.ivfTopK(e, qs, 5,
          Similarity.ivfTrain(e, nLists = 16), nProbe = 16)
        .select(col("q_id"), col("vec_id").as("n_id"))
      val lab = table(sp, dir, "embeddings").select(col("vec_id"), col("label"))
      nn.join(lab.select(col("vec_id").as("q_id"), col("label").as("q_label")),
          "q_id")
        .join(lab.select(col("vec_id").as("n_id"), col("label").as("n_label")),
          "n_id")
        .groupBy(col("q_id"), col("q_label"))
        .agg(count(lit(1)).as("n_neighbors"),
          sum(when(col("n_label") === col("q_label"), 1L).otherwise(0L))
            .as("n_agree"))
        .select(col("q_id").as("vec_id"), col("q_label").as("label"),
          col("n_neighbors"), col("n_agree"),
          round(col("n_agree") / col("n_neighbors"), 6).as("agreement"))
    }),

    // Near-dup cluster-size histogram: the q46 component pipeline rolled
    // up to (cluster_size, n_clusters) — the dedup-savings estimate.
    "q138_cluster_sizes" -> ((sp, dir) => {
      val sh = Dedup.simhashFast(table(sp, dir, "documents"), "text", "doc_id")
        .repartition(sp.sparkContext.defaultParallelism)
        .localCheckpoint(true)
      val pairs = Dedup.simhashNearDupPairs(sh, maxDist = 2, bands = 4)
      Dedup.connectedComponents(pairs, sh.select(col("id")))
        .groupBy(col("rep")).agg(count(lit(1)).as("__sz"))
        .groupBy(col("__sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
    }),

    // EXACT set-similarity self-join at token-set Jaccard >= 0.5 via
    // AllPairs/PPJoin prefix filtering — the exact counterpart whose
    // estimate q17/q127 audit: candidates from the rarest-token-first
    // prefix equi-join, exact array_intersect verify on candidates only.
    // Runs on the deterministic 10% sample: the synthetic corpus is
    // template-generated (~70% of ALL pairs exceed tau=0.5 at full SF),
    // so the full-corpus exact result is output-bound at ~9M pairs — the
    // production flow is LSH candidates (q12) -> this exact verify.
    "q139_jaccard_join" -> ((sp, dir) =>
      Dedup.jaccardJoin(
        table(sp, dir, "documents").where(col("doc_id") % 10 === 0),
        "doc_id", "text", 0.5)),

    // Maximal intervals: drop every order span CONTAINED in another span
    // of the same customer — one window pass per key, no contains
    // self-join (q28's span fixture).
    "q140_max_intervals" -> ((sp, dir) => {
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
    }),

    // Per-type OLS trend of value (milli-units) on event day — exact
    // DECIMAL(38,0) moment sums, closed form at the end (q108's rule).
    "q141_regression" -> ((sp, dir) =>
      graft.functions.Stats.groupedOls(
        table(sp, dir, "events").select(col("event_type"),
          expr("unix_micros(cast(ts as timestamp)) div 86400000000").as("x"),
          floor(col("value") * 1000).cast("long").as("y")),
        Seq("event_type"), "x", "y")),

    // Exact ROC AUC (Mann-Whitney with tie correction, pure integer) of
    // the q80 hashed linear classifier predicting lang = 'en' — the
    // evaluation metric for the model-based quality filter.
    "q142_roc_auc" -> ((sp, dir) =>
      graft.functions.Stats.rocAuc(
        graft.sources.Scans.parallelized(
          table(sp, dir, "documents").select(col("text"), col("lang")))
          .select(
            TF.hashedLinearScore(col("text"), dim = 64, salt = "q80")
              .as("qscore"),
            col("lang")),
        "qscore", col("lang") === "en")),

    // Join-key skew pre-flight on events.user_id — the sizing input for
    // q98's salting and AQE skew thresholds.
    "q143_skew_profile" -> ((sp, dir) =>
      graft.functions.Stats.skewProfile(table(sp, dir, "events"),
        Seq("user_id"))),

    // Normalization-equivalence dedup keep-list: case/punct/whitespace
    // edit classes collapse on the canonical form's 60-bit hash.
    "q144_norm_dedup" -> ((sp, dir) =>
      Dedup.normalizedDedup(table(sp, dir, "documents"), "doc_id", "text")),

    // Item co-occurrence similarity (cosine/jaccard/lift) over order
    // baskets — the pair explode is bounded by basket width (<= 7 parts
    // per TPC-H order), never corpus-quadratic.
    "q145_copurchase" -> ((sp, dir) =>
      graft.functions.EventOps.cooccurrence(
        table(sp, dir, "lineitem"), "l_orderkey", "l_partkey",
        minSupport = 2L)),

    // Exact sample covariance matrix of four integer-ized lineitem
    // measures — all ten moment sums in ONE aggregate over one scan.
    "q146_cov_matrix" -> ((sp, dir) =>
      graft.functions.Stats.covMatrix(
        table(sp, dir, "lineitem").select(
          col("l_quantity").cast("long").as("qty"),
          floor(col("l_extendedprice") * 100).cast("long").as("price_c"),
          floor(col("l_discount") * 100).cast("long").as("disc_c"),
          floor(col("l_tax") * 100).cast("long").as("tax_c")),
        Seq("qty", "price_c", "disc_c", "tax_c"))),

    // EXACT interpolated quantiles by distributed rank selection — the
    // scalable form of percentile() (no per-group value buffering).
    "q147_exact_quantiles" -> ((sp, dir) =>
      graft.functions.Stats.exactQuantiles(table(sp, dir, "events"),
        "value", Seq(0.01, 0.25, 0.5, 0.75, 0.99))),

    // Welch's two-sample t (click vs view on milli-units): one single-row
    // aggregate of exact decimal moments, closed form at the end.
    "q148_welch_t" -> ((sp, dir) =>
      graft.functions.Stats.welchT(
        table(sp, dir, "events").select(col("event_type"),
          floor(col("value") * 1000).cast("long").as("v1000")),
        "event_type", "v1000", "click", "view")),

    // Benford first-digit audit of extended prices (integer cents; digit
    // via integer-to-string, never log10).
    "q149_benford" -> ((sp, dir) =>
      graft.functions.Profiling.benfordAudit(
        table(sp, dir, "lineitem"), "l_extendedprice", scale = 100L)),

    // Inter-event gap distribution per type, INTEGER-EXACT throughout:
    // gaps are ~1e10 µs, where a 6 dp grid is SUB-ULP of a double — the
    // sf0.1 sweep caught two cross-engine last-bit flips from the old
    // rounded-double mean/percentiles. Now: mean as floor fixed-point
    // micro-millionths ((Σ·1e6) div n, DECIMAL-exact), percentiles by
    // NEAREST RANK (value at ceil(q·n) — an exact element, no
    // interpolated float ever exists).
    "q150_event_gaps" -> ((sp, dir) => {
      val ev = table(sp, dir, "events").select(col("user_id"),
        col("event_type"), col("event_id"),
        expr("unix_micros(cast(ts as timestamp))").as("t"))
      val w = Window.partitionBy("user_id").orderBy("t", "event_id")
      val gaps = ev.select(col("event_type"),
          (col("t") - lag("t", 1).over(w)).as("gap_us"))
        .where(col("gap_us").isNotNull)
      val rw = Window.partitionBy("event_type").orderBy("gap_us")
      val ranked = gaps
        .withColumn("__rn", row_number().over(rw).cast("long"))
        .withColumn("__n", count(lit(1)).over(
          Window.partitionBy("event_type")))
      val agg = gaps.groupBy("event_type").agg(
        count(lit(1)).as("n_gaps"),
        expr("CAST((CAST(sum(gap_us) AS DECIMAL(38,0)) * 1000000) div count(1) AS BIGINT)")
          .as("mean_us_e6"))
      def atRank(q: Int, name: String) = ranked
        .where(col("__rn") === expr(s"(__n * $q + 99) div 100"))
        .select(col("event_type"), col("gap_us").as(name))
      agg.join(atRank(50, "p50_us"), "event_type")
        .join(atRank(95, "p95_us"), "event_type")
        .select(col("event_type"), col("n_gaps"), col("mean_us_e6"),
          col("p50_us"), col("p95_us"))
    }),

    // Session-length histogram: q29's sessions rolled to
    // (n_events, n_sessions, mean duration) — the engagement-shape rollup.
    "q151_session_hist" -> ((sp, dir) => {
      val ev = table(sp, dir, "events")
        .withColumn("tsq", expr("unix_micros(cast(ts as timestamp)) * 1000"))
      graft.operators.IntervalOps.sessionize(ev, Seq("user_id"), "tsq",
          gapNs = 1800000000000L, orderTiebreak = Seq("event_id"))
        .select(col("n_events"),
          (col("span.stop") - col("span.start")).as("__dur"))
        .groupBy("n_events").agg(count(lit(1)).as("n_sessions"),
          round(sum(col("__dur").cast(DecimalType(38, 0))).cast("double") /
            count(lit(1)), 6).as("mean_dur_ns"))
    }),

    // ANN quality audit: recall@10 of the LSH bucketed path (q16's plan)
    // against the exact brute-force truth (q15's declared baseline role) —
    // the "are 8 planes enough for my corpus" pre-flight before shipping
    // the approximate path. Both sides are deterministic, so the oracle
    // replays the full composition; audits run on a query SAMPLE, which is
    // what keeps the brute side bounded at scale.
    "q152_ann_recall" -> ((sp, dir) => {
      val e = table(sp, dir, "embeddings")
      val q = e.where(pmod(col("vec_id"), lit(100L)) === 0L)
      val brute = Similarity.bruteForceTopK(e, q, 10).select("q_id", "vec_id")
      val approx = Similarity.lshTopK(e, q, 10, Similarity.randomPlanes(8, 64))
        .select("q_id", "vec_id")
      val hits = brute.join(approx, Seq("q_id", "vec_id"))
        .groupBy("q_id").agg(count(lit(1)).as("hits"))
      q.select(col("vec_id").as("q_id")).join(hits, Seq("q_id"), "left")
        .select(col("q_id"), coalesce(col("hits"), lit(0L)).as("hits"),
          round(coalesce(col("hits"), lit(0L)).cast("double") / lit(10.0), 6)
            .as("recall"))
    }),

    // Pearson χ² independence: is document language independent of source?
    // One data-sized contingency aggregate; margins, total, and the
    // expected-count join all run on the vocab-bounded cell frame (the
    // single total row broadcasts — q42's idiom).
    "q153_chi2" -> ((sp, dir) =>
      graft.functions.Stats.chiSquareIndependence(
        table(sp, dir, "documents"), "lang", "source")),

    // One BPE merge-candidate counting step (tokenizer training's inner
    // loop): adjacent symbol pairs weighted by word frequency, with the
    // pair explode running over the VOCAB, not the corpus. Top-20 merges,
    // ties by pair.
    "q154_bpe_pairs" -> ((sp, dir) =>
      TF.bpePairStats(table(sp, dir, "documents"), "text", 20)),

    // Blocked fuzzy-duplicate pairs over 40-char document "titles":
    // prefix-12 blocking equi-join + exact thresholded Levenshtein verify —
    // record linkage's blocking+verify shape (the recall trade is
    // documented on the operator; FastSS q85 is the exact-recall sibling
    // at distance 1). ASCII corpus ⇒ DuckDB's byte-based levenshtein
    // agrees with Spark's code-point one.
    "q155_fuzzy_pairs" -> ((sp, dir) =>
      Dedup.blockedEditPairs(
        table(sp, dir, "documents")
          .select(col("doc_id"), substring(col("text"), 1, 40).as("title")),
        "doc_id", "title", maxDist = 2, prefixLen = 12)),

    // Z-order (Morton) locality key over (user_id, event day) — the
    // multi-dimensional clustering key behind OPTIMIZE ZORDER, as one
    // codegen'd bit-interleave projection (no shuffle, no UDF).
    // ZOrderSpec pins the locality property and the layout writer.
    "q156_zorder" -> ((sp, dir) =>
      table(sp, dir, "events")
        .select(col("event_id"), col("user_id"),
          expr("unix_micros(cast(ts as timestamp)) div 86400000000").as("day"))
        .select(col("event_id"), col("user_id"), col("day"),
          graft.sources.ZOrderLayout.zValue(col("user_id"), col("day"), 20)
            .as("z"))),

    // Position-based (U-shaped) multi-touch attribution: click/view
    // touches inside 7 days before each purchase earn 0.4/0.4/middle
    // credit; per-channel DECIMAL rollup. The pairing is a per-user
    // equi-join; data-sized windows stay partitioned.
    "q157_attribution" -> ((sp, dir) => {
      val ev = table(sp, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          expr("unix_micros(cast(ts as timestamp))").as("t"))
      graft.functions.EventOps.attribution(ev, Seq("user_id"), "event_type",
        "t", "event_id", Seq("click", "view"), "purchase",
        lookback = 7L * 86400000000L, model = "position")
    }),

    // Mutual information lang↔source in nats (+ marginal entropies and
    // normalized MI) — q153's contingency plan with information terms:
    // 6 dp-rounded ln terms, DECIMAL sums, vocab-bounded frames.
    "q158_mutual_info" -> ((sp, dir) =>
      graft.functions.Stats.mutualInformation(
        table(sp, dir, "documents"), "lang", "source")),

    // One label-propagation step over the co-purchase graph: parts take
    // the weight-majority brand among co-ordered parts (ties to smallest
    // brand), isolated parts keep their own. Edges = basket pair explode
    // bounded by order width (q145's idiom).
    "q159_label_prop" -> ((sp, dir) => {
      // co-purchase edges via q145's IN-ARRAY pair idiom: per-order sorted
      // item list -> pairs exploded inside the array — ONE basket-keyed
      // shuffle instead of a per-order self-join shipping the incidence
      // frame twice (src < dst falls out of the strict sort order); see
      // copurchaseGraph.
      val (edges, parts) = copurchaseGraph(sp, dir)
      graft.functions.GraphOps.labelPropagationStep(edges, parts,
        "src", "dst", "w", "p_partkey", "p_brand")
    }),

    // Calibration curve of the q80 hashed-linear quality score against
    // the lang='en' label (q142's labeling): 10 equal-width bins, exact
    // integer counts, fixed-point mean score. The reliability diagram
    // next to q142's AUC.
    "q160_calibration" -> ((sp, dir) => {
      val scored = graft.sources.Scans.parallelized(
          table(sp, dir, "documents").select(col("text"), col("lang")))
        .select(
          TF.hashedLinearScore(col("text"), dim = 64, salt = "q80").as("score"),
          col("lang"))
      graft.functions.Stats.calibrationCurve(scored, "score",
        col("lang") === "en", 10)
    }),

    // CUPED readout: per-user post-period purchase value adjusted by the
    // pre-period covariate (Jan 1-15 vs 16-30), arms = user_id parity.
    // Exact DECIMAL moments, one pooled + one arm-keyed aggregate.
    "q161_cuped" -> ((sp, dir) => {
      val ev = table(sp, dir, "events").select(col("user_id"),
        expr("unix_micros(cast(ts as timestamp))").as("t"),
        floor(col("value") * 1000).cast("long").as("mv"))
      val split = lit(1705363200000000L) // 2024-01-16T00:00:00Z in micros
      val users = ev.groupBy("user_id").agg(
        sum(when(col("t") < split, col("mv")).otherwise(0L)).as("pre"),
        sum(when(col("t") >= split, col("mv")).otherwise(0L)).as("post"))
        .withColumn("arm",
          when(pmod(col("user_id"), lit(2L)) === 0L, "a").otherwise("b"))
      graft.functions.Stats.cuped(users, "arm", "post", "pre")
    }),

    // Sample-ratio-mismatch health check on the same unit-level split:
    // χ² goodness of fit of observed arm counts vs the 50/50 design.
    "q162_srm" -> ((sp, dir) => {
      val users = table(sp, dir, "events").select(col("user_id")).distinct()
        .select(when(pmod(col("user_id"), lit(2L)) === 0L, "a")
          .otherwise("b").as("arm"))
      graft.functions.Stats.srmCheck(users, "arm",
        Seq("a" -> 0.5, "b" -> 0.5))
    }),

    // Grouped exact quantiles: per event type, the same rank-selection
    // machinery as q147 with all windows PARTITIONED by the group key.
    "q163_grouped_quantiles" -> ((sp, dir) =>
      graft.functions.Stats.exactQuantilesBy(
        table(sp, dir, "events").select(col("event_type"), col("value")),
        Seq("event_type"), "value", Seq(0.25, 0.5, 0.75, 0.95))),

    // PSI drift monitor: event value distribution, first half of the
    // month as reference vs second half as current, 20 bins on [0, 500),
    // Laplace-smoothed shares.
    "q164_psi" -> ((sp, dir) => {
      val ev = table(sp, dir, "events").select(col("value"),
        expr("unix_micros(cast(ts as timestamp))").as("t"))
      val split = 1705363200000000L
      graft.functions.Stats.psi(
        ev.where(col("t") < split), ev.where(col("t") >= split),
        "value", lo = 0.0, hi = 500.0, nBins = 20)
    }),

    // Leakage-safe split: q46's simhash near-dup clusters, split assigned
    // at the CLUSTER representative — near-duplicate documents can never
    // straddle train/val/test (the decontamination-by-construction
    // counterpart of q54's detection).
    "q165_cluster_split" -> ((sp, dir) => {
      val sh = Dedup.simhashFast(table(sp, dir, "documents"), "text", "doc_id")
        .repartition(sp.sparkContext.defaultParallelism)
        .localCheckpoint(true)
      val pairs = Dedup.simhashNearDupPairs(sh, maxDist = 2, bands = 4)
      val clusters = Dedup.connectedComponents(pairs, sh.select(col("id")))
      graft.functions.Sampling.splitByHash(
        clusters.select(col("id").as("doc_id"), col("rep")), "rep",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    }),

    // Lagged cross-correlation: hourly click counts vs purchase counts at
    // lags 0..12 — "do purchases follow clicks, and how far behind?".
    // Exact DECIMAL moments per lag over the observed hour grid.
    "q166_xcorr" -> ((sp, dir) => {
      val ev = table(sp, dir, "events").select(
        expr("unix_micros(cast(ts as timestamp)) div 3600000000").as("hr"),
        col("event_type"))
      val grid = ev.groupBy("hr").agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("clicks"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("purchases"))
      graft.functions.Stats.lagCorrelation(grid, "hr", "clicks",
        "purchases", 12)
    }),

    // Top 15 event-type trigrams per user stream — sequential pattern
    // mining's staple; PARTITIONED lead windows, vocab-bounded rank.
    "q167_seq_patterns" -> ((sp, dir) =>
      graft.functions.EventOps.topSequences(
        table(sp, dir, "events").select(col("user_id"), col("event_type"),
          expr("unix_micros(cast(ts as timestamp))").as("t"), col("event_id")),
        Seq("user_id"), "event_type", "t", "event_id", n = 3, k = 15)),

    // k-anonymity audit (k=5) over the (event_type, user bucket, day)
    // quasi-identifier — the privacy pre-flight next to q55's redaction.
    "q168_kanon" -> ((sp, dir) =>
      graft.functions.Profiling.kAnonymity(
        table(sp, dir, "events").select(col("event_type"),
          pmod(col("user_id"), lit(100L)).as("user_bucket"),
          expr("unix_micros(cast(ts as timestamp)) div 86400000000")
            .as("day")),
        Seq("event_type", "user_bucket", "day"), 5L)),

    // Entity-resolution golden record: blocking + Levenshtein verify
    // (q155's pairs) → connected components → per-cluster survivorship
    // (longest record wins, ties to smallest id) — the classic record
    // linkage pipeline end to end, every stage individually verified.
    "q169_entity_resolution" -> ((sp, dir) => {
      val d = table(sp, dir, "documents")
      val titles = d.select(col("doc_id"),
        substring(col("text"), 1, 40).as("title"))
      val pairs = Dedup.blockedEditPairs(titles, "doc_id", "title",
          maxDist = 2, prefixLen = 12)
        .select(col("id_a").as("a"), col("id_b").as("b"))
      Dedup.canonicalByQuality(pairs,
        d.select(col("doc_id").as("id"), col("n_chars").as("quality")))
    }),

    // Rolling engagement: per day, exact DAU, trailing-7-day WAU (each
    // (user, day) incidence supports the 7 windows it falls in — a
    // bounded ×7 explode + distinct, never a per-day scan), and the
    // DAU/WAU stickiness ratio.
    "q170_rolling_dau" -> ((sp, dir) => {
      val ud = table(sp, dir, "events").select(col("user_id"),
          expr("unix_micros(cast(ts as timestamp)) div 86400000000")
            .as("day"))
        .distinct()
      val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
      val wau = ud.select(col("user_id"),
          explode(sequence(col("day"), col("day") + 6)).as("day"))
        .distinct()
        .groupBy("day").agg(count(lit(1)).as("wau"))
      dau.join(wau, Seq("day"))
        .select(col("day"), col("dau"), col("wau"),
          round(col("dau").cast("double") / col("wau").cast("double"), 6)
            .as("stickiness"))
    }),

    // Trailing-24h rate anomaly per event type: hourly counts scored
    // against their own trailing day (exclusive), z rounded 6 dp, NULL
    // under 12 trailing points or zero variance.
    "q171_rate_anomaly" -> ((sp, dir) =>
      graft.functions.EventOps.rateAnomaly(
        table(sp, dir, "events").select(col("event_type"),
          expr("unix_micros(cast(ts as timestamp)) div 3600000000")
            .as("hr")),
        Seq("event_type"), "hr", window = 24, minPoints = 12)),

    // Split-leakage audit — q165's guarantee MEASURED: the same simhash
    // near-dup pairs that defined the clusters, joined to (a) the
    // cluster-level split and (b) a naive doc-level split. Cluster rows
    // must show zero crossing pairs; the doc rows show what naive
    // splitting leaks.
    "q172_leakage_audit" -> ((sp, dir) => {
      val fr = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
      val sh = Dedup.simhashFast(table(sp, dir, "documents"), "text", "doc_id")
        .repartition(sp.sparkContext.defaultParallelism)
        .localCheckpoint(true)
      // the banded pair join feeds CC and BOTH audits — materialize it
      // once (pair sets are output-bounded, tiny next to the corpus)
      val pairs = Dedup.simhashNearDupPairs(sh, maxDist = 2, bands = 4)
        .select(col("a"), col("b")).localCheckpoint(true)
      val clusters = Dedup.connectedComponents(pairs, sh.select(col("id")))
      val splits = clusters.select(col("id"),
        graft.functions.Sampling.splitAssign(col("rep"), fr).as("cl"),
        graft.functions.Sampling.splitAssign(col("id"), fr).as("doc"))
      // BOTH schemes ride ONE pair⋈splits join pass and one aggregate —
      // the per-scheme formulation joined and aggregated the same pair set
      // twice (4 joins + 2 aggregates; splits recomputed per branch).
      // Output rows identical: same counts, same rounding, same order.
      val sj = pairs
        .join(splits.select(col("id").as("a"), col("cl").as("__ca"),
          col("doc").as("__da")), "a")
        .join(splits.select(col("id").as("b"), col("cl").as("__cb"),
          col("doc").as("__db")), "b")
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("__ca") =!= col("__cb"), 1L).otherwise(0L))
            .as("__xc"),
          sum(when(col("__da") =!= col("__db"), 1L).otherwise(0L))
            .as("__xd"))
      sj.select(explode(array(
          struct(lit("cluster_split").as("scheme"), col("n_pairs"),
            col("__xc").as("n_cross")),
          struct(lit("doc_split").as("scheme"), col("n_pairs"),
            col("__xd").as("n_cross")))).as("__r"))
        .select(col("__r.scheme").as("scheme"), col("__r.n_pairs").as("n_pairs"),
          col("__r.n_cross").as("n_cross"),
          round(col("__r.n_cross").cast("double") /
            col("__r.n_pairs").cast("double"), 6).as("frac_cross"))
    }),

    // CUSUM drift alarms on hourly per-type rates: slack 10% of the mean,
    // alarm at 3x mean (scaled integers end to end — the bounded
    // sequential fold family). Complements q171's memoryless z-scores
    // with accumulated-drift detection.
    "q173_cusum" -> ((sp, dir) =>
      graft.functions.EventOps.cusumAlarms(
        table(sp, dir, "events").select(col("event_type"),
          expr("unix_micros(cast(ts as timestamp)) div 3600000000")
            .as("hr")),
        Seq("event_type"), "hr", pctSlack = 10, pctThreshold = 300)),

    // 2-D Pareto frontier of parts (min price, max size) via the
    // bucket-offset skyline — the classic global-sort formulation never
    // touches a one-task window.
    "q174_skyline" -> ((sp, dir) =>
      graft.functions.Stats.paretoFrontier2d(
        table(sp, dir, "part"), "p_partkey", "p_retailprice", "p_size")),

    // Streaming interval merge UNDER THE DRIVER GATE: the q28 order spans
    // replayed through mergeIntervalsStream in three time-ordered
    // micro-batches (split at fixed date literals) plus a degenerate
    // far-future flush row that closes every open run. Batches partition
    // event time, so nothing is ever late and the streamed output equals
    // the batch merge EXACTLY — the oracle is q28's SQL verbatim. The
    // StreamingSpec equivalence proofs become a green CORRECTNESS row.
    "q175_stream_merge" -> ((sp, dir) => {
      import sp.implicits._
      val (batches, _) = orderSpanBatches(sp, dir)
      replayStream(sp, batches) { df =>
        graft.streaming.StreamingIntervalOps.mergeIntervalsStream(
          streamSpans(df), Seq("k"), "span", "ts", "1 second")
      }.select(col("k").as("o_custkey"), col("span.start").as("mstart"),
        col("span.stop").as("mstop"), col("n_merged"))
    }),

    // Streaming gaps under the driver gate: same replay, the complement
    // operator — uncovered regions strictly between closed runs. Equals
    // batch gaps (q36's oracle SQL verbatim) by the same no-late-data
    // argument; the trailing open-ended region never emits in either.
    "q176_stream_gaps" -> ((sp, dir) => {
      import sp.implicits._
      val (batches, _) = orderSpanBatches(sp, dir)
      replayStream(sp, batches) { df =>
        graft.streaming.StreamingIntervalOps.gapsStream(
          streamSpans(df), Seq("k"), "span", "ts", "1 second")
      }.select(col("k").as("o_custkey"), col("span.start").as("gstart"),
        col("span.stop").as("gstop"))
    }),

    // Streaming online packing under the driver gate: the q56 corpus
    // arrives in three id-ordered micro-batches; the per-bucket cursor
    // carries across batches, and id-ordered arrival makes the layout
    // equal the batch packStream bit for bit (q56's oracle SQL verbatim).
    "q177_stream_packing" -> ((sp, dir) => {
      import sp.implicits._
      // replay input bounded the q184 way (a 10% doc slice): the collect
      // here is replay MACHINERY building the id-ordered arrival batches,
      // not the operator — packStreamOnline itself is a bounded-state
      // streaming transform — so the harness must not become the one
      // driver-sized collect in the suite at bigger SFs
      val docs = table(sp, dir, "documents")
        .where(pmod(col("doc_id"), lit(10L)) === 0L)
        .select(col("doc_id").cast("long").as("id"),
          TF.tokenCount(col("text")).cast("long").as("n_tok"))
        .orderBy("id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      val n = docs.length
      val batches = Seq(docs.slice(0, n / 3), docs.slice(n / 3, 2 * n / 3),
        docs.slice(2 * n / 3, n))
      replayStream(sp, batches) { df =>
        graft.streaming.StreamingPacking.packStreamOnline(
          df.select(col("_1").as("doc_id"), col("_2").as("n_tok")),
          "doc_id", col("n_tok"), capacity = 256, nBuckets = 8)
      }.select(col("id").as("doc_id"), col("bucket"), col("n_tok"),
        col("pack_first"), col("pack_offset"), col("pack_last"),
        col("n_packs"))
    }),

    // ITERATIVE PageRank (3 rounds, tol=0) over the q124 event-type
    // transition graph — the convergence-loop operator, not just the
    // kernel step. Ranks are 6 dp fixed points after every round, so the
    // oracle replays the loop as three SQL layers; lineage is truncated
    // with localCheckpoint inside the loop (the CC pattern).
    "q178_pagerank" -> ((sp, dir) => {
      graft.functions.GraphOps.pagerank(
        transitionEdges(sp, dir), "from_type", "to_type", "p",
        iterations = 3, tol = 0.0)
    }),

    // Iterative label propagation (3 synchronous rounds, early-stop on
    // fixpoint) over the q159 co-purchase graph. Integer weight tallies
    // and the (weight desc, label asc) argmax make every round exact, so
    // the oracle replays the full 3-layer depth — at a fixpoint extra
    // layers are the identity, so early stopping cannot diverge from it.
    "q179_label_prop_converged" -> ((sp, dir) => {
      val (edges, parts) = copurchaseGraph(sp, dir)
      graft.functions.GraphOps.labelPropagate(edges, parts,
        "src", "dst", "w", "p_partkey", "p_brand", maxIter = 3)
        .select(col("node"), col("label"))
    }),

    // DOULION approximate triangles on the q126 band graph at p=1/4: the
    // deterministic md5 edge coin keeps ~1/4 of the edges, the exact
    // degree-ordered count runs on the sample, and the estimate scales by
    // 1/p³. The coin is engine-replayable, so unlike most sampling-based
    // estimators this one is fully oracle-checked; q126 stays as the
    // exact-count row.
    "q180_triangles_approx" -> ((sp, dir) => {
      def totals(idc: String, vc: String) = table(sp, dir, "events")
        .groupBy(col("user_id").as(idc))
        .agg(sum(floor(col("value") * 1000).cast("long")).cast("double").as(vc))
      val edges = graft.operators.BandJoin.bandJoin(
          totals("ua", "va"), totals("ub", "vb"), "va", 20000.0,
          Nil, Some("vb"))
        .where(col("ua") < col("ub"))
      graft.functions.GraphOps.triangleCountApprox(edges, "ua", "ub",
        p = 0.25, salt = "q180")
    }),

    // Hybrid retrieval AT SCALE: q84's shape with the vector half swapped
    // from the declared brute-force baseline to the IVF probe (anchored
    // deterministic quantizer, nProbe 4/16 — the q61 idiom), fused by RRF
    // against the persisted BM25 index. The 64x curve exposed q84's
    // vector half as its quadratic-by-design floor; this is the
    // production substitution, and unlike most ANN swaps it keeps the
    // full three-gate oracle. (nLists is fixed at 16 here for the oracle;
    // at 100 TB the quantizer is ivfTrain centroids scaled with the
    // corpus, same plan shape.)
    "q181_hybrid_rrf_ivf" -> ((sp, dir) => {
      val d = table(sp, dir, "documents")
      val tbl = s"graft_bm25_idx_${datasetStamp(dir)}"
      if (!sp.catalog.tableExists(tbl))
        graft.functions.TfIdf.writeBm25Index(d, "doc_id", "text", tbl, nBuckets = 32)
      val q = d.where(pmod(col("doc_id"), lit(50L)) === 0L)
        .select(col("doc_id").as("qid"),
          array_join(slice(TF.tokens(lower(col("text"))), 1, 8), " ").as("qtext"))
      val bm = graft.functions.TfIdf.bm25AgainstIndex(q, "qid", "qtext", tbl, 10)
        .select(col("qid"), col("doc_id"), col("rank"))
      val e = table(sp, dir, "embeddings")
      val vq = e.where(pmod(col("vec_id"), lit(50L)) === 0L)
      val vec = Similarity.ivfTopKAnchored(e, vq, 10,
          Similarity.hashAnchors(e, 16, salt = "q181"), nProbe = 4)
        .select(col("q_id").as("qid"), col("vec_id").as("doc_id"), col("rank"))
      graft.functions.TfIdf.rrfFuse(bm, vec, "qid", "doc_id", "rank", 10)
    }),

    // Full Lloyd LOOP over q100's single step: hash-seed 6 anchors, run
    // kmeansFit for 2 rounds (fixed-point 6 dp centroids, empty cells
    // carry the previous centroid), then one presentation step — in total
    // exactly 3 chained kmeansStep rounds, which the oracle replays as 3
    // SQL layers. Early convergence inside the fit cannot diverge from
    // the fixed-depth replay: an unchanged round is a fixed point, so
    // extra layers are the identity. Like q178/q179 this graduates the
    // kernel step to the convergence operator users actually run; unlike
    // them the loop state is k x dim driver-side literals, so lineage
    // depth stays constant with no checkpoint.
    "q182_kmeans_fit" -> ((sp, dir) => {
      val e = table(sp, dir, "embeddings")
      val (anch, _) = Similarity.kmeansFit(e, 6, maxIter = 2, salt = "q182")
      Similarity.kmeansStep(e, anch)
        .select(col("cell"), col("n"),
          array_join(transform(col("centroid"),
            x => round(x * 1e6, 0).cast("long").cast("string")), ",")
            .as("centroid"))
    }),

    // Exact-substring dedup, the REMOVAL pass over q81's marking
    // (Lee et al., ACL '22): every token position covered by a duplicated
    // 5-gram loses its token, survivors reassemble in order; both
    // occurrences drop (the order-independent variant — keep-first needs
    // a global doc order a distributed corpus doesn't have). Fully
    // SQL-replayable: the duplicated-window set, position coverage, and
    // the rebuilt string are all exact.
    "q183_dedup_spans" -> ((sp, dir) =>
      Dedup.removeDupSpans(table(sp, dir, "documents"), "doc_id", "text", 5)),

    // Streaming sessionization under the driver gate (the last of
    // VERDICT-r8's merge/gaps/sessionize/packing conversion list): a 10%
    // user slice of events replays in three time-ordered micro-batches +
    // a far-future flush that closes every session; Spark's native
    // session_window state merges and emits on watermark pass. The oracle
    // replays session_window's RIGHT-OPEN gap rule (t − prev >= gap
    // splits) — the one documented divergence from batch q29, whose
    // lag-based rule splits strictly greater.
    "q184_stream_sessionize" -> ((sp, dir) => {
      import sp.implicits._
      val rows = table(sp, dir, "events")
        .where(pmod(col("user_id"), lit(10L)) === 0L)
        .select(col("user_id").cast("long"),
          expr("unix_micros(cast(ts as timestamp))"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val ts = rows.map(_._2).sorted
      val (c1, c2) = (ts(ts.length / 3), ts(2 * ts.length / 3))
      val far = ts.last + 365L * 86400000000L
      val batches = Seq(
        rows.filter(_._2 < c1),
        rows.filter(r => r._2 >= c1 && r._2 < c2),
        rows.filter(_._2 >= c2),
        Seq((-1L, far))) // flush: advances the watermark, never emits
      replayStream(sp, batches) { df =>
        graft.streaming.StreamingIntervalJoin.sessionize(
          df.select(col("_1").as("k"), timestamp_micros(col("_2")).as("ts")),
          Seq("k"), "ts", gap = "30 minutes", watermarkDelay = "1 second")
      }.select(col("k").as("user_id"),
        (expr("unix_micros(span.start)") * 1000L).as("sstart"),
        (expr("unix_micros(span.stop)") * 1000L).as("sstop"),
        col("n_events"))
    }),

    // CCNet-shaped LM quality filtering: a unigram LM trained on the
    // English slice scores EVERY document (add-one smoothing, OOV terms
    // hit the finite ln(N+V+1) ceiling). The production form of
    // q59's self-scored surprisal — train on trusted text, score the
    // crawl; `oov` rides along as the companion signal.
    "q185_cross_surprisal" -> ((sp, dir) => {
      val d = table(sp, dir, "documents")
      TF.crossSurprisal(d.where(col("lang") === "en"), d, "doc_id", "text")
    }),

    // Whole-document packing (next-fit-decreasing per bucket) — the SFT
    // layout where docs may NOT span pack boundaries, next to q56's
    // concatenate-and-chop. The per-bucket fill recurrence has no closed
    // window form, so this is a documented imperative pass; the oracle
    // replays it as a recursive CTE walking each bucket's
    // (n_tok desc, doc_id) rank order.
    "q186_pack_whole" -> ((sp, dir) =>
      graft.functions.Packing.packWhole(
        table(sp, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", TF.tokenCount(col("text")), capacity = 256, nBuckets = 8)
        .select(col("doc_id"), col("bucket"), col("n_tok"), col("pack"),
          col("pack_offset"), col("oversize"))),

    // BPE tokenizer TRAINING: five full merge rounds of the iterative
    // loop whose round-0 count is q154 — vocab-frequency reduction once,
    // then per-round pair count + top-1 + greedy-left corpus rewrite.
    // The oracle replays all five rounds layer by layer, including the
    // greedy-left fold (encoded-accumulator list_reduce), so the trained
    // merge list is engine-exact.
    "q187_bpe_train" -> ((sp, dir) =>
      TF.bpeTrain(table(sp, dir, "documents"), "text", 5)),

    // BPE ENCODE with the q187-trained merges: the 5 learned merges
    // compose into one codegen'd fold chain applied per word in learned
    // order (zero shuffle before the per-doc aggregate); output is each
    // doc's word and symbol count under the trained tokenizer — the
    // real-tokenizer fertility denominator.
    "q188_bpe_encode" -> ((sp, dir) => {
      val d = table(sp, dir, "documents")
      val m = TF.bpeTrain(d, "text", 5).orderBy("round").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      TF.bpeEncode(d, "doc_id", "text", m)
    }),

    // Benchmark decontamination, the REMOVAL pass over q54's detection:
    // corpus docs ship scrubbed of every token span covered by a
    // benchmark 5-gram (span-level — keeps the clean rest of a page that
    // quotes one eval question) instead of being dropped whole. Same
    // even/odd split as q54; the bench gram set broadcasts, the corpus
    // never shuffles for the marking.
    "q189_decontaminate_spans" -> ((sp, dir) => {
      val d = table(sp, dir, "documents")
      Dedup.decontaminateSpans(
        d.where(pmod(col("doc_id"), lit(50L)) =!= 0L), "doc_id", "text",
        d.where(pmod(col("doc_id"), lit(50L)) === 0L), "text", 5)
    }),

    // Retrieval evaluation: hit@10 / MRR / nDCG@10 of the q78 BM25 index
    // probe against same-`source` relevance (the standard weak-label
    // eval) — the metric layer every retriever comparison needs, exactly
    // engine-replayable (6 dp pre-fold rounding on the DCG gains).
    "q190_ranking_metrics" -> ((sp, dir) => {
      val d = table(sp, dir, "documents")
      val tbl = s"graft_bm25_idx_${datasetStamp(dir)}"
      if (!sp.catalog.tableExists(tbl))
        graft.functions.TfIdf.writeBm25Index(d, "doc_id", "text", tbl, nBuckets = 32)
      val q = d.where(pmod(col("doc_id"), lit(50L)) === 0L)
        .select(col("doc_id").as("qid"),
          array_join(slice(TF.tokens(lower(col("text"))), 1, 8), " ").as("qtext"))
      val res = graft.functions.TfIdf.bm25AgainstIndex(q, "qid", "qtext", tbl, 10)
        .select(col("qid"), col("doc_id"), col("rank"))
      val qsrc = d.where(pmod(col("doc_id"), lit(50L)) === 0L)
        .select(col("doc_id").as("qid"), col("source").as("__src"))
      val truth = qsrc.join(
        d.select(col("doc_id"), col("source").as("__src")), Seq("__src"))
        .select(col("qid"), col("doc_id"))
      graft.functions.Stats.rankingMetrics(res, truth, "qid", "doc_id", "rank", 10)
    }),

    // ------------------------------------------------------------------
    // q191–q200: the remaining streaming operators under the driver gate
    // (VERDICT-r9 #1). Same replay contract as q175–q177/q184: time-cut
    // micro-batches make arrival order = event-time order, so each
    // streamed operator's documented exactness condition holds and the
    // oracle is the batch semantics in SQL. The events fixture has no
    // (user_id, ts) ties (checked at sf0.01 and sf0.1), so every in-batch
    // (ts)-sort below is a total order per key.
    // ------------------------------------------------------------------

    // Streaming BACKWARD as-of under the driver gate: q19's clicks and
    // purchases (10% user slice) replay as ONE side-tagged MemoryStream
    // cut at joint event-time quantiles, split into the two as-of inputs
    // INSIDE the streaming query. One stream means one addData block per
    // joint batch — atomic, so no spontaneous trigger can ever process a
    // clicks-only prefix before its same-batch purchases (two separate
    // MemoryStreams raced exactly that way: the default continuous
    // trigger fired between the two addData calls and 521 sf0.1 clicks
    // missed purchases, timing-dependent). The per-key state is the
    // latest purchase; lefts emit the moment they process, so no flush
    // batch is needed. Oracle = q19's arg-max SQL on the slice.
    "q191_stream_asof" -> ((sp, dir) => {
      import sp.implicits._
      val (batches, _, _) = asofSliceBatches(sp, dir)
      replayStream(sp, batches) { df =>
        graft.streaming.StreamingAsof.asofJoinStream(
          df.where(col("_1") === 1)
            .select(col("_2").as("user_id"), col("_3").as("ts"),
              col("_4").as("click_id")),
          df.where(col("_1") === 0)
            .select(col("_2").as("user_id"), col("_3").as("pts"),
              col("_4").as("purchase_id"), col("_5").as("purchase_value")),
          "ts", "pts", Seq("user_id" -> "user_id"))
      }
    }),

    // Streaming FORWARD as-of under the driver gate: pending clicks buffer
    // per user until the next purchase resolves them. Clicks with no later
    // purchase would pend forever, so the final batch carries one
    // far-future sentinel purchase per sliced user; a 50-year tolerance
    // (≫ any real gap, ≪ the 100-year sentinel offset) makes the sentinel
    // resolve those clicks UNMATCHED — exactly the batch left-join's
    // nulls. Same single side-tagged stream as q191 (atomic joint
    // batches). Oracle = q41's arg-min SQL on the slice, no tolerance.
    "q192_stream_asof_fwd" -> ((sp, dir) => {
      import sp.implicits._
      val (batches, users, maxTs) = asofSliceBatches(sp, dir)
      val yearNs = 365L * 86400L * 1000000000L
      val flush = users.map(u => (0, u, maxTs + 100L * yearNs, -1L, 0.0))
      replayStream(sp, batches :+ flush) { df =>
        graft.streaming.StreamingAsof.asofJoinStreamForward(
          df.where(col("_1") === 1)
            .select(col("_2").as("user_id"), col("_3").as("ts"),
              col("_4").as("click_id")),
          df.where(col("_1") === 0)
            .select(col("_2").as("user_id"), col("_3").as("pts"),
              col("_4").as("purchase_id"), col("_5").as("purchase_value")),
          "ts", "pts", Seq("user_id" -> "user_id"),
          tolerance = Some(50L * yearNs))
      }
    }),

    // Streaming first-touch funnel under the driver gate: the slice
    // replays through the per-key stage machine; each batch in which a
    // user advanced re-emits the running stage times, and since stages
    // only move forward, the per-user MAX of each column is the final
    // snapshot = the batch funnel for every user that reached stage 1.
    "q193_stream_funnel" -> ((sp, dir) => {
      import sp.implicits._
      replayStream(sp, eventSliceBatches(sp, dir, "ns")) { df =>
        graft.streaming.StreamingFunnel.funnelStream(
          df.toDF("user_id", "ts", "event_id", "et"),
          Seq("user_id"), "et", "ts", Seq("view", "click", "purchase"))
      }.groupBy("user_id")
        .agg(max("t_view").as("t_view"), max("t_click").as("t_click"),
          max("t_purchase").as("t_purchase"),
          max("stage_reached").as("stage_reached"))
    }),

    // Streaming Markov transition feed under the driver gate: the
    // per-event (from, to) edges stream out of the per-key last-event
    // state; their count rollup equals q113's batch matrix on the slice.
    "q194_stream_transitions" -> ((sp, dir) => {
      import sp.implicits._
      // per-from_type total via a window over the counts-sized frame: a
      // q113-style self-join would re-reference the memory-sink view,
      // whose attributes don't deduplicate (Spark INTERNAL_ERROR)
      val w = Window.partitionBy("from_type")
      replayStream(sp, eventSliceBatches(sp, dir, "ns")) { df =>
        graft.streaming.StreamingTransitions.transitionsStream(
          df.toDF("user_id", "ts", "event_id", "et"),
          Seq("user_id"), "et", "ts")
      }.groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
        .select(col("from_type"), col("to_type"), col("n"),
          round(col("n") / sum("n").over(w), 6).as("p"))
    }),

    // Streaming count-min sketch under the driver gate: the documents'
    // tokens stream in three batches through the running sketch (complete
    // mode — the state IS the sketch, at most depth×width rows); the final
    // snapshot equals the batch sketch of the union, pinned by probing it
    // with q71's exact truth join. Salt "q71" on purpose: the oracle is
    // q71's SQL verbatim — streamed ≡ batch, as a hash-checked row.
    "q195_stream_cms" -> ((sp, dir) => {
      import sp.implicits._
      val sketch = replayStream(sp, docBatches(sp, dir), mode = "complete") {
        df =>
          graft.streaming.StreamingSketches.cmsStream(
            df.select(explode(TF.tokens(col("_2"))).as("tok")),
            "tok", 4, 64, "q71")
      }
      val toks = table(sp, dir, "documents")
        .select(explode(TF.tokens(col("text"))).as("tok"))
      val truth = toks.groupBy("tok").agg(count(lit(1)).as("true_cnt"))
      graft.functions.Sketches
        .cmsLookup(sketch, truth.select("tok"), "tok", 4, 64, "q71")
        .join(truth, "tok")
        .select(col("tok"), col("true_cnt"), col("est"))
    }),

    // Streaming HyperLogLog under the driver gate: running registers in
    // complete mode (2^8 state rows forever); the final snapshot feeds the
    // same estimator as batch q72 and the oracle is q72's SQL verbatim.
    "q196_stream_hll" -> ((sp, dir) => {
      import sp.implicits._
      val regs = replayStream(sp, docBatches(sp, dir), mode = "complete") {
        df =>
          graft.streaming.StreamingSketches.hllStream(
            df.select(explode(TF.tokens(col("_2"))).as("tok")),
            "tok", 8, "q72")
      }
      val toks = table(sp, dir, "documents")
        .select(explode(TF.tokens(col("text"))).as("tok"))
      graft.functions.Sketches.hllEstimate(regs, 8)
        .crossJoin(broadcast(
          toks.agg(countDistinct(col("tok")).as("exact_distinct"))))
    }),

    // Streaming data-quality profile under the driver gate: one running
    // state row per profiled column (complete mode); the final snapshot is
    // the batch profile minus the distinct count, with min/max over the
    // STRINGIFIED values (the operator's documented running-range rule —
    // the oracle replays the lexicographic min/max explicitly).
    "q197_stream_profile" -> ((sp, dir) => {
      import sp.implicits._
      val rows = table(sp, dir, "documents")
        .select(col("doc_id").cast("long"), col("lang"), col("source"),
          col("n_chars").cast("long"))
        .orderBy("doc_id").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
        .toSeq
      val n = rows.length
      val batches = Seq(rows.slice(0, n / 3), rows.slice(n / 3, 2 * n / 3),
        rows.slice(2 * n / 3, n))
      replayStream(sp, batches, mode = "complete") { df =>
        graft.streaming.StreamingProfile.profileStream(
          df.toDF("doc_id", "lang", "source", "n_chars"),
          Seq("doc_id", "lang", "source", "n_chars"))
      }
    }),

    // Streaming budget admission under the driver gate: the stream arrives
    // in the batch operator's (salted hash, key) order — three consecutive
    // chunks of it — so the online admitted set equals batch q67 exactly
    // and the oracle is q67's prefix-sum SQL verbatim.
    "q198_stream_budget" -> ((sp, dir) => {
      import sp.implicits._
      val rows = table(sp, dir, "documents")
        .select(col("doc_id").cast("long"), col("lang"),
          TF.tokenCount(col("text")).cast("long").as("n_tok"),
          TF.tokenHashMod(concat(lit("budget:"),
            col("doc_id").cast("string"))).as("h"))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
        .toSeq.sortBy(t => (t._4, t._1)).map(t => (t._1, t._2, t._3))
      val n = rows.length
      val batches = Seq(rows.slice(0, n / 3), rows.slice(n / 3, 2 * n / 3),
        rows.slice(2 * n / 3, n))
      replayStream(sp, batches) { df =>
        graft.streaming.StreamingSampling.capByBudgetOnline(
          df.toDF("doc_id", "lang", "n_tok"), "doc_id", "n_tok", 2000L,
          strataCol = Some("lang"), salt = "budget")
      }.select(col("id").as("doc_id"), col("stratum").as("lang"),
        col("v").as("n_tok"))
    }),

    // Streaming near-dup-against-corpus under the driver gate: even docs
    // are the prepared static corpus (band index, persisted), odd docs
    // stream through the stateless band equi-join + exact-Jaccard verify.
    // Oracle = q64's full MinHash replay with the stream/corpus split.
    "q199_stream_neardup" -> ((sp, dir) => {
      import sp.implicits._
      val corpus = graft.streaming.StreamingDedup.prepareCorpus(
        table(sp, dir, "documents")
          .where(pmod(col("doc_id"), lit(2L)) === 0L), "text", "doc_id")
      try {
        replayStream(sp, docBatches(sp, dir, keep = _ % 2L == 1L)) { df =>
          graft.streaming.StreamingDedup.nearDupAgainstCorpus(
            df.toDF("doc_id", "text"), corpus, "text", "doc_id")
        }
      } finally corpus.unpersist() // memory sink rows are materialized
    }),

    // Streaming multi-touch attribution under the driver gate: per-credit
    // rows stream out of the bounded touch buffer; their per-channel
    // DECIMAL rollup equals batch q157 on the slice (µs times, the batch
    // operator's unit).
    "q200_stream_attribution" -> ((sp, dir) => {
      import sp.implicits._
      replayStream(sp, eventSliceBatches(sp, dir, "us")) { df =>
        graft.streaming.StreamingAttribution.attributionStream(
          df.toDF("user_id", "t", "event_id", "et"),
          Seq("user_id"), "et", "t", "event_id",
          Seq("click", "view"), "purchase",
          lookback = 7L * 86400000000L, model = "position")
      }.groupBy("channel")
        .agg(count(lit(1)).as("n_touches"),
          countDistinct(col("user_id"), col("conv_id")).as("n_conversions"),
          sum(col("credit").cast("decimal(18,6)")).cast("double").as("credit"))
    }),

    // BPE ENCODE emitting the TOKEN SEQUENCE (VERDICT-r9 #2): q188's
    // trained merges applied per distinct word, occurrences reassembled in
    // document order — `tokens` is the space-joined symbol stream a
    // tokenizer consumer actually reads (serialized to one string per the
    // top-level-array ban). The oracle replays the same fold chain per
    // occurrence and string_agg's in word order.
    "q201_bpe_encode_seq" -> ((sp, dir) => {
      val d = table(sp, dir, "documents")
      val m = TF.bpeTrain(d, "text", 5).orderBy("round").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      TF.bpeEncodeSeq(d, "doc_id", "text", m)
    }),

    // Exact-substring dedup, KEEP-ONE removal (VERDICT-r9 #3): q183's
    // marking with the canonical min-(doc_id, pos) occurrence of each
    // duplicated 5-gram surviving — the Lee et al. semantics real corpora
    // want (one copy of boilerplate stays in the training set). The
    // canonical choice is a deterministic global argmin, so the result is
    // partitioning-invariant and the oracle replays it as a row_number
    // over (doc_id, p).
    "q202_dedup_spans_keep_one" -> ((sp, dir) =>
      Dedup.removeDupSpansKeepOne(table(sp, dir, "documents"),
        "doc_id", "text", 5)),

    // Incremental band-index maintenance (VERDICT-r9 #7): the q64 history
    // index built in TWO ingestion steps — write doc_id % 4 == 0, append
    // doc_id % 4 == 2 (the 100 TB append path: only the new batch pays
    // signatures; the history's files never rewrite) — then probed with
    // the same odd batch. Append ≡ rebuild, so the oracle is q64's SQL
    // verbatim. The `_incr_done` marker is written AFTER the append: a
    // crash between write and append leaves no marker, forcing a clean
    // rebuild instead of serving the half-merged index.
    "q203_neardup_index_incr" -> ((sp, dir) => {
      val docs = table(sp, dir, "documents")
      val fresh = graft.sources.Scans.parallelized(
        docs.where(pmod(col("doc_id"), lit(2L)) === 1L))
      val path = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_band_index_incr_${datasetStamp(dir)}").getPath
      val done = new java.io.File(path, "_graft_incr_done")
      if (!done.exists()) {
        val dirF = new java.io.File(path)
        if (dirF.exists()) { // half-built leftover: rebuild from scratch
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
          }
          rm(dirF)
        }
        Dedup.writeBandIndex(
          docs.where(pmod(col("doc_id"), lit(4L)) === 0L),
          "text", "doc_id", path)
        Dedup.appendToBandIndex(
          docs.where(pmod(col("doc_id"), lit(4L)) === 2L),
          "text", "doc_id", path)
        java.nio.file.Files.createFile(done.toPath)
      }
      Dedup.nearDupAgainstIndex(fresh, "text", "doc_id", path, threshold = 0.5)
    }),

    // Retrieval evaluation, LABEL PATH (the 64× fix): q190's same-source
    // weak-label eval without materializing the (query × relevant-doc)
    // pair frame — a handful of shared sources made that frame grow 4096×
    // at 64× (measured 56× wall on q190). Here n_rel is a source-keyed
    // count joined to the queries and hit-marking joins only the top-k
    // result rows to the doc labels. Output ≡ q190 (oracle verbatim).
    "q204_ranking_metrics_label" -> ((sp, dir) => {
      val d = table(sp, dir, "documents")
      val tbl = s"graft_bm25_idx_${datasetStamp(dir)}"
      if (!sp.catalog.tableExists(tbl))
        graft.functions.TfIdf.writeBm25Index(d, "doc_id", "text", tbl, nBuckets = 32)
      val q = d.where(pmod(col("doc_id"), lit(50L)) === 0L)
        .select(col("doc_id").as("qid"),
          array_join(slice(TF.tokens(lower(col("text"))), 1, 8), " ").as("qtext"))
      val res = graft.functions.TfIdf.bm25AgainstIndex(q, "qid", "qtext", tbl, 10)
        .select(col("qid"), col("doc_id"), col("rank"))
      val qLabels = d.where(pmod(col("doc_id"), lit(50L)) === 0L)
        .select(col("doc_id").as("qid"), col("source"))
      graft.functions.Stats.rankingMetricsByLabel(res,
        qLabels, d.select(col("doc_id"), col("source")),
        "qid", "doc_id", "rank", "source", 10)
    }),

    // Incremental BM25 index maintenance: the q78 index built in TWO
    // ingestion steps over the split-stats layout (postings are immutable
    // per-doc facts; per-term df and the (n, sumdl) sentinel fold
    // incrementally — history postings never re-read), probed with q78's
    // queries. Append ≡ rebuild ≡ the classic embedded-df index, so the
    // oracle is q78's full BM25 replay verbatim. Readiness is checked via
    // the stats sentinel's doc count: a crash between write and append
    // leaves n < total and forces a clean rebuild.
    "q205_bm25_index_incr" -> ((sp, dir) => {
      val d = table(sp, dir, "documents")
      val tbl = s"graft_bm25_incr_${datasetStamp(dir)}"
      val total = d.count()
      val ready = sp.catalog.tableExists(tbl) &&
        sp.catalog.tableExists(s"${tbl}_stats") &&
        sp.table(s"${tbl}_stats").where(col("term").isNull)
          .select("n").head().getLong(0) == total
      if (!ready) {
        graft.functions.TfIdf.writeBm25IndexIncr(
          d.where(pmod(col("doc_id"), lit(2L)) === 0L),
          "doc_id", "text", tbl, nBuckets = 32)
        graft.functions.TfIdf.appendToBm25Index(
          d.where(pmod(col("doc_id"), lit(2L)) === 1L), "doc_id", "text", tbl)
      }
      val q = d.where(pmod(col("doc_id"), lit(50L)) === 0L)
        .select(col("doc_id").as("qid"),
          array_join(slice(TF.tokens(lower(col("text"))), 1, 8), " ").as("qtext"))
      graft.functions.TfIdf.bm25AgainstIndexIncr(q, "qid", "qtext", tbl, 10)
    }),

    // BPE token-id VOCABULARY: the q187-trained encoder's distinct output
    // symbols over the corpus, dense ids in lexicographic symbol order
    // (the deterministic, tie-free assignment rule) with weighted corpus
    // occurrence counts — the tokenizer artifact a training pipeline
    // ships. The id window sorts a vocab-bounded frame only.
    "q206_bpe_vocab" -> ((sp, dir) => {
      val d = table(sp, dir, "documents")
      val m = TF.bpeTrain(d, "text", 5).orderBy("round").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      TF.bpeVocab(d, "text", m)
    }),

    // BPE ENCODE TO IDS — the final model-feed surface: q201's symbol
    // sequences mapped through the q206 vocab, one comma-joined id string
    // per doc. Fold chain + symbol→id join run once per distinct word;
    // the vocab broadcasts.
    "q207_bpe_encode_ids" -> ((sp, dir) => {
      val d = table(sp, dir, "documents")
      val m = TF.bpeTrain(d, "text", 5).orderBy("round").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      TF.bpeEncodeIds(d, "doc_id", "text", m)
    }),

    // LATE DATA under a watermark — the one streaming semantic every
    // replay so far avoided ("nothing is ever late"): hourly per-type
    // counts over the 10% slice, where a deterministic subset of batch-2
    // rows is HELD BACK into batch 3: everything in the last 6 h before
    // the c2 cut plus event_id % 3 == 0 of the last 48 h. When batch 3
    // processes, the watermark stands at (ms-floored max ON-TIME event
    // time of batches 1–2) − 1 s — at least 6 h behind c2 by
    // construction — so the recent held rows provably SURVIVE (their
    // hour windows are still open) while the older ones provably DROP:
    // both sides of Spark's stateful-aggregation late-row rule are
    // exercised at both gate SFs (sf0.01: 26 held → 7 survive;
    // sf0.1: 291 → 100) and pinned against the oracle's explicit replay
    // of the same cutoff. The far-future flush advances the watermark
    // past every real window so append mode emits them all; the flush
    // row's own window never closes and never emits.
    "q208_stream_late" -> ((sp, dir) => {
      import sp.implicits._
      val rows = table(sp, dir, "events")
        .where(pmod(col("user_id"), lit(10L)) === 0L)
        .select(col("event_type"),
          expr("unix_micros(cast(ts as timestamp))").as("t"),
          col("event_id").cast("long"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .toSeq
      val ts = rows.map(_._2).sorted
      val (c1, c2) = (ts(ts.length / 3), ts(2 * ts.length / 3))
      val hourUs = 3600000000L
      def isLate(r: (String, Long, Long)) =
        r._2 >= c1 && r._2 < c2 &&
          (r._2 >= c2 - 6 * hourUs ||
            (r._2 >= c2 - 48 * hourUs && r._3 % 3 == 0))
      val b1 = rows.filter(_._2 < c1)
      val b2 = rows.filter(r => r._2 >= c1 && r._2 < c2 && !isLate(r))
      val b3 = rows.filter(r => r._2 >= c2 || isLate(r))
      val flush = Seq(("__flush", ts.last + 365L * 86400000000L, -1L))
      replayStream(sp, Seq(b1, b2, b3, flush)) { df =>
        df.select(col("_1").as("event_type"),
            timestamp_micros(col("_2")).as("ts"))
          .withWatermark("ts", "1 second")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("cnt"))
          .select(col("event_type"),
            expr("unix_micros(window.start)").as("wstart"), col("cnt"))
      }.where(col("event_type") =!= "__flush") // fixture plumbing, not data
    }),

    // Band-index TOMBSTONE DELETE — the lifecycle leg after q203's append:
    // index the even docs, logically delete the %6==0 slice (takedown /
    // GDPR-erasure shape), probe with the odd docs. The probe anti-joins
    // the (broadcast, delete-batch-sized) tombstone set — the index
    // parquet is NOT rewritten — and must equal a rebuild over the
    // survivors, which is exactly what the oracle replays (q64's SQL with
    // the index side restricted to doc_id % 6 <> 0). Physical reclaim is
    // compactBandIndex, spec-pinned probe-preserving.
    "q209_neardup_index_del" -> ((sp, dir) => {
      val docs = table(sp, dir, "documents")
      val fresh = graft.sources.Scans.parallelized(
        docs.where(pmod(col("doc_id"), lit(2L)) === 1L))
      val path = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_band_index_del_${datasetStamp(dir)}").getPath
      val done = new java.io.File(path, "_graft_del_done")
      if (!done.exists()) {
        val dirF = new java.io.File(path)
        if (dirF.exists()) { // half-built leftover: rebuild from scratch
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
          }
          rm(dirF)
        }
        Dedup.writeBandIndex(
          docs.where(pmod(col("doc_id"), lit(2L)) === 0L),
          "text", "doc_id", path)
        Dedup.deleteFromBandIndex(
          docs.where(pmod(col("doc_id"), lit(6L)) === 0L).select("doc_id"),
          "doc_id", path)
        java.nio.file.Files.createFile(done.toPath)
      }
      Dedup.nearDupAgainstIndex(fresh, "text", "doc_id", path, threshold = 0.5)
    }),

    // BM25 TOMBSTONE DELETE — q205's lifecycle leg: full-corpus index,
    // then the %9==4 slice is logically deleted. Postings mask via a
    // broadcast anti-join; df / n / sumdl folded DOWN at delete time in
    // long arithmetic, so scores over the survivors rebuild BIT-EXACTLY —
    // the oracle replays BM25 over the surviving corpus (queries still
    // draw from all docs: a deleted doc may keep querying, it just stops
    // being retrievable). Readiness: survivor doc count in the stats
    // sentinel AND the tombstone table present — a crash between the
    // stats fold and the tombstone append leaves n correct but postings
    // unmasked, and must force the rebuild.
    "q210_bm25_index_del" -> ((sp, dir) => {
      val d = table(sp, dir, "documents")
      val tbl = s"graft_bm25_del_${datasetStamp(dir)}"
      val total = d.where(pmod(col("doc_id"), lit(9L)) =!= 4L).count()
      val ready = sp.catalog.tableExists(tbl) &&
        sp.catalog.tableExists(s"${tbl}_stats") &&
        sp.catalog.tableExists(s"${tbl}_tombstones") &&
        sp.table(s"${tbl}_stats").where(col("term").isNull)
          .select("n").head().getLong(0) == total
      if (!ready) {
        graft.functions.TfIdf.writeBm25IndexIncr(d, "doc_id", "text", tbl,
          nBuckets = 32)
        graft.functions.TfIdf.deleteFromBm25Index(
          d.where(pmod(col("doc_id"), lit(9L)) === 4L).select("doc_id"),
          "doc_id", tbl)
      }
      val q = d.where(pmod(col("doc_id"), lit(50L)) === 0L)
        .select(col("doc_id").as("qid"),
          array_join(slice(TF.tokens(lower(col("text"))), 1, 8), " ").as("qtext"))
      graft.functions.TfIdf.bm25AgainstIndexIncr(q, "qid", "qtext", tbl, 10)
    }),

    // TRAINING SEQUENCES — the end of the tokenizer pipeline: q207's
    // per-doc token ids split into fixed 16-token windows, the last
    // right-padded with -1, n_real carrying the attention-mask boundary.
    // Documents never mix (cross-doc packing is q56/q186); the window
    // layer is pure codegen'd array expressions inside the scan stage —
    // no shuffle beyond what the encode itself does at any corpus size.
    "q211_train_sequences" -> ((sp, dir) => {
      val d = table(sp, dir, "documents")
      val m = TF.bpeTrain(d, "text", 5).orderBy("round").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.functions.Packing.fixedLenSequences(
        TF.bpeEncodeIds(d, "doc_id", "text", m),
        "doc_id", "token_ids", seqLen = 16, padId = -1L)
    }),

    // Embedding-space DECONTAMINATION — the vector sibling of q54/q189's
    // n-gram scrubs, catching paraphrased eval leakage exact grams miss:
    // the %37==5 slice plays the benchmark (collected driver-side, eval
    // sets are KB-scale), the rest is the corpus, and every corpus vector
    // whose best benchmark cosine (4 dp, ties to the smaller bench id)
    // reaches 0.3 is flagged with its match. Zero shuffle: the argmax is
    // one codegen'd fold over benchmark literals inside the corpus scan
    // (the fixture's embeddings are near-random — max cross-sim ~0.48 —
    // so 0.3 exercises a real flagged/unflagged split).
    "q212_embed_decontaminate" -> ((sp, dir) => {
      val e = table(sp, dir, "embeddings")
      // vec_id < 1e8 pins the benchmark to the ORIGINAL corpus copy: a
      // no-op at the gate SFs (all ids are < 1e8 there), and the honest
      // experimental design on the affine-scaled dirs — eval benchmarks
      // are FIXED while the corpus grows, so the 16x curve measures a
      // constant-size literal fold over 16x the scan.
      val bench = e.where(pmod(col("vec_id"), lit(37L)) === 5L &&
          col("vec_id") < 100000000L)
        .select(col("vec_id").cast("long"),
          col("embedding").cast("array<double>"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        .toSeq.sortBy(_._1)
      Similarity.embedDecontaminate(
        e.where(pmod(col("vec_id"), lit(37L)) =!= 5L), bench, 0.3)
    }),

    // WordPiece VOCAB — the second tokenizer family next to BPE
    // (q187/q206): substring forms (plain at word start, ## inside)
    // counted over the distinct-word frame weighted by occurrence, top-50
    // multi-char forms by (count, piece) + every observed single-char
    // form (so encode under this vocab is total). Dense ids in piece
    // order over a vocab-bounded window.
    "q213_wordpiece_vocab" -> ((sp, dir) =>
      TF.wordpieceVocab(table(sp, dir, "documents"), "text", k = 50, maxPieceLen = 4)),

    // WordPiece ENCODE — BERT's greedy longest-match-first segmentation
    // under the q213 vocab (collected driver-side: vocabularies are
    // KB-scale literals by construction). Pure integer/string folds, so
    // the oracle replays the exact greedy walk; the fold runs once per
    // DISTINCT word (the vocab trick), occurrences pay one word-keyed
    // join plus the per-doc ordered reassembly.
    "q214_wordpiece_encode" -> ((sp, dir) => {
      val d = table(sp, dir, "documents")
      val voc = TF.wordpieceVocab(d, "text", k = 50, maxPieceLen = 4)
        .select("piece").collect().map(_.getString(0)).toSeq
      TF.wordpieceEncode(d, "doc_id", "text", voc, maxPieceLen = 4)
    }),

    // Unigram-LM tokenizer TRAINING (Kudo ACL '18) — the third subword
    // family next to BPE (q187) and WordPiece (q213): frequency-seeded
    // piece counts (top-60 multi-char + char totality), one EM round of
    // Viterbi segmentation (integer-scaled log-prob scores, exact long
    // DP) and piece recounting. The oracle replays seeding, the Viterbi
    // E-step (recursive CTE carrying the last-4 DP cells + backpointer
    // digits), the M-step recount, and the final score computation.
    "q215_unigram_vocab" -> ((sp, dir) =>
      TF.unigramTrain(table(sp, dir, "documents"), "text", k = 60,
        maxPieceLen = 4, rounds = 1)),

    // Unigram-LM ENCODE under the q215 scores: per-document Viterbi
    // max-log-prob segmentation (q214's output surface, probabilistic
    // split instead of greedy). The DP folds once per DISTINCT word with
    // the vocab as a map literal; occurrences pay one word-keyed join
    // plus the per-doc ordered reassembly.
    "q216_unigram_encode" -> ((sp, dir) => {
      val d = table(sp, dir, "documents")
      val sc = TF.unigramTrain(d, "text", k = 60, maxPieceLen = 4, rounds = 1)
        .select("piece", "score").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      TF.unigramEncode(d, "doc_id", "text", sc, maxPieceLen = 4)
    }),

    // Encode under a FROZEN vocabulary with real OOV — the shipped-
    // tokenizer contract q216 can't exercise (its vocab derives from the
    // corpus it encodes, so every char is covered): the q215 scores minus
    // every piece containing 'q' make each q-bearing word UNREACHABLE in
    // the Viterbi DP, and the whole-word [UNK] bail — until now only
    // spec-pinned — lands under the oracle gate on both engines.
    "q217_unigram_frozen_oov" -> ((sp, dir) => {
      val d = table(sp, dir, "documents")
      val sc = TF.unigramTrain(d, "text", k = 60, maxPieceLen = 4, rounds = 1)
        .select("piece", "score").collect()
        .map(r => r.getString(0) -> r.getLong(1))
        .filterNot(_._1.contains("q")).toMap
      TF.unigramEncode(d, "doc_id", "text", sc, maxPieceLen = 4)
    }),

    // BPE under a PERSISTED FROZEN vocabulary — the production tokenizer
    // contract for the first family, matching q217's unigram shape: merges
    // + vocab TRAIN on the odd-doc slice, the vocab ships as a parquet
    // table (censored of every 'q'-bearing symbol, the q217 idiom that
    // guarantees real OOV), and the EVEN slice encodes against the table.
    // Pinned OOV policy: a symbol absent from the frozen vocab DROPS
    // (per-symbol, not whole-word — bpeEncodeIds' documented contract);
    // n_sym counts surviving symbols only. The vocab table is KB-scale by
    // construction, so the collect-free probe broadcasts it.
    "q218_bpe_frozen_ids" -> ((sp, dir) => {
      val d = table(sp, dir, "documents")
      val train = d.where(pmod(col("doc_id"), lit(2L)) === 1L)
      val m = TF.bpeTrain(train, "text", 5).orderBy("round").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val tbl = s"graft_bpe_vocab_${datasetStamp(dir)}"
      if (!sp.catalog.tableExists(tbl)) {
        graft.sources.ManagedTables.clearOrphanedLocation(sp, tbl)
        TF.bpeVocab(train, "text", m)
          .where(!col("symbol").contains("q"))
          .write.format("parquet").mode("overwrite").saveAsTable(tbl)
      }
      TF.bpeEncodeIds(d.where(pmod(col("doc_id"), lit(2L)) === 0L),
        "doc_id", "text", m, vocab = Some(sp.table(tbl)))
    }),

    // WordPiece under a PERSISTED FROZEN vocabulary — q218's contract for
    // the second family: vocab trained on the odd slice, persisted,
    // q-censored, even slice encodes. Pinned OOV policy: WordPiece bails
    // the WHOLE word to [UNK] when any position has no matching piece
    // (BERT's rule) — with the 'q' char piece censored, every q-bearing
    // word provably exercises it.
    "q219_wordpiece_frozen" -> ((sp, dir) => {
      val d = table(sp, dir, "documents")
      val train = d.where(pmod(col("doc_id"), lit(2L)) === 1L)
      val tbl = s"graft_wp_vocab_${datasetStamp(dir)}"
      if (!sp.catalog.tableExists(tbl)) {
        graft.sources.ManagedTables.clearOrphanedLocation(sp, tbl)
        TF.wordpieceVocab(train, "text", k = 50, maxPieceLen = 4)
          .where(!col("piece").contains("q"))
          .write.format("parquet").mode("overwrite").saveAsTable(tbl)
      }
      val voc = sp.table(tbl).select("piece").collect().map(_.getString(0)).toSeq
      TF.wordpieceEncode(d.where(pmod(col("doc_id"), lit(2L)) === 0L),
        "doc_id", "text", voc, maxPieceLen = 4)
    }),

    // The END-TO-END training-data pipeline as ONE oracle-gated query —
    // EndToEndPipelineSpec's composition promoted to the gate: quality
    // filter → exact dedup → near-dup removal → benchmark decontamination
    // → mixture resampling → per-language token budget → deterministic
    // global shuffle → sequence packing, every stage the library operator
    // the per-stage rows (q09/q17/q54/q65/q67/q66/q56) already pin
    // individually. The bench slice is q54's every-50th doc; near-dup
    // removal drops any doc that near-duplicates a LOWER-id doc (the
    // keep-first policy — cheaper than CC at scale and exactly
    // SQL-replayable); the quality cut uses exact integer predicates
    // (>= 20 tokens, strict-majority distinct) so no float boundary can
    // diverge between engines. Scale shape: the only shuffles are the
    // stages' own (dedup group-by, LSH band join, window partitions);
    // the bench gram set and budget-offset table broadcast.
    "q220_pipeline" -> ((sp, dir) => {
      val d = table(sp, dir, "documents")
      val bench = d.where(pmod(col("doc_id"), lit(50L)) === 0L)
      val corpus0 = d.where(pmod(col("doc_id"), lit(50L)) =!= 0L)
      val nTok = TF.tokenCount(col("text"))
      val filtered = corpus0.where(nTok >= 20 &&
        size(array_distinct(TF.tokens(col("text")))) * 2 > nTok)
      val keepers = Dedup.exactDupGroups(filtered, "text", "doc_id")
        .select(col("keeper"))
      val exact = filtered.join(keepers,
        filtered("doc_id") === col("keeper"), "left_semi")
      val dups = Dedup.nearDupPairs(exact, "text", "doc_id",
          k = 16, bands = 4, shingleN = 5, threshold = 0.5)
        .select(col("id_b").as("doc_id")).distinct()
      val deduped = exact.join(dups, Seq("doc_id"), "left_anti")
      val hits = Dedup.benchmarkContamination(deduped, bench, "text",
        "doc_id", n = 3)
      // Materialize the cleaned corpus ONCE: the three downstream sampler
      // stages each run a driver-side totals/weights pass over their full
      // upstream (documented two-pass operators), so the un-materialized
      // composition recomputed the filter→dedup→decontaminate chain four
      // times (40 jobs at sf0.1). Production pipelines persist exactly this
      // boundary; results are unchanged.
      val clean = deduped.join(hits.select(col("id").as("doc_id")),
          Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), nTok.cast("long").as("n_tok"))
        .localCheckpoint(true)
      val mixed = graft.functions.Sampling.resampleByWeight(
        clean.select(col("doc_id"), col("lang"), col("n_tok")),
        "doc_id", "lang",
        Map("en" -> 2.5, "de" -> 1.0, "es" -> 1.0, "fr" -> 0.6, "zh" -> 0.4))
      val keyed = mixed.withColumn("key",
        concat_ws("#", col("doc_id"), col("epoch")))
      // same reason: the shuffle's totals pass would otherwise re-run the
      // resample + budget windows a second and third time
      val budgeted = graft.functions.Sampling.capByBudget(keyed, "key",
          "n_tok", 2000L, strataCols = Seq("lang"))
        .localCheckpoint(true)
      val shuffled = graft.functions.Sampling.globalShuffle(budgeted, "key")
      Packing.packStream(shuffled, "key", col("n_tok"),
          capacity = 256, nBuckets = 8)
        .select(col("key"), col("doc_id"), col("lang"), col("epoch"),
          col("idx"), col("bucket"), col("n_tok"), col("pack_first"),
          col("pack_offset"), col("pack_last"), col("n_packs"))
    })
  )

  /** q19/q41's click/purchase rows on the 10% user slice as ONE
    * side-tagged sequence — (side 1=click/0=purchase, user_id, ts,
    * event_id, value) — cut into three joint-event-time micro-batches.
    * One combined stream keeps each joint batch a single atomic addData
    * block (one micro-batch sees all of it, any trigger timing), which is
    * what makes the as-of replays' arrival order provably equal event-time
    * order. Also returns the sliced click users and the global max time
    * for q192's sentinel flush. The fixture has no (user_id, ts) ties, so
    * the latest/first-right state transitions are deterministic without a
    * tie rule. */
  private def asofSliceBatches(sp: SparkSession, dir: String)
      : (Seq[Seq[(Int, Long, Long, Long, Double)]], Seq[Long], Long) = {
    val ev = table(sp, dir, "events")
      .where(pmod(col("user_id"), lit(10L)) === 0L &&
        col("event_type").isin("click", "purchase"))
      .select(when(col("event_type") === "click", 1).otherwise(0).as("side"),
        col("user_id").cast("long"),
        (expr("unix_micros(cast(ts as timestamp))") * 1000L).as("tsq"),
        col("event_id").cast("long"), col("value"))
    val rows = ev.collect().map(r =>
      (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toSeq
    val ts = rows.map(_._3).sorted
    val (c1, c2) = (ts(ts.length / 3), ts(2 * ts.length / 3))
    val batches = Seq(rows.filter(_._3 < c1),
      rows.filter(r => r._3 >= c1 && r._3 < c2), rows.filter(_._3 >= c2))
    (batches, rows.filter(_._1 == 1).map(_._2).distinct.sorted, ts.last)
  }

  /** The q124 fixture: event-type transition graph with row-normalized
    * Markov weights (6 dp). */
  private def transitionEdges(sp: SparkSession, dir: String): DataFrame = {
    val e = table(sp, dir, "events").select(col("user_id"),
      expr("unix_micros(cast(ts as timestamp)) * 1000").as("t"),
      col("event_id"), col("event_type"))
    val w = Window.partitionBy("user_id").orderBy("t", "event_id")
    val pairs = e.select(col("event_type").as("to_type"),
        lag(col("event_type"), 1).over(w).as("from_type"))
      .where(col("from_type").isNotNull)
      .groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
    val tot = pairs.groupBy("from_type").agg(sum("n").as("__tot"))
    pairs.join(tot, "from_type")
      .select(col("from_type"), col("to_type"),
        round(col("n") / col("__tot"), 6).as("p"))
  }

  /** The q159 fixture: co-purchase edges (in-array pair idiom, one
    * basket-keyed shuffle) plus the part-brand label frame. */
  private def copurchaseGraph(sp: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val li = table(sp, dir, "lineitem")
      .select(col("l_orderkey").as("__bk"), col("l_partkey").as("__it"))
    val edges = li.groupBy("__bk")
      .agg(sort_array(array_distinct(collect_list(col("__it")))).as("__is"))
      .select(explode(expr(
        "flatten(transform(sequence(1, size(__is)), " +
          "i -> transform(slice(__is, i + 1, size(__is) - i), " +
          "y -> struct(element_at(__is, i) AS src, y AS dst))))"))
        .as("__p"))
      .groupBy(col("__p.src").as("src"), col("__p.dst").as("dst"))
      .agg(count(lit(1)).as("w"))
    (edges, table(sp, dir, "part").select(col("p_partkey"), col("p_brand")))
  }

  /** The q28 order-span fixture as driver-side micro-batches for the
    * streaming replay entries: three batches split at fixed date literals
    * (1994-01-01, 1996-01-01) so event time never runs backwards across
    * batches, plus a final degenerate flush row (start == stop, far
    * future) that advances the watermark past every stop — open runs all
    * close, so the streamed output is COMPLETE and equals the batch
    * operator's. Returns (batches, farFutureNs). */
  private def orderSpanBatches(sp: SparkSession,
      dir: String): (Seq[Seq[(Long, Long, Long)]], Long) = {
    val startNs = unix_micros(col("o_orderdate").cast("timestamp")) * 1000L
    // typed collect: specialized (Long, Long, Long) tuples skip the
    // GenericRow boxing of 150 k rows (the CC edge-collect idiom)
    val rows = table(sp, dir, "orders").select(
        col("o_custkey").cast("long").as("k"), startNs.as("s"),
        (startNs + (pmod(col("o_orderkey"), lit(30L)) + 1L)
          * lit(86400000000000L)).as("e"))
      .as(org.apache.spark.sql.Encoders.tuple(
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.Encoders.scalaLong))
      .collect().toSeq
    val cut1 = 757382400L * 1000000000L // 1994-01-01 UTC, ns
    val cut2 = 820454400L * 1000000000L // 1996-01-01 UTC, ns
    val far = rows.map(_._3).max + 86400000000000L
    val batches = Seq(
      rows.filter(_._2 < cut1),
      rows.filter(r => r._2 >= cut1 && r._2 < cut2),
      rows.filter(_._2 >= cut2),
      Seq((-1L, far, far))) // degenerate: drops, but drives the watermark
    (batches, far)
  }

  /** MemoryStream tuple batches -> the streaming interval ops' input
    * shape: key, span struct (long ns), TimestampType event time = the
    * interval start (integer µs division — a double division would lose
    * sub-ms precision at epoch-ns magnitudes). */
  private def streamSpans(df: DataFrame): DataFrame =
    df.select(col("_1").as("k"),
      struct(col("_2").as("start"), col("_3").as("stop")).as("span"),
      timestamp_micros(expr("_2 div 1000")).as("ts"))

  private val streamSeq = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Replays `batches` through a MemoryStream one micro-batch at a time
    * (processAllAvailable between adds, so the watermark advances once per
    * batch and Spark's no-data batch fires event-time timeouts), collects
    * the append-mode output in a memory sink and returns it as a batch
    * frame. This is how the streaming operators' batch-equivalence — until
    * now only spec-pinned — surfaces as ordinary oracle-checked rows in
    * the driver's correctness gate. */
  private def replayStream[T <: Product](sp: SparkSession,
      batches: Seq[Seq[T]], mode: String = "append")(
      build: DataFrame => DataFrame)(
      implicit ev: org.apache.spark.sql.Encoder[T]): DataFrame = {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[T]
    val name = s"graft_stream_replay_${streamSeq.incrementAndGet()}"
    // state-store partition count = shuffle partitions AT QUERY START, and
    // every micro-batch schedules that many stateful tasks per stateful
    // operator AND commits that many state-store deltas — at 32 it is pure
    // per-batch overhead for these bounded replays. Pin 2 for the streaming
    // query only (entries run sequentially in Verify/Bench; restored
    // immediately after). Measured on the q175 shape (StreamOverheadProbe,
    // same session confs): 32 parts 7.1 s, 8 parts 4.29 s, 2 parts 4.06 s —
    // even a 0-row no-data batch costs ~0.3 s/partition-set in state-store
    // commit. Results are partition-count-invariant (keyed state, exact
    // integer aggregates); production streams size this by load, the pin is
    // replay-fixture machinery only.
    val prevParts = sp.conf.get("spark.sql.shuffle.partitions")
    sp.conf.set("spark.sql.shuffle.partitions", "2")
    try {
      // mode "complete" for running-aggregation operators (sketches,
      // profile): the memory sink then holds the LATEST snapshot, which
      // after the final batch is the aggregate of the whole replay.
      val q = build(in.toDF()).writeStream.format("memory")
        .queryName(name).outputMode(mode).start()
      try batches.foreach { b => in.addData(b); q.processAllAvailable() }
      finally q.stop()
    } finally sp.conf.set("spark.sql.shuffle.partitions", prevParts)
    sp.table(name)
  }

  // NOTE deliberately NO two-source replay helper: with two MemoryStreams
  // the engine's continuous trigger can fire BETWEEN the two addData calls
  // and process a one-sided prefix of a joint batch, silently breaking the
  // event-time-ordered-arrival precondition (observed: 521 sf0.1 as-of
  // rows, timing-dependent). Binary operators replay through ONE
  // side-tagged stream split inside the query — one addData block is one
  // atomic micro-batch under any trigger timing.

  /** Shared fixture of the q191–q200 replay entries: the q184 10% user
    * slice of events as (user_id, ts, event_id, event_type) rows in the
    * requested time unit ("ns" like q103/q113, "us" like q157), split into
    * three micro-batches at the 1/3 and 2/3 event-time quantiles. Batches
    * partition event time, so nothing is ever late and each streamed
    * operator's output equals its batch counterpart exactly. The events
    * fixture has no (user_id, ts) ties at any SF (checked at 0.01/0.1), so
    * in-batch (ts)-sorting is a total order per key and the replay is
    * deterministic. */
  private def eventSliceBatches(sp: SparkSession, dir: String,
      unit: String): Seq[Seq[(Long, Long, Long, String)]] = {
    val tsExpr = unit match {
      case "ns" => expr("unix_micros(cast(ts as timestamp)) * 1000")
      case "us" => expr("unix_micros(cast(ts as timestamp))")
      case u    => throw new IllegalArgumentException(s"unknown unit $u")
    }
    val rows = table(sp, dir, "events")
      .where(pmod(col("user_id"), lit(10L)) === 0L)
      .select(col("user_id").cast("long"), tsExpr.cast("long"),
        col("event_id").cast("long"), col("event_type"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSeq
    val ts = rows.map(_._2).sorted
    val (c1, c2) = (ts(ts.length / 3), ts(2 * ts.length / 3))
    Seq(rows.filter(_._2 < c1),
      rows.filter(r => r._2 >= c1 && r._2 < c2),
      rows.filter(_._2 >= c2))
  }

  /** The documents table as (doc_id, text) micro-batches in doc_id order —
    * the feed of the streamed sketch/profile/dedup entries. Any split
    * works for pure running aggregations; doc_id order keeps it
    * deterministic. */
  private def docBatches(sp: SparkSession, dir: String,
      keep: Long => Boolean = _ => true): Seq[Seq[(Long, String)]] = {
    val rows = table(sp, dir, "documents")
      .select(col("doc_id").cast("long"), col("text"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
      .filter(t => keep(t._1))
    val n = rows.length
    Seq(rows.slice(0, n / 3), rows.slice(n / 3, 2 * n / 3), rows.slice(2 * n / 3, n))
  }

  /** A real 3x2 PNG with fixed pixels rgb(x,y) = (10+40x+100y, 7x, 3y);
    * r+g+b sums to 651 over the six pixels (the q62 oracle constant).
    * Encoded once driver-side with the JDK encoder — lossless, so decode
    * is exact regardless of encoder byte choices. */
  private lazy val testPng: Array[Byte] = {
    val img = new java.awt.image.BufferedImage(3, 2,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 2; x <- 0 until 3)
      img.setRGB(x, y, ((10 + 40 * x + 100 * y) << 16) | ((7 * x) << 8) | (3 * y))
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.setUseCache(false)
    javax.imageio.ImageIO.write(img, "png", out)
    out.toByteArray
  }

  /** A minimal ISO-BMFF (mp4) container: ftyp major brand `isom`, moov
    * holding an mvhd v0 with timescale 1000 and duration 5000 ticks, and
    * two empty trak boxes (the q68 oracle constants). */
  private lazy val testMp4: Array[Byte] = {
    val mvhd = java.nio.ByteBuffer.allocate(28)
    mvhd.putInt(28).put("mvhd".getBytes("US-ASCII"))
      .putInt(0).putInt(0).putInt(0).putInt(1000).putInt(5000)
    val moovSize = 8 + 28 + 8 * 2
    val bb = java.nio.ByteBuffer.allocate(16 + moovSize)
    bb.putInt(16).put("ftyp".getBytes("US-ASCII"))
      .put("isom".getBytes("US-ASCII")).putInt(0x200)
    bb.putInt(moovSize).put("moov".getBytes("US-ASCII")).put(mvhd.array())
    (0 until 2).foreach(_ => bb.putInt(8).put("trak".getBytes("US-ASCII")))
    bb.array()
  }

  /** A canonical PCM WAV: 2 channels, 16 kHz, 16-bit, 320 data bytes
    * (= 80 frames — the q63 oracle constants). */
  private lazy val testWav: Array[Byte] = {
    val dataBytes = 320
    val bb = java.nio.ByteBuffer.allocate(44 + dataBytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataBytes)
    bb.put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
    bb.putShort(1).putShort(2)                    // PCM, 2 channels
    bb.putInt(16000).putInt(16000 * 2 * 2)        // rate, byte rate
    bb.putShort(4).putShort(16)                   // block align, bits
    bb.put("data".getBytes("US-ASCII")).putInt(dataBytes)
    (0 until dataBytes).foreach(i => bb.put((i % 251).toByte))
    bb.array()
  }

  // ------------------------------------------------- oracle SQL fragments

  /** DuckDB rendering of [[TF.tokenHashMod]]: md5-derived 60-bit hash mod P. */
  private def hSql(x: String) =
    s"('0x' || substr(md5($x),1,15))::BIGINT % ${TF.HashMod}"

  private val toksSql =
    """list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')"""

  /** q46's full clusters replay (simhash → hamming-≤2 edges → recursive
    * min-reachability CC), shared with q138's size-histogram rollup. */
  private lazy val q46ClustersSql: String = {
    val hsSql = s"list_transform($toksSql, t -> ('0x' || substr(md5(t),1,15))::BIGINT)"
    val bitTerms = (0 until 32).map { j =>
      s"(CASE WHEN list_sum(list_transform(hs, h -> ((h >> $j) & 1)*2 - 1)) > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString("\n  + ")
    // transitive closure by recursive min-reachability; rep = min id
    s"""WITH RECURSIVE
       |t AS (SELECT doc_id, $hsSql AS hs FROM documents),
       |sh AS (SELECT doc_id, CAST($bitTerms AS BIGINT) AS sh FROM t),
       |e0 AS (SELECT x.doc_id AS a, y.doc_id AS b
       |       FROM sh x JOIN sh y
       |         ON x.doc_id < y.doc_id AND bit_count(xor(x.sh, y.sh)) <= 2),
       |edges AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
       |reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM sh
       |  UNION
       |  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id)
       |SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS rep
       |FROM reach GROUP BY id""".stripMargin
  }

  /** Full BM25 replay shared by q74 (direct) and q78 (persisted index —
    * must equal the direct path bit for bit): same lowercase tokens, same
    * idf/tf/length math in the same float op order, contributions folded
    * in sorted term order from 0.0, rank on the 6-dp-rounded score. */
  private lazy val bm25ReplaySql = bm25ReplaySqlFor("TRUE")

  /** The full BM25 replay with the CORPUS restricted by `corpusPred` —
    * queries still draw from the unrestricted documents table (a deleted
    * doc may keep issuing queries; it just stops being retrievable).
    * `corpusPred = "TRUE"` is the classic full-corpus replay shared by
    * q78/q190/q204/q205; q210 passes the tombstone survivors. */
  private def bm25ReplaySqlFor(corpusPred: String) = {
    val toksLower =
      """list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')"""
    s"""WITH toks AS (SELECT doc_id AS id, unnest($toksLower) AS term
       |              FROM documents WHERE $corpusPred),
       |tf AS (SELECT id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
       |dl AS (SELECT id, count(*) AS dl FROM toks GROUP BY 1),
       |dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |st AS (SELECT (SELECT count(*) FROM documents WHERE $corpusPred) AS n,
       |              (SELECT CAST(count(*) AS DOUBLE) FROM toks)
       |                / (SELECT count(*) FROM documents WHERE $corpusPred)
       |                AS avgdl),
       |q AS (SELECT qid, unnest(qt) AS term
       |      FROM (SELECT doc_id AS qid,
       |                   list_distinct(($toksLower)[1:8]) AS qt
       |            FROM documents WHERE doc_id % 50 = 0)),
       |j AS (SELECT q.qid, tf.id, tf.term,
       |             ln(1.0 + (n - df + 0.5) / (df + 0.5))
       |               * (tf * ${1.2 + 1.0})
       |               / (tf + 1.2 * (${1.0 - 0.75} + (0.75 * dl) / avgdl)) AS c
       |      FROM q JOIN tf USING (term) JOIN dl USING (id)
       |             JOIN dfr USING (term), st),
       |f AS (SELECT qid, id AS doc_id,
       |             CAST(sum(CAST(round(c, 6) AS DECIMAL(18,6))) AS DOUBLE)
       |               AS score
       |      FROM j GROUP BY 1, 2),
       |r AS (SELECT *, row_number() OVER (PARTITION BY qid
       |                                   ORDER BY score DESC, doc_id) AS rank
       |      FROM f)
       |SELECT qid, doc_id, score, rank FROM r WHERE rank <= 10""".stripMargin
  }

  /** q190's retrieval-evaluation replay — shared verbatim by the
    * pair-truth row (q190) and the label-path production substitution
    * (q204), whose plan never materializes the (query × relevant-doc)
    * pair frame. */
  private lazy val q190Sql =
    s"""WITH bm AS ($bm25ReplaySql),
      |res AS (SELECT qid, doc_id, CAST(rank AS BIGINT) AS r FROM bm
      |        WHERE rank BETWEEN 1 AND 10),
      |qs AS (SELECT doc_id AS qid, source FROM documents WHERE doc_id % 50 = 0),
      |rel AS (SELECT DISTINCT q.qid, d.doc_id
      |        FROM qs q JOIN documents d ON d.source = q.source),
      |nr AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_rel FROM rel GROUP BY qid),
      |h AS (SELECT r.qid, min(r.r) AS first,
      |             list(round(1.0 / log2(CAST(r.r AS DOUBLE) + 1.0), 6)
      |                  ORDER BY r.r) AS gs
      |      FROM res r JOIN rel ON rel.qid = r.qid AND rel.doc_id = r.doc_id
      |      GROUP BY r.qid),
      |qq AS (SELECT DISTINCT qid FROM res)
      |SELECT qq.qid, CAST(coalesce(nr.n_rel, 0) AS BIGINT) AS n_rel,
      |       h.first IS NOT NULL AS hit,
      |       round(CASE WHEN h.first IS NOT NULL
      |             THEN 1.0 / CAST(h.first AS DOUBLE) ELSE 0.0 END, 6) AS mrr,
      |       round(CASE WHEN least(coalesce(nr.n_rel, 0), 10) > 0
      |             THEN list_reduce(list_prepend(0.0, coalesce(h.gs, CAST([] AS DOUBLE[]))),
      |                              (a, b) -> a + b)
      |                  / list_reduce(list_prepend(0.0,
      |                      list_transform(range(1, least(coalesce(nr.n_rel, 0), 10) + 1),
      |                        i -> round(1.0 / log2(CAST(i AS DOUBLE) + 1.0), 6))),
      |                      (a, b) -> a + b)
      |             ELSE 0.0 END, 6) AS ndcg
      |FROM qq LEFT JOIN h ON h.qid = qq.qid LEFT JOIN nr ON nr.qid = qq.qid""".stripMargin

  /** q207's full BPE encode-to-ids replay — shared by the batch row
    * and q211's fixed-length training-sequence layer on top. */
  private lazy val q207Sql: String = q207SqlFor("TRUE", "TRUE", "TRUE")

  /** The BPE encode-to-ids replay with the TRAINING corpus (merges +
    * vocab), the ENCODE corpus, and a post-id-assignment vocab filter all
    * parameterized — q218 trains on the odd slice, censors 'q'-bearing
    * symbols (AFTER dense id assignment, so the persisted table's id gaps
    * replay exactly), and encodes the even slice. `TRUE`s everywhere give
    * the classic q207 replay. */
  private def q207SqlFor(trainPred: String, encodePred: String,
      vocabPred: String): String = {
      def o(acc: String) = s"split_part($acc, chr(1), 1)"
      def p(acc: String) = s"split_part($acc, chr(1), 2)"
      def app(out: String, x: String) =
        s"CASE WHEN $out = '' THEN $x ELSE $out || ' ' || $x END"
      def foldCtes(prev: String, m: String, out: String,
          carry: String): String =
        s"""${out}_0 AS (
           |  SELECT ${carry},
           |         list_reduce(list_prepend(chr(1), str_split(v.s, ' ')),
           |           (acc, x) -> CASE
           |             WHEN ${p("acc")} = ''
           |               THEN ${o("acc")} || chr(1) || x
           |             WHEN ${p("acc")} = m.s1 AND x = m.s2
           |               THEN ${app(o("acc"), "m.s1 || m.s2")} || chr(1)
           |             ELSE ${app(o("acc"), p("acc"))} || chr(1) || x
           |           END) AS r
           |  FROM $prev v CROSS JOIN $m m),
           |$out AS (SELECT ${carry.replace("v.", "")},
           |                CASE WHEN ${p("r")} = '' THEN ${o("r")}
           |                ELSE ${app(o("r"), p("r"))} END AS s
           |         FROM ${out}_0)""".stripMargin
      def vocabLayer(r: Int): String = {
        val v = s"v${r - 1}"
        s"""p${r}_0 AS (SELECT f, str_split(s, ' ') AS a FROM $v
           |            WHERE len(str_split(s, ' ')) >= 2),
           |p${r}_1 AS (SELECT f, a, unnest(range(1, len(a))) AS i FROM p${r}_0),
           |p$r AS (SELECT a[CAST(i AS INTEGER)] AS s1,
           |               a[CAST(i + 1 AS INTEGER)] AS s2,
           |               CAST(sum(f) AS BIGINT) AS n
           |        FROM p${r}_1 GROUP BY 1, 2),
           |m$r AS (SELECT s1, s2, n FROM p$r ORDER BY n DESC, s1, s2 LIMIT 1),
           |${foldCtes(v, s"m$r", s"v$r", "v.f AS f")}""".stripMargin
      }
      val rounds = 5
      s"""WITH w0 AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
         |            FROM documents WHERE $trainPred),
         |vw AS (SELECT w, count(*) AS f FROM w0 GROUP BY w),
         |v0 AS (SELECT array_to_string(
         |                 list_append(list_transform(range(1, len(w) + 1),
         |                   i -> substr(w, CAST(i AS INTEGER), 1)), '</w>'),
         |                 ' ') AS s, f
         |       FROM vw),
         |${(1 to rounds).map(vocabLayer).mkString(",\n")},
         |voc0 AS (SELECT DISTINCT unnest(str_split(s, ' ')) AS symbol
         |         FROM v$rounds),
         |vocall AS (SELECT symbol,
         |               CAST(row_number() OVER (ORDER BY symbol) AS BIGINT)
         |                 AS token_id
         |        FROM voc0),
         |voc AS (SELECT * FROM vocall WHERE $vocabPred),
         |dw AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
         |       FROM documents WHERE $encodePred),
         |e00 AS (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i
         |        FROM dw),
         |e0 AS (SELECT doc_id, i,
         |              array_to_string(
         |                list_append(list_transform(
         |                  range(1, len(ws[CAST(i AS INTEGER)]) + 1),
         |                  j -> substr(ws[CAST(i AS INTEGER)], CAST(j AS INTEGER), 1)),
         |                  '</w>'),
         |                ' ') AS s
         |       FROM e00),
         |${(1 to rounds).map(r =>
             foldCtes(s"e${r - 1}", s"m$r", s"e$r",
               "v.doc_id AS doc_id, v.i AS i"))
             .mkString(",\n")},
         |tok0 AS (SELECT doc_id, i, str_split(s, ' ') AS ss FROM e$rounds),
         |tok1 AS (SELECT doc_id, i, ss, unnest(range(1, len(ss) + 1)) AS j
         |         FROM tok0),
         |tok AS (SELECT doc_id, i, j, ss[CAST(j AS INTEGER)] AS symbol
         |        FROM tok1),
         |wids AS (SELECT t.doc_id, t.i, t.j, v.token_id
         |         FROM tok t JOIN voc v USING (symbol))
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sym,
         |       string_agg(CAST(token_id AS VARCHAR), ',' ORDER BY i, j)
         |         AS token_ids
         |FROM wids GROUP BY doc_id""".stripMargin
  }

  /** Shared WordPiece vocab-selection CTE chain (ends at `voc`): q213's
    * replay and the vocab half of q214's encode replay. */
  private lazy val wordpieceVocabCtes: String = wordpieceVocabCtesFor("TRUE")

  /** The vocab-selection chain with the TRAINING corpus parameterized —
    * q219 trains on the odd slice. */
  private def wordpieceVocabCtesFor(trainPred: String): String =
    s"""w0 AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
       |       FROM documents WHERE $trainPred),
       |vw AS (SELECT w, count(*) AS f FROM w0 GROUP BY w),
       |s1 AS (SELECT w, f, unnest(range(1, len(w) + 1)) AS p FROM vw),
       |s2 AS (SELECT w, f, p,
       |              unnest(range(1, least(4, len(w) - p + 1) + 1)) AS j
       |       FROM s1),
       |pc AS (SELECT CASE WHEN p = 1
       |                   THEN substr(w, CAST(p AS INTEGER), CAST(j AS INTEGER))
       |                   ELSE '##' || substr(w, CAST(p AS INTEGER), CAST(j AS INTEGER))
       |              END AS piece, f
       |       FROM s2),
       |cnt AS (SELECT piece, CAST(sum(f) AS BIGINT) AS n_occ FROM pc GROUP BY 1),
       |chars AS (SELECT * FROM cnt
       |          WHERE len(regexp_replace(piece, '^##', '')) = 1),
       |multi AS (SELECT * FROM cnt
       |          WHERE len(regexp_replace(piece, '^##', '')) > 1
       |          ORDER BY n_occ DESC, piece LIMIT 50),
       |voc AS (SELECT * FROM chars UNION ALL SELECT * FROM multi)""".stripMargin

  /** q214's greedy longest-match-first WordPiece walk: match lengths
    * precomputed per (distinct word, position), then a RECURSIVE CTE
    * consumes them left to right — one chain per word, final state = the
    * largest-position row. A list_reduce formulation of the same fold
    * hits a DuckDB 1.0.0 vectorization bug (cross-row accumulator bleed
    * once the frame is wide enough to batch; filtered probes of the same
    * CTEs evaluate correctly), so the walk uses the recursive-CTE idiom
    * q186 already relies on. */
  private lazy val wordpieceEncodeSql: String =
    wordpieceEncodeSqlFor("TRUE", "TRUE", "TRUE")

  /** The WordPiece encode replay with training corpus, encode corpus, and
    * vocab filter parameterized (q219: odd-slice vocab, q-censored, even
    * slice encoded — q-bearing words provably hit the whole-word [UNK]
    * bail). `TRUE`s everywhere give the classic q214 replay. */
  private def wordpieceEncodeSqlFor(trainPred: String, encodePred: String,
      vocabPred: String): String = {
    val cases = (4 to 1 by -1).map { j =>
      s"WHEN CAST(i AS INTEGER) + $j - 1 <= len(w) AND list_contains(vl, " +
        s"(CASE WHEN i > 1 THEN '##' ELSE '' END) || " +
        s"substr(w, CAST(i AS INTEGER), $j)) THEN $j"
    }.mkString(" ")
    s"""WITH RECURSIVE ${wordpieceVocabCtesFor(trainPred)},
       |vlt AS (SELECT list(piece) AS vl FROM voc WHERE $vocabPred),
       |dw AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
       |       FROM documents WHERE $encodePred),
       |o0 AS (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS oi FROM dw),
       |occ AS (SELECT doc_id, oi, ws[CAST(oi AS INTEGER)] AS w FROM o0),
       |dws AS (SELECT DISTINCT w FROM occ),
       |pos AS (SELECT w, unnest(range(1, len(w) + 1)) AS i FROM dws),
       |cand AS (SELECT w, i, CASE $cases ELSE 0 END AS ml
       |         FROM pos, vlt),
       |cand2 AS (SELECT w, i, ml,
       |                 (CASE WHEN i > 1 THEN '##' ELSE '' END)
       |                 || substr(w, CAST(i AS INTEGER), CAST(ml AS INTEGER))
       |                   AS taken
       |          FROM cand),
       |walk AS (
       |  SELECT w, CAST(1 AS BIGINT) AS pos, '' AS out, false AS unk
       |  FROM dws
       |  UNION ALL
       |  SELECT k.w,
       |         k.pos + CASE WHEN c.ml = 0 THEN 1000000 ELSE c.ml END,
       |         CASE WHEN c.ml = 0 THEN ''
       |              WHEN k.out = '' THEN c.taken
       |              ELSE k.out || ' ' || c.taken END,
       |         c.ml = 0
       |  FROM walk k JOIN cand2 c ON c.w = k.w AND c.i = k.pos
       |  WHERE NOT k.unk),
       |fin AS (SELECT w, CASE WHEN unk THEN '[UNK]' ELSE out END AS p,
       |               row_number() OVER (PARTITION BY w ORDER BY pos DESC)
       |                 AS rn
       |        FROM walk),
       |enc AS (SELECT w, p FROM fin WHERE rn = 1),
       |jn AS (SELECT o.doc_id, o.oi, e.p,
       |              CASE WHEN e.p = '[UNK]' THEN 1 ELSE 0 END AS unk,
       |              len(str_split(e.p, ' ')) AS np
       |       FROM occ o JOIN enc e USING (w))
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |       CAST(sum(unk) AS BIGINT) AS n_unk,
       |       CAST(sum(np) AS BIGINT) AS n_pieces,
       |       string_agg(p, ' ' ORDER BY oi) AS pieces
       |FROM jn GROUP BY doc_id""".stripMargin
  }

  /** One unigram Viterbi pass as recursive CTEs: forward DP per distinct
    * word (the working row carries the last four DP cells — exact long
    * arithmetic — plus the backpointer digits), then the backward walk
    * emitting the max-score segmentation. Tie rule: equal path scores
    * prefer the longer final piece (candidates checked j descending),
    * mirroring `TextFunctions.viterbiSegment` exactly. `scoreCte` must
    * expose (piece, s); produces `f$sfx`/`ffin$sfx`/`b$sfx`/`seg$sfx`. */
  private def unigramViterbiCtes(sfx: String, scoreCte: String): String = {
    val S = "CAST(-1000000000000000 AS BIGINT)"
    def c(j: Int) =
      s"(CASE WHEN v.d${j - 1} > $S AND p$j.s IS NOT NULL " +
        s"THEN v.d${j - 1} + p$j.s ELSE $S END)"
    val best = s"greatest(${(1 to 4).map(c).mkString(", ")})"
    val bp = (4 to 1 by -1).map(j =>
      s"WHEN ${c(j)} > $S AND ${c(j)} = $best THEN $j").mkString(" ")
    val bpd = s"CAST(substr(b.bps, CAST(b.pos AS INTEGER), 1) AS INTEGER)"
    val piece = s"substr(b.w, CAST(b.pos AS INTEGER) - $bpd + 1, $bpd)"
    s"""f$sfx AS (
       |  SELECT w, 0 AS i, CAST(0 AS BIGINT) AS d0, $S AS d1, $S AS d2,
       |         $S AS d3, '' AS bps
       |  FROM vw
       |  UNION ALL
       |  SELECT v.w, v.i + 1, $best, v.d0, v.d1, v.d2,
       |         v.bps || CAST(CASE $bp ELSE 0 END AS VARCHAR)
       |  FROM f$sfx v
       |  LEFT JOIN $scoreCte p1
       |    ON p1.piece = substr(v.w, v.i + 1, 1)
       |  LEFT JOIN $scoreCte p2
       |    ON v.i + 1 >= 2 AND p2.piece = substr(v.w, v.i, 2)
       |  LEFT JOIN $scoreCte p3
       |    ON v.i + 1 >= 3 AND p3.piece = substr(v.w, v.i - 1, 3)
       |  LEFT JOIN $scoreCte p4
       |    ON v.i + 1 >= 4 AND p4.piece = substr(v.w, v.i - 2, 4)
       |  WHERE v.i < len(v.w)),
       |ffin$sfx AS (SELECT w, d0 AS sn, bps FROM f$sfx WHERE i = len(w)),
       |b$sfx AS (
       |  SELECT w, CAST(len(w) AS BIGINT) AS pos, '' AS out, bps, sn
       |  FROM ffin$sfx
       |  UNION ALL
       |  SELECT b.w, b.pos - $bpd,
       |         CASE WHEN b.out = '' THEN $piece
       |              ELSE $piece || ' ' || b.out END,
       |         b.bps, b.sn
       |  FROM b$sfx b
       |  WHERE b.pos > 0 AND b.sn > $S),
       |seg$sfx AS (SELECT w, CASE WHEN sn <= $S THEN '[UNK]' ELSE out END AS p
       |            FROM b$sfx WHERE pos <= 0 OR sn <= $S)""".stripMargin
  }

  /** Unigram training replay through the round-1 scores (`usc1`): seed
    * substring counts with char totality, Viterbi E-step under the seed
    * scores, M-step recount with the char floor, final
    * round(ln(c/total)·1e6) scores. Shared by q215 and q216. */
  private lazy val unigramTrainCtes: String =
    s"""w0 AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
       |       FROM documents),
       |vw AS (SELECT w, count(*) AS f FROM w0 GROUP BY w),
       |u1 AS (SELECT w, f, unnest(range(1, len(w) + 1)) AS p FROM vw),
       |u2 AS (SELECT w, f, p,
       |              unnest(range(1, least(4, len(w) - p + 1) + 1)) AS j
       |       FROM u1),
       |upc AS (SELECT substr(w, CAST(p AS INTEGER), CAST(j AS INTEGER))
       |                 AS piece, f
       |        FROM u2),
       |ucnt AS (SELECT piece, CAST(sum(f) AS BIGINT) AS c FROM upc GROUP BY 1),
       |uch0 AS (SELECT * FROM ucnt WHERE len(piece) = 1),
       |umu0 AS (SELECT * FROM ucnt WHERE len(piece) > 1
       |         ORDER BY c DESC, piece LIMIT 60),
       |uv0 AS (SELECT * FROM uch0 UNION ALL SELECT * FROM umu0),
       |ut0 AS (SELECT CAST(sum(c) AS DOUBLE) AS tot FROM uv0),
       |usc0 AS (SELECT piece,
       |                CAST(round(ln(c / tot) * 1000000, 0) AS BIGINT) AS s
       |         FROM uv0, ut0),
       |${unigramViterbiCtes("t", "usc0")},
       |um1 AS (SELECT piece, CAST(sum(f) AS BIGINT) AS c
       |        FROM (SELECT vw.f, unnest(str_split(sg.p, ' ')) AS piece
       |              FROM vw JOIN segt sg ON sg.w = vw.w)
       |        GROUP BY 1),
       |uch1 AS (SELECT uch0.piece,
       |                greatest(coalesce(um1.c, 0), CAST(1 AS BIGINT)) AS c
       |         FROM uch0 LEFT JOIN um1 ON um1.piece = uch0.piece),
       |umu1 AS (SELECT piece, c FROM um1 WHERE len(piece) > 1),
       |uv1 AS (SELECT * FROM uch1 UNION ALL SELECT * FROM umu1),
       |ut1 AS (SELECT CAST(sum(c) AS DOUBLE) AS tot FROM uv1),
       |usc1 AS (SELECT piece, c,
       |                CAST(round(ln(c / tot) * 1000000, 0) AS BIGINT) AS s
       |         FROM uv1, ut1)""".stripMargin

  private lazy val q215Sql: String =
    s"""WITH RECURSIVE $unigramTrainCtes
       |SELECT CAST(row_number() OVER (ORDER BY piece) AS BIGINT) AS token_id,
       |       piece, c AS n_occ, s AS score
       |FROM usc1""".stripMargin

  private lazy val q216Sql: String =
    s"""WITH RECURSIVE $unigramTrainCtes,
       |${unigramViterbiCtes("e", "usc1")},
       |dw2 AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
       |        FROM documents),
       |o02 AS (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS oi FROM dw2),
       |occ2 AS (SELECT doc_id, oi, ws[CAST(oi AS INTEGER)] AS w FROM o02),
       |jn2 AS (SELECT o.doc_id, o.oi, e.p,
       |               CASE WHEN e.p = '[UNK]' THEN 1 ELSE 0 END AS unk,
       |               len(str_split(e.p, ' ')) AS np
       |        FROM occ2 o JOIN sege e USING (w))
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |       CAST(sum(unk) AS BIGINT) AS n_unk,
       |       CAST(sum(np) AS BIGINT) AS n_pieces,
       |       string_agg(p, ' ' ORDER BY oi) AS pieces
       |FROM jn2 GROUP BY doc_id""".stripMargin

  /** q216's replay with the encode pass run under the q-censored frozen
    * vocabulary: q-bearing words have no valid DP path and bail to
    * [UNK]. */
  private lazy val q217Sql: String =
    s"""WITH RECURSIVE $unigramTrainCtes,
       |usc1f AS (SELECT piece, s FROM usc1 WHERE piece NOT LIKE '%q%'),
       |${unigramViterbiCtes("e", "usc1f")},
       |dw2 AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
       |        FROM documents),
       |o02 AS (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS oi FROM dw2),
       |occ2 AS (SELECT doc_id, oi, ws[CAST(oi AS INTEGER)] AS w FROM o02),
       |jn2 AS (SELECT o.doc_id, o.oi, e.p,
       |               CASE WHEN e.p = '[UNK]' THEN 1 ELSE 0 END AS unk,
       |               len(str_split(e.p, ' ')) AS np
       |        FROM occ2 o JOIN sege e USING (w))
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |       CAST(sum(unk) AS BIGINT) AS n_unk,
       |       CAST(sum(np) AS BIGINT) AS n_pieces,
       |       string_agg(p, ' ' ORDER BY oi) AS pieces
       |FROM jn2 GROUP BY doc_id""".stripMargin

  /** q64's full MinHash index-probe replay — shared verbatim by the batch
    * row and q203's incrementally-built index (append ≡ rebuild). */
  private lazy val q64Sql = q64SqlFor("")

  /** The q64 replay with an extra predicate on the INDEX side of the
    * probe join (`extra` is ANDed into the ON clause, or empty for the
    * classic replay) — q209 passes the tombstone survivors. */
  private def q64SqlFor(extra: String) = {
    val bandSqls = (0 until 4).map(bd =>
      s"list_reduce(sig[${bd * 4 + 1}:${bd * 4 + 4}], (a, b) -> (a*31 + b) % ${Dedup.P}) AS bh$bd")
      .mkString(",\n       ")
    s"""WITH d AS (SELECT doc_id, ${shinglesSql(5)} AS sh FROM documents),
       |d2 AS (SELECT doc_id, sh FROM d WHERE len(sh) > 0),
       |s AS (SELECT doc_id,
       |             list_distinct(list_transform(sh, sg -> ${hSql("sg")})) AS hs,
       |             $sigSql AS sig
       |      FROM d2),
       |b AS (SELECT doc_id, hs,
       |       $bandSqls
       |      FROM s),
       |p AS (SELECT n.doc_id AS new_id, i.doc_id AS index_id,
       |             round(len(list_intersect(n.hs, i.hs))
       |                   / len(list_distinct(list_concat(n.hs, i.hs))), 6) AS jaccard
       |      FROM b n JOIN b i
       |        ON n.doc_id % 2 = 1 AND i.doc_id % 2 = 0$extra
       |       AND (n.bh0 = i.bh0 OR n.bh1 = i.bh1 OR n.bh2 = i.bh2 OR n.bh3 = i.bh3))
       |SELECT new_id, index_id, jaccard FROM p WHERE jaccard >= 0.5""".stripMargin
  }

  /** q67's strict-prefix budget admission — shared verbatim by the batch
    * row and q198's streamed replay (the stream arrives in this exact
    * (hkey, doc_id) order, so online admission ≡ the prefix rule). */
  private lazy val q67Sql =
    s"""WITH t AS (
       |  SELECT doc_id, lang, CAST(len($toksSql) AS BIGINT) AS n_tok,
       |         ${hSql("'budget:' || CAST(doc_id AS VARCHAR)")} AS hkey
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, lang, n_tok,
       |         sum(n_tok) OVER (PARTITION BY lang ORDER BY hkey, doc_id
       |                          ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM t)
       |SELECT doc_id, lang, n_tok FROM c WHERE cum <= 2000""".stripMargin

  /** q220's end-to-end pipeline replay — each stage is the corresponding
    * per-stage oracle's CTE chain, chained: quality filter (exact integer
    * predicates), exact-dup min-id keeper (q09), near-dup keep-first
    * removal over the survivors (q17's MinHash/LSH chain), 3-gram
    * decontamination vs the every-50th bench slice (q54), hash-Bernoulli
    * mixture (q65), per-lang running-sum budget on the (doc,epoch) key
    * (q67), hash-order global shuffle (q66), cumulative pack layout
    * (q56). */
  private lazy val q220Sql: String = {
    val bandSqls = (0 until 4).map(bd =>
      s"list_reduce(sig[${bd * 4 + 1}:${bd * 4 + 4}], (a, b) -> (a*31 + b) % ${Dedup.P}) AS bh$bd")
      .mkString(",\n       ")
    def gramsOf(tk: String) =
      s"list_distinct(list_transform(range(1, greatest(len($tk)-2, 0)+1), " +
        s"i -> array_to_string($tk[i:i+2], ' ')))"
    s"""WITH tok AS (
       |  SELECT doc_id, lang, text, $toksSql AS tk
       |  FROM documents WHERE doc_id % 50 <> 0),
       |f AS (
       |  SELECT doc_id, lang, text, tk, CAST(len(tk) AS BIGINT) AS n_tok
       |  FROM tok
       |  WHERE len(tk) >= 20 AND len(list_distinct(tk)) * 2 > len(tk)),
       |kp AS (SELECT min(doc_id) AS kid FROM f GROUP BY md5(text)),
       |ex AS (SELECT * FROM f WHERE doc_id IN (SELECT kid FROM kp)),
       |nd AS (SELECT doc_id, ${shinglesSql(5)} AS sh FROM ex),
       |nd2 AS (SELECT doc_id, sh FROM nd WHERE len(sh) > 0),
       |s AS (SELECT doc_id,
       |             list_distinct(list_transform(sh, sg -> ${hSql("sg")})) AS hs,
       |             $sigSql AS sig
       |      FROM nd2),
       |bnd AS (SELECT doc_id, hs,
       |       $bandSqls
       |      FROM s),
       |dup AS (SELECT DISTINCT b2.doc_id AS did
       |        FROM bnd a JOIN bnd b2
       |          ON a.doc_id < b2.doc_id
       |         AND (a.bh0 = b2.bh0 OR a.bh1 = b2.bh1
       |              OR a.bh2 = b2.bh2 OR a.bh3 = b2.bh3)
       |        WHERE round(len(list_intersect(a.hs, b2.hs))
       |              / len(list_distinct(list_concat(a.hs, b2.hs))), 6) >= 0.5),
       |dd AS (SELECT * FROM ex WHERE doc_id NOT IN (SELECT did FROM dup)),
       |bg AS (SELECT DISTINCT ('0x' || substr(md5(g),1,15))::BIGINT AS h
       |       FROM (SELECT unnest(${gramsOf("tkb")}) AS g
       |             FROM (SELECT $toksSql AS tkb
       |                   FROM documents WHERE doc_id % 50 = 0))),
       |cg AS (SELECT doc_id, ('0x' || substr(md5(g),1,15))::BIGINT AS h
       |       FROM (SELECT doc_id, unnest(${gramsOf("tk")}) AS g FROM dd)),
       |hit AS (SELECT DISTINCT doc_id AS hid FROM cg
       |        WHERE h IN (SELECT h FROM bg)),
       |cl AS (SELECT * FROM dd WHERE doc_id NOT IN (SELECT hid FROM hit)),
       |mx0 AS (SELECT doc_id, lang, n_tok,
       |          (${hSql("'resample:' || CAST(doc_id AS VARCHAR)")}) % 1000 AS bkt,
       |          CASE lang WHEN 'en' THEN 2.5 WHEN 'de' THEN 1.0
       |                    WHEN 'es' THEN 1.0 WHEN 'fr' THEN 0.6
       |                    WHEN 'zh' THEN 0.4 ELSE 1.0 END AS w
       |        FROM cl),
       |mx1 AS (SELECT doc_id, lang, n_tok,
       |          CAST(floor(w) AS BIGINT)
       |            + (CASE WHEN bkt < (w - floor(w)) * 1000 THEN 1 ELSE 0 END) AS n
       |        FROM mx0),
       |mx AS (SELECT doc_id, lang, n_tok, unnest(range(n)) AS epoch
       |       FROM mx1 WHERE n > 0),
       |ky AS (SELECT doc_id, lang, n_tok, epoch,
       |              CAST(doc_id AS VARCHAR) || '#' || CAST(epoch AS VARCHAR) AS key
       |       FROM mx),
       |bh AS (SELECT *, ${hSql("'budget:' || key")} AS hkey FROM ky),
       |bc AS (SELECT *, sum(n_tok) OVER (PARTITION BY lang ORDER BY hkey, key
       |                                  ROWS UNBOUNDED PRECEDING) AS cum
       |       FROM bh),
       |bd AS (SELECT doc_id, lang, n_tok, epoch, key FROM bc WHERE cum <= 2000),
       |sf AS (SELECT doc_id, lang, n_tok, epoch, key,
       |              CAST(row_number() OVER (
       |                ORDER BY ${hSql("'shuffle:' || key")}, key) - 1 AS BIGINT)
       |                AS idx
       |       FROM bd),
       |pk AS (SELECT *, ((${hSql("'pack:' || key")}) % 1000) % 8 AS bucket
       |       FROM sf),
       |pc AS (SELECT *, CAST(COALESCE(SUM(n_tok) OVER (
       |              PARTITION BY bucket ORDER BY key
       |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |              AS BIGINT) AS cum
       |       FROM pk)
       |SELECT key, doc_id, lang, epoch, idx, bucket, n_tok,
       |       cum // 256 AS pack_first,
       |       cum % 256 AS pack_offset,
       |       CASE WHEN n_tok > 0 THEN (cum + n_tok - 1) // 256
       |            ELSE cum // 256 END AS pack_last,
       |       CASE WHEN n_tok > 0 THEN (cum + n_tok - 1) // 256 - cum // 256 + 1
       |            ELSE 0 END AS n_packs
       |FROM pc""".stripMargin
  }

  /** q71's count-min replay — shared verbatim by the batch row and q195's
    * streamed replay (a running CMS is a pure aggregation: the snapshot
    * after the last micro-batch IS the batch sketch of the union). */
  private lazy val q71Sql = {
    val cmsH = (v: String) =>
      s"(${hSql(s"'cms:q71:' || CAST(r AS VARCHAR) || ':' || $v")}) % 64"
    s"""WITH tok AS (SELECT unnest($toksSql) AS tok FROM documents),
       |truth AS (SELECT tok, CAST(count(*) AS BIGINT) AS true_cnt
       |          FROM tok GROUP BY 1),
       |cells AS (SELECT r, ${cmsH("tok")} AS bucket
       |          FROM tok, range(4) t(r)),
       |sk AS (SELECT r, bucket, CAST(count(*) AS BIGINT) AS cnt
       |       FROM cells GROUP BY 1, 2),
       |probe AS (SELECT tok, r, ${cmsH("tok")} AS bucket
       |          FROM truth, range(4) t(r)),
       |est AS (SELECT tok, min(coalesce(cnt, 0)) AS est
       |        FROM probe LEFT JOIN sk USING (r, bucket) GROUP BY 1)
       |SELECT tok, true_cnt, est
       |FROM truth JOIN est USING (tok)""".stripMargin
  }

  /** q72's HLL replay — shared verbatim by the batch row and q196's
    * streamed replay (running max registers, same argument as q71). */
  private lazy val q72Sql = {
    val m = 256
    val est0 = graft.functions.Sketches.hllAlpha(m) * m * m
    s"""WITH tok AS (SELECT unnest($toksSql) AS tok FROM documents),
       |h AS (SELECT ('0x' || substr(md5('hll:q72:' || tok),1,15))::BIGINT AS h
       |      FROM tok),
       |rr AS (SELECT h % $m AS register,
       |              CASE WHEN (h >> 8) = 0 THEN 53
       |                   ELSE 53 - length(bin(h >> 8)) END AS rho
       |       FROM h),
       |regs AS (SELECT register, max(rho) AS rho FROM rr GROUP BY 1),
       |allr AS (SELECT r AS register, coalesce(rho, 0) AS rho
       |         FROM range($m) t(r) LEFT JOIN regs ON r = register),
       |agg AS (SELECT list(pow(2.0, -rho) ORDER BY register) AS hs,
       |               CAST(sum(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |                 AS n_zero
       |        FROM allr),
       |f AS (SELECT list_reduce(list_prepend(0.0, hs), (a, b) -> a + b)
       |               AS hsum, n_zero FROM agg)
       |SELECT $m AS m, n_zero,
       |       round(CASE WHEN $est0 / hsum <= ${2.5 * m} AND n_zero > 0
       |                  THEN ${m.toDouble} * ln(${m.toDouble} / n_zero)
       |                  ELSE $est0 / hsum END, 6) AS est,
       |       (SELECT CAST(count(DISTINCT tok) AS BIGINT) FROM tok)
       |         AS exact_distinct
       |FROM f""".stripMargin
  }

  private def shinglesSql(n: Int) =
    s"list_distinct(list_transform(range(1, greatest(len(lower(text))-${n - 1}, 0)+1), " +
      s"i -> substr(lower(text), CAST(i AS INT), $n)))"

  /** The k=16 MinHash params as a DuckDB struct-list literal — same
    * constants as [[Dedup.hashParams]]. */
  private val paramsSql = Dedup.hashParams(16)
    .map { case (a, b) => s"{'a': ${a}, 'b': ${b}}" }.mkString("[", ", ", "]")

  private val sigSql =
    s"""list_transform($paramsSql, p ->
       |  list_min(list_transform(sh, sg -> (p.a * (${hSql("sg")}) + p.b) % ${Dedup.P})))""".stripMargin

  /** DuckDB rendering of [[Similarity.lshCode]]: sign-projection bucket code
    * over literal hyperplanes (deterministic library constants — embedding
    * them makes the LSH bucketing itself oracle-replayable). Scala's
    * `Double.toString` is shortest-round-trip, so the literals parse back to
    * the identical doubles; the per-plane dot products are the same
    * sequential folds on both engines, so the sign tests agree bitwise. */
  private def signCodeSql(v: String, planes: Seq[Seq[Double]]): String =
    planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN list_dot_product($v, [${p.mkString(", ")}]) > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("(", "\n         + ", ")")

  def oracleSql: Map[String, String] = Map(
    "q01_quantile_windows" ->
      s"""WITH $esSql, ${winSql(1000, "min(s)", "max(e)", "es")}
         |SELECT idx, ws, we FROM win""".stripMargin,

    "q02_interval_join_inner" ->
      s"""WITH $esSql, ${winSql(100, "min(s)", "max(e)", "es")}
         |SELECT idx, user_id, event_type, value,
         |       greatest(s, ws) AS istart, least(e, we) AS istop
         |FROM es JOIN win ON s < we AND ws < e""".stripMargin,

    "q03_interval_join_left" ->
      s"""WITH $osSql, ${winSql(50, "min(s)", "min(s) + (max(e)-min(s))//2", "os")}
         |SELECT idx, o_orderkey,
         |       CASE WHEN idx IS NULL THEN NULL ELSE greatest(s, ws) END AS istart,
         |       CASE WHEN idx IS NULL THEN NULL ELSE least(e, we) END AS istop
         |FROM os LEFT JOIN win ON s < we AND ws < e""".stripMargin,

    "q04_interval_join_right" ->
      s"""WITH $osSql, ${winSql(1000, "min(s)", "max(e)", "os")},
         |os2 AS (SELECT * FROM os WHERE o_orderkey % 97 = 0)
         |SELECT idx, o_orderkey,
         |       CASE WHEN o_orderkey IS NULL THEN NULL ELSE greatest(s, ws) END AS istart,
         |       CASE WHEN o_orderkey IS NULL THEN NULL ELSE least(e, we) END AS istop
         |FROM os2 RIGHT JOIN win ON s < we AND ws < e""".stripMargin,

    "q05_interval_join_full" ->
      s"""WITH $osSql, ${winSql(1000, "min(s)", "min(s) + (max(e)-min(s))//2", "os")},
         |os2 AS (SELECT * FROM os WHERE o_orderkey % 40 = 0)
         |SELECT idx, o_orderkey,
         |       CASE WHEN idx IS NULL OR o_orderkey IS NULL THEN NULL ELSE greatest(s, ws) END AS istart,
         |       CASE WHEN idx IS NULL OR o_orderkey IS NULL THEN NULL ELSE least(e, we) END AS istop
         |FROM os2 FULL JOIN win ON s < we AND ws < e""".stripMargin,

    "q06_span_agg" ->
      s"""WITH $esSql SELECT min(s) AS lo, max(e) AS hi FROM es""".stripMargin,

    "q32_interval_join_ts" ->
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
         |FROM osu JOIN win ON s < we AND ws < e""".stripMargin,

    "q07_grouped_interval_join" ->
      s"""WITH $esSql, ${winSql(4, "min(s)", "max(e)", "es")}
         |SELECT idx,
         |       round(sum(value * ((least(e, we) - greatest(s, ws))/1e9))
         |             / sum((least(e, we) - greatest(s, ws))/1e9), 6) AS wmean,
         |       count(*) AS n
         |FROM es JOIN win ON s < we AND ws < e
         |GROUP BY idx""".stripMargin,

    "q08_interval_join_binned" ->
      s"""WITH $osSql, os2 AS (SELECT * FROM os WHERE o_orderkey % 3 = 0)
         |SELECT l.s // 2592000000000000 AS bucket,
         |       count(*) AS pairs,
         |       CAST(sum((least(l.e, r.e) - greatest(l.s, r.s)) // 1000000000) AS BIGINT) AS overlap_s
         |FROM os2 l, os2 r WHERE l.s < r.e AND r.s < l.e
         |GROUP BY 1""".stripMargin,

    "q20_delegated_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |       count(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q21_delegated_window" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn = 1""".stripMargin,

    "q22_delegated_join_agg" ->
      """SELECT n_name, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev, count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,

    "q23_delegated_anti" ->
      """SELECT c_custkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,

    "q43_delegated_semi" ->
      """SELECT c_custkey, c_nationkey FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin,

    "q44_delegated_topk" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin,

    "q45_delegated_pivot" ->
      """SELECT o_orderpriority,
        |       CAST(sum(CASE WHEN o_orderstatus = 'F'
        |                     THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS f_total,
        |       CAST(sum(CASE WHEN o_orderstatus = 'O'
        |                     THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS o_total,
        |       CAST(sum(CASE WHEN o_orderstatus = 'P'
        |                     THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS p_total
        |FROM orders GROUP BY o_orderpriority""".stripMargin,

    "q38_delegated_percentile" ->
      """SELECT l_returnflag,
        |       round(quantile_cont(l_quantity, 0.5), 6) AS p50,
        |       round(quantile_cont(l_quantity, 0.9), 6) AS p90,
        |       round(quantile_cont(l_extendedprice, 0.25), 6) AS p25e
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q09_dedup_exact" ->
      """SELECT md5(text) AS h, count(*) AS cnt, min(doc_id) AS keeper
        |FROM documents GROUP BY 1""".stripMargin,

    "q34_split_assign" ->
      s"""WITH b AS (
         |  SELECT doc_id,
         |         (('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)),1,15))::BIGINT
         |          % ${TF.HashMod}) % 1000 AS bucket
         |  FROM documents)
         |SELECT doc_id, bucket,
         |       CASE WHEN bucket < 800 THEN 'train'
         |            WHEN bucket < 900 THEN 'val'
         |            ELSE 'test' END AS split
         |FROM b""".stripMargin,

    // The global shuffle's contract IS the permutation: idx must equal the
    // dense rank of (salted hash, key) — one window replays it exactly
    "q66_global_shuffle" ->
      s"""WITH h AS (
         |  SELECT doc_id,
         |         ('0x' || substr(md5('shuffle:' || CAST(doc_id AS VARCHAR)),1,15))::BIGINT
         |          % ${TF.HashMod} AS hkey
         |  FROM documents)
         |SELECT doc_id,
         |       CAST(row_number() OVER (ORDER BY hkey, doc_id) - 1 AS BIGINT) AS idx
         |FROM h""".stripMargin,

    // Same hash Bernoulli + integer repetition as the Spark side; DuckDB's
    // range(n) unnests to BIGINT 0..n-1 = the epoch column
    "q65_mixture_resample" ->
      s"""WITH b AS (
         |  SELECT doc_id, lang,
         |         (('0x' || substr(md5('resample:' || CAST(doc_id AS VARCHAR)),1,15))::BIGINT
         |          % ${TF.HashMod}) % 1000 AS bucket,
         |         CASE lang WHEN 'en' THEN 2.5 WHEN 'de' THEN 1.0 WHEN 'es' THEN 1.0
         |                   WHEN 'fr' THEN 0.6 WHEN 'zh' THEN 0.4 ELSE 1.0 END AS w
         |  FROM documents),
         |c AS (SELECT doc_id, lang,
         |             CAST(floor(w) AS BIGINT)
         |               + (CASE WHEN bucket < (w - floor(w)) * 1000 THEN 1 ELSE 0 END) AS n
         |      FROM b)
         |SELECT doc_id, lang, unnest(range(n)) AS epoch
         |FROM c WHERE n > 0""".stripMargin,

    // The cap's contract IS the windowed running sum: keep rows whose
    // inclusive per-lang cumulative token count in (salted hash, key)
    // order fits the budget
    "q67_budget_cap" -> q67Sql,

    "q35_repetition" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |g AS (SELECT doc_id, tk,
         |             list_transform(range(1, greatest(len(tk), 1)),
         |                            i -> tk[i] || ' ' || tk[i+1]) AS bg
         |      FROM t)
         |SELECT doc_id,
         |  CASE WHEN len(tk) > 0
         |       THEN round(1.0 - CAST(len(list_distinct(tk)) AS DOUBLE)/len(tk), 6)
         |       ELSE 0.0 END AS dup_tok,
         |  CASE WHEN len(bg) > 0
         |       THEN round(1.0 - CAST(len(list_distinct(bg)) AS DOUBLE)/len(bg), 6)
         |       ELSE 0.0 END AS dup_bigram
         |FROM g""".stripMargin,

    "q28_merge_intervals" ->
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
        |FROM g GROUP BY o_custkey, grp""".stripMargin,

    "q33_covered_duration" ->
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
        |FROM mg GROUP BY o_custkey""".stripMargin,

    "q36_interval_gaps" ->
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
        |FROM lg WHERE pe IS NOT NULL AND pe < ms""".stripMargin,

    "q39_interval_set_intersect" ->
      setOpSql("ca > 0 AND cb > 0", "istart", "istop"),

    "q40_interval_set_subtract" ->
      setOpSql("ca > 0 AND cb = 0", "dstart", "dstop"),

    "q37_delegated_json" ->
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |       min(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
        |       max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type""".stripMargin,

    "q29_sessionize" ->
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
        |FROM s GROUP BY user_id, session""".stripMargin,

    "q24_delegated_rollup" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin,

    "q47_delegated_cube" ->
      """SELECT o_orderstatus, o_orderpriority,
        |       GROUPING(o_orderstatus, o_orderpriority) AS gid, count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin,

    "q48_delegated_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority,
        |       GROUPING(o_orderstatus, o_orderpriority) AS gid, count(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin,

    "q49_delegated_distinct" ->
      """SELECT l_returnflag,
        |       count(DISTINCT l_suppkey) AS n_supp,
        |       count(DISTINCT l_partkey) AS n_part,
        |       count(*) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q50_delegated_scalar_subquery" ->
      """SELECT c_custkey,
        |  (SELECT max(o_totalprice) FROM orders o
        |   WHERE o.o_custkey = c.c_custkey
        |     AND o.o_orderstatus = 'P') AS max_p_price
        |FROM customer c""".stripMargin,

    "q51_delegated_arrayagg" ->
      """SELECT CAST(s_nationkey AS BIGINT) AS nk, count(*) AS n_supp,
        |       array_to_string(list_sort(list(s_suppkey)), ',') AS supps
        |FROM supplier GROUP BY 1""".stripMargin,

    "q25_delegated_setops" ->
      """WITH c AS (SELECT CAST(c_nationkey AS INT) AS k FROM customer),
        |s AS (SELECT CAST(s_nationkey AS INT) AS k FROM supplier)
        |SELECT k, 'both' AS tag FROM (SELECT k FROM c INTERSECT SELECT k FROM s)
        |UNION ALL
        |SELECT k, 'cust_only' AS tag FROM (SELECT k FROM c EXCEPT SELECT k FROM s)""".stripMargin,

    "q26_delegated_scalars" ->
      """SELECT o_orderkey,
        |       upper(substr(o_orderpriority, 1, 3)) AS pri3,
        |       len(o_orderstatus) AS st_len,
        |       year(o_orderdate) AS yr,
        |       month(o_orderdate) AS mo,
        |       round(sqrt(o_totalprice), 6) AS sq,
        |       (o_orderkey * 2654435761) % 1000000007 AS hashed
        |FROM orders""".stripMargin,

    "q10_text_stats" -> {
      val scoreSqls = TF.LangStopwords.map { case (l, ws) =>
        l -> s"len(list_intersect(list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> ''), ${ws.map(w => s"'$w'").mkString("[", ",", "]")}))"
      }
      val bestSql = s"greatest(${scoreSqls.map(s => s"s_${s._1}").mkString(", ")})"
      val caseSql = scoreSqls.map { case (l, _) =>
        s"WHEN s_$l = best AND s_$l > 0 THEN '$l'"
      }.mkString(" ")
      s"""WITH t AS (
         |  SELECT doc_id, text,
         |         len($toksSql) AS n_tok,
         |         len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS n_bpe,
         |         len(text) AS n_chars,
         |         len(regexp_replace(text, '[\\w\\s]', '', 'g')) AS n_punct,
         |         ${scoreSqls.map { case (l, s) => s"$s AS s_$l" }.mkString(",\n         ")}
         |  FROM documents),
         |t2 AS (SELECT *, $bestSql AS best,
         |         CASE WHEN n_tok > 0 THEN CAST(n_chars AS DOUBLE)/n_tok ELSE 0.0 END AS avgtok
         |       FROM t)
         |SELECT doc_id, n_tok, n_bpe,
         |  round(least(n_tok/100.0, 1.0)*0.4
         |      + (1.0 - least(n_punct/greatest(n_chars, 1)*5.0, 1.0))*0.3
         |      + (CASE WHEN avgtok >= 3.0 AND avgtok <= 10.0 THEN 1.0 ELSE 0.0 END)*0.3, 6) AS quality,
         |  CASE WHEN len($toksSql) = 0 THEN 0
         |       ELSE list_reduce(list_transform($toksSql, t -> ${hSql("t")}),
         |                        (a, b) -> (a*31 + b) % ${TF.HashMod}) END AS fp,
         |  CASE $caseSql ELSE 'und' END AS lang_pred
         |FROM t2""".stripMargin
    },

    "q11_minhash_sig" ->
      s"""WITH d AS (SELECT doc_id, ${shinglesSql(5)} AS sh FROM documents WHERE len(text) >= 5),
         |s AS (SELECT doc_id, $sigSql AS sig FROM d)
         |SELECT doc_id, j, sig[CAST(j+1 AS INT)] AS sigval
         |FROM s, range(16) t(j)""".stripMargin,

    "q12_lsh_bands" ->
      s"""WITH d AS (SELECT doc_id, ${shinglesSql(5)} AS sh FROM documents WHERE len(text) >= 5),
         |s AS (SELECT doc_id, $sigSql AS sig FROM d)
         |SELECT doc_id, band,
         |       list_reduce(sig[CAST(band*4+1 AS INT):CAST(band*4+4 AS INT)],
         |                   (a, b) -> (a*31 + b) % ${Dedup.P}) AS bh
         |FROM s, range(4) t(band)""".stripMargin,

    "q13_ngram_jaccard" ->
      s"""WITH g AS (SELECT doc_id, ${shinglesSql(3)} AS sh FROM documents)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       round(len(list_intersect(a.sh, b.sh))
         |             / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
         |FROM g a JOIN g b ON b.doc_id = a.doc_id + 1""".stripMargin,

    "q42_tfidf_top" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |                            x -> x <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term),
        |dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT count(*) AS nd FROM documents),
        |s AS (SELECT doc_id, term, tf, df,
        |             tf * (ln((nd + 1.0)/(df + 1.0)) + 1.0) AS score
        |      FROM tf JOIN dfr USING (term), n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |                                   ORDER BY score DESC, term) AS rank
        |      FROM s)
        |SELECT doc_id, term, tf, df, round(score, 6) AS score, rank
        |FROM r WHERE rank <= 5""".stripMargin,

    "q14_simhash" -> {
      val hsSql = s"list_transform($toksSql, t -> ('0x' || substr(md5(t),1,15))::BIGINT)"
      val bitTerms = (0 until 32).map { j =>
        s"(CASE WHEN list_sum(list_transform(hs, h -> ((h >> $j) & 1)*2 - 1)) > 0 THEN ${1L << j} ELSE 0 END)"
      }.mkString("\n  + ")
      s"""WITH t AS (SELECT doc_id, $hsSql AS hs FROM documents)
         |SELECT doc_id, CAST($bitTerms AS BIGINT) AS sh FROM t""".stripMargin
    },

    "q46_dedup_clusters" -> q46ClustersSql,

    "q15_ann_brute" ->
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id % 100 = 0),
        |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (SELECT q_id, vec_id,
        |             round(list_dot_product(v, qv)
        |                   / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 4) AS sim
        |      FROM c, q WHERE vec_id <> q_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank FROM s)
        |SELECT q_id, vec_id, sim, rank FROM r WHERE rank <= 10""".stripMargin,

    "q30_embed_neardup_baseline" ->
      """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |              round(list_dot_product(a.v, b.v)
        |                    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) AS sim
        |       FROM c a JOIN c b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, sim FROM s WHERE sim >= 0.4""".stripMargin,

    // LSH top-k replayed exactly: same plane constants, same bucket codes,
    // same rounded-cosine ranking
    "q16_ann_lsh" -> {
      val code = (v: String) => signCodeSql(v, Similarity.randomPlanes(8, 64))
      s"""WITH q0 AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
         |            FROM embeddings WHERE vec_id % 100 = 0),
         |c0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |q AS (SELECT q_id, qv, ${code("qv")} AS code FROM q0),
         |c AS (SELECT vec_id, v, ${code("v")} AS code FROM c0),
         |s AS (SELECT q_id, vec_id,
         |             round(list_dot_product(v, qv)
         |                   / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 4) AS sim
         |      FROM c JOIN q USING (code) WHERE vec_id <> q_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank FROM s)
         |SELECT q_id, vec_id, sim, rank FROM r WHERE rank <= 10""".stripMargin
    },

    // Full-probe IVF == exact brute force (every list probed => candidate
    // set is the whole corpus), so the oracle is the brute-force ranking
    "q27_ann_ivf" ->
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id % 100 = 0),
        |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (SELECT q_id, vec_id,
        |             round(list_dot_product(v, qv)
        |                   / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 4) AS sim
        |      FROM c, q WHERE vec_id <> q_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank FROM s)
        |SELECT q_id, vec_id, sim, rank FROM r WHERE rank <= 10""".stripMargin,

    // The full MinHash-LSH pipeline replayed in SQL: md5 shingle hashes ->
    // k=16 signatures -> 4 band hashes -> band-collision candidate pairs ->
    // exact hash-set Jaccard filter. The OR-join yields each colliding pair
    // once — the same SET as the first-agreeing-band dedup.
    "q17_neardup_pairs" -> {
      val bandSqls = (0 until 4).map(bd =>
        s"list_reduce(sig[${bd * 4 + 1}:${bd * 4 + 4}], (a, b) -> (a*31 + b) % ${Dedup.P}) AS bh$bd")
        .mkString(",\n       ")
      s"""WITH d AS (SELECT doc_id, ${shinglesSql(5)} AS sh FROM documents),
         |d2 AS (SELECT doc_id, sh FROM d WHERE len(sh) > 0),
         |s AS (SELECT doc_id,
         |             list_distinct(list_transform(sh, sg -> ${hSql("sg")})) AS hs,
         |             $sigSql AS sig
         |      FROM d2),
         |b AS (SELECT doc_id, hs,
         |       $bandSqls
         |      FROM s),
         |p AS (SELECT a.doc_id AS id_a, b2.doc_id AS id_b,
         |             round(len(list_intersect(a.hs, b2.hs))
         |                   / len(list_distinct(list_concat(a.hs, b2.hs))), 6) AS jaccard
         |      FROM b a JOIN b b2
         |        ON a.doc_id < b2.doc_id
         |       AND (a.bh0 = b2.bh0 OR a.bh1 = b2.bh1 OR a.bh2 = b2.bh2 OR a.bh3 = b2.bh3))
         |SELECT id_a, id_b, jaccard FROM p WHERE jaccard >= 0.5""".stripMargin
    },

    // Multi-table sign-projection LSH near-dup, plane constants embedded;
    // the OR over table codes reproduces "collides in at least one table"
    "q31_embed_neardup_lsh" -> {
      val codes = (0 until 4).map(t =>
        s"${signCodeSql("v", Similarity.randomPlanes(4, 64, 7L + t))} AS c$t")
        .mkString(",\n       ")
      s"""WITH c AS (SELECT CAST(vec_id AS BIGINT) AS id,
         |                  CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |n AS (SELECT id, v, sqrt(list_dot_product(v, v)) AS nrm,
         |       $codes
         |      FROM c),
         |p AS (SELECT a.id AS id_a, b.id AS id_b,
         |             round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS sim
         |      FROM n a JOIN n b
         |        ON a.id < b.id
         |       AND (a.c0 = b.c0 OR a.c1 = b.c1 OR a.c2 = b.c2 OR a.c3 = b.c3))
         |SELECT id_a, id_b, sim FROM p WHERE sim >= 0.4""".stripMargin
    },

    // Explicit arg-max formulation rather than DuckDB's ASOF keyword: ASOF
    // breaks same-tick ties by ITS OWN arbitrary rule, while asofJoin's rule
    // is pinned (max carried struct = max (purchase_id, purchase_value) on
    // the winning tick) — the window ORDER BY mirrors it exactly.
    "q19_asof" ->
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
        |FROM j WHERE rn = 1""".stripMargin,

    "q41_asof_forward" ->
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
        |FROM j WHERE rn = 1""".stripMargin,

    // Bound-sensitive overlap and intersection spelled out in first-order
    // logic: touching endpoints overlap only when BOTH touching bounds are
    // closed; the tighter start/stop carries its own bound flag, ties AND
    "q52_interval_join_bounded" ->
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
        | AND NOT (we < s OR (we = s AND NOT (wrc AND lc)))""".stripMargin,

    "q53_interval_join_float" ->
      """WITH l AS (SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS s,
        |                  CAST(o_totalprice AS DOUBLE) * 1.1 AS e
        |           FROM orders),
        |r AS (SELECT CAST(r_regionkey AS BIGINT) AS wid,
        |             CAST(r_regionkey AS DOUBLE) * 100000.0 AS ws,
        |             CAST(r_regionkey AS DOUBLE) * 100000.0 + 120000.0 AS we
        |      FROM region)
        |SELECT o_orderkey, wid, greatest(s, ws) AS istart, least(e, we) AS istop
        |FROM l JOIN r ON s < we AND ws < e AND s < e AND ws < we""".stripMargin,

    "q54_decontaminate" ->
      """WITH tok AS (SELECT doc_id,
        |                    list_filter(regexp_split_to_array(text, '\s+'),
        |                                x -> x <> '') AS t
        |             FROM documents),
        |ngs AS (SELECT doc_id, unnest(list_distinct(
        |          list_transform(range(1, greatest(len(t)-2, 0)+1),
        |                         i -> array_to_string(t[i:i+2], ' ')))) AS g
        |        FROM tok),
        |ng AS (SELECT doc_id, ('0x' || substr(md5(g),1,15))::BIGINT AS h FROM ngs),
        |b AS (SELECT DISTINCT h FROM ng WHERE doc_id % 50 = 0),
        |c AS (SELECT doc_id, h FROM ng WHERE doc_id % 50 <> 0)
        |SELECT c.doc_id AS id, count(*) AS n_hits
        |FROM c JOIN b USING (h) GROUP BY c.doc_id""".stripMargin,

    "q55_pii_redact" -> {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phone = "\\+?[0-9][0-9 ()-]{6,}[0-9]"
      s"""SELECT doc_id,
         |  regexp_replace(
         |    regexp_replace(
         |      substr(text, 1, 40) || ' contact: user' || doc_id
         |        || '@example.com or +1 555-00' || (doc_id % 100) || '1',
         |      '$email', '<EMAIL>', 'g'),
         |    '$phone', '<PHONE>', 'g') AS clean
         |FROM documents""".stripMargin
    },

    "q56_pack_stream" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |         ((('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)),1,15))::BIGINT
         |           % ${TF.HashMod}) % 1000) % 8 AS bucket,
         |         CAST(len($toksSql) AS BIGINT) AS n_tok
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, bucket, n_tok,
         |         CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY bucket ORDER BY doc_id
         |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
         |  FROM t)
         |SELECT doc_id, bucket, n_tok,
         |       cum // 256 AS pack_first,
         |       cum % 256 AS pack_offset,
         |       CASE WHEN n_tok > 0 THEN (cum + n_tok - 1) // 256
         |            ELSE cum // 256 END AS pack_last,
         |       CASE WHEN n_tok > 0 THEN (cum + n_tok - 1) // 256 - cum // 256 + 1
         |            ELSE 0 END AS n_packs
         |FROM c""".stripMargin,

    "q57_chunk_overlap" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |n AS (SELECT doc_id, tk,
         |             1 + (greatest(len(tk) - 64, 0) + 47) // 48 AS n_chunks
         |      FROM t WHERE len(tk) > 0),
         |c AS (SELECT doc_id, tk, unnest(range(0, n_chunks)) AS ci FROM n)
         |SELECT doc_id, CAST(ci AS INT) AS chunk_idx,
         |       CAST(len(tk[CAST(ci*48+1 AS INT) : CAST(ci*48+64 AS INT)]) AS INT) AS chunk_tok,
         |       array_to_string(tk[CAST(ci*48+1 AS INT) : CAST(ci*48+64 AS INT)], ' ') AS chunk_text
         |FROM c""".stripMargin,

    "q58_top_ngrams" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |ng AS (SELECT doc_id, unnest(list_distinct(
         |         list_transform(range(1, greatest(len(tk)-1, 0)+1),
         |                        i -> array_to_string(tk[i:i+1], ' ')))) AS g
         |       FROM t)
         |SELECT max(g) AS ngram, count(*) AS doc_freq
         |FROM ng GROUP BY ('0x' || substr(md5(g),1,15))::BIGINT
         |ORDER BY doc_freq DESC, ngram
         |LIMIT 100""".stripMargin,

    "q59_unigram_surprisal" ->
      """WITH toks AS (SELECT doc_id,
        |                     unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |                                        x -> x <> '')) AS term
        |              FROM documents),
        |c AS (SELECT doc_id, term, count(*) AS c FROM toks GROUP BY 1, 2),
        |f AS (SELECT term, count(*) AS n FROM toks GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS DOUBLE) AS N FROM toks),
        |g AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tok,
        |             list(CAST(c AS DOUBLE) * ln((SELECT N FROM t) / n) ORDER BY term) AS vs
        |      FROM c JOIN f USING (term) GROUP BY 1)
        |SELECT doc_id AS id, n_tok,
        |       list_reduce(list_prepend(0.0, vs), (a, b) -> a + b) / n_tok AS surprisal
        |FROM g""".stripMargin,

    // Same full MinHash->band->Jaccard replay as q17, restricted to
    // (even index side) x (odd probe side) cross pairs
    "q64_neardup_index" -> q64Sql,

    // Incremental index maintenance ≡ rebuild: the merged (half-built,
    // half-appended) index answers the probe with q64's SQL VERBATIM.
    "q203_neardup_index_incr" -> q64Sql,

    // Lossless decode of a fixed-pixel PNG -> the oracle states the exact
    // decoded constants (3x2, r+g+b total 651); text payloads hit the
    // undecodable sentinel row.
    "q62_image_decode" ->
      """SELECT doc_id AS id,
        |       doc_id % 5 = 0 AS decoded,
        |       CASE WHEN doc_id % 5 = 0 THEN 'png' ELSE 'unknown' END AS format,
        |       CAST(CASE WHEN doc_id % 5 = 0 THEN 3 ELSE -1 END AS INTEGER) AS width,
        |       CAST(CASE WHEN doc_id % 5 = 0 THEN 2 ELSE -1 END AS INTEGER) AS height,
        |       CAST(CASE WHEN doc_id % 5 = 0 THEN 651 END AS BIGINT) AS rgb_sum
        |FROM documents""".stripMargin,

    "q63_audio_meta" ->
      """SELECT doc_id AS id,
        |       doc_id % 7 = 0 AS is_wav,
        |       CAST(CASE WHEN doc_id % 7 = 0 THEN 2 ELSE -1 END AS INTEGER) AS channels,
        |       CAST(CASE WHEN doc_id % 7 = 0 THEN 16000 ELSE -1 END AS INTEGER) AS sample_rate,
        |       CAST(CASE WHEN doc_id % 7 = 0 THEN 16 ELSE -1 END AS INTEGER) AS bits_per_sample,
        |       CAST(CASE WHEN doc_id % 7 = 0 THEN 80 ELSE -1 END AS BIGINT) AS n_frames
        |FROM documents""".stripMargin,

    "q68_video_meta" ->
      """SELECT doc_id AS id,
        |       doc_id % 6 = 0 AS is_mp4,
        |       CASE WHEN doc_id % 6 = 0 THEN 'isom' ELSE '' END AS major_brand,
        |       CAST(CASE WHEN doc_id % 6 = 0 THEN 1000 ELSE -1 END AS BIGINT) AS timescale,
        |       CAST(CASE WHEN doc_id % 6 = 0 THEN 5000 ELSE -1 END AS BIGINT) AS duration_ticks,
        |       CAST(CASE WHEN doc_id % 6 = 0 THEN 2 ELSE -1 END AS INTEGER) AS n_tracks
        |FROM documents""".stripMargin,

    // hashAnchors selection replayed (q82's idiom), corpus cell assignment
    // = argmax rounded cosine (row_number replay of the fold's rule),
    // query probe lists = top-4 anchors by cosine DISTANCE 1.0 - round(s,4)
    // (the -0.0-free form the Spark side sorts by), candidate equi-join on
    // the cell, exact rerank. nProbe=4 of 16 — the true approximate
    // regime, now with a full three-gate oracle.
    "q61_ann_ivf_probe" ->
      s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |anch AS (
        |  SELECT vec_id AS aid, v FROM (
        |    SELECT vec_id, v,
        |           ${hSql("'q61:' || CAST(vec_id AS VARCHAR)")} AS hk
        |    FROM c) ORDER BY hk, vec_id LIMIT 16),
        |csims AS (
        |  SELECT c.vec_id AS id, a.aid,
        |         round(list_dot_product(c.v, a.v)
        |               / (sqrt(list_dot_product(c.v, c.v))
        |                  * sqrt(list_dot_product(a.v, a.v))), 4) AS s
        |  FROM c CROSS JOIN anch a),
        |cellq AS (
        |  SELECT id, aid AS cell FROM (
        |    SELECT id, aid,
        |           row_number() OVER (PARTITION BY id ORDER BY s DESC, aid) AS rn
        |    FROM csims) WHERE rn = 1),
        |qs AS (SELECT vec_id AS q_id, v AS qv FROM c WHERE vec_id % 100 = 0),
        |qsims AS (
        |  SELECT q.q_id, a.aid,
        |         1.0 - round(list_dot_product(q.qv, a.v)
        |               / (sqrt(list_dot_product(q.qv, q.qv))
        |                  * sqrt(list_dot_product(a.v, a.v))), 4) AS d
        |  FROM qs q CROSS JOIN anch a),
        |probe AS (
        |  SELECT q_id, aid AS cell FROM (
        |    SELECT q_id, aid,
        |           row_number() OVER (PARTITION BY q_id ORDER BY d, aid) AS rn
        |    FROM qsims) WHERE rn <= 4),
        |s AS (
        |  SELECT p.q_id, cq.id AS vec_id,
        |         round(list_dot_product(cv.v, qv2.v)
        |               / (sqrt(list_dot_product(cv.v, cv.v))
        |                  * sqrt(list_dot_product(qv2.v, qv2.v))), 4) AS sim
        |  FROM probe p JOIN cellq cq ON cq.cell = p.cell
        |  JOIN c cv ON cv.vec_id = cq.id
        |  JOIN c qv2 ON qv2.vec_id = p.q_id
        |  WHERE cq.id <> p.q_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
        |                                   ORDER BY sim DESC, vec_id) AS rank
        |      FROM s)
        |SELECT q_id, vec_id, sim, rank FROM r WHERE rank <= 10""".stripMargin,

    "q60_stab_join" ->
      s"""WITH $esSql, ${winSql(1000, "min(s)", "max(e)", "es")},
         |pts AS (SELECT event_id, user_id, epoch_ns(ts) AS t FROM events)
         |SELECT p.event_id, p.user_id, w.idx, w.ws, w.we
         |FROM pts p JOIN win w ON p.t >= w.ws AND p.t < w.we""".stripMargin,

    // The prepended-header rows reduce to constants the oracle states
    // directly: the PNG header is 24 bytes summing 733 over its first 16;
    // the JPEG SOF0 header is 11 bytes summing 1292, so its checksum16
    // adds the first 5 payload bytes. Both encode 640x480.
    "q18_multimodal" ->
      """SELECT doc_id AS id,
        |       octet_length(encode(text))
        |         + CASE WHEN doc_id % 10 = 0 THEN 24
        |                WHEN doc_id % 10 = 5 THEN 11 ELSE 0 END AS n_bytes,
        |       CASE WHEN doc_id % 10 = 0 THEN 137
        |            WHEN doc_id % 10 = 5 THEN 255
        |            WHEN len(text) > 0 THEN unicode(substr(text, 1, 1))
        |            ELSE -1 END AS first_byte,
        |       CAST(CASE WHEN doc_id % 10 = 0 THEN 733
        |            WHEN doc_id % 10 = 5 THEN 1292 + COALESCE(list_sum(
        |              list_transform(range(1, least(len(text), 5)+1),
        |                             i -> unicode(substr(text, CAST(i AS INT), 1)))), 0)
        |            ELSE COALESCE(list_sum(
        |              list_transform(range(1, least(len(text), 16)+1),
        |                             i -> unicode(substr(text, CAST(i AS INT), 1)))), 0)
        |            END AS BIGINT) AS checksum16,
        |       CASE WHEN doc_id % 10 = 0 THEN 'png'
        |            WHEN doc_id % 10 = 5 THEN 'jpeg' ELSE 'unknown' END AS format,
        |       CASE WHEN doc_id % 10 IN (0, 5) THEN 640 ELSE -1 END AS width,
        |       CASE WHEN doc_id % 10 IN (0, 5) THEN 480 ELSE -1 END AS height
        |FROM documents""".stripMargin,

    // Both engines fold the pow terms over strata in sorted-lang order
    // from a 0.0 seed; p/weight rounded to 6 dp on both sides so pow ulp
    // differences cannot surface.
    "q69_temperature_mix" ->
      """WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY 1),
        |a AS (SELECT list(pow(cnt, 0.5) ORDER BY lang) AS ps,
        |             CAST(sum(cnt) AS BIGINT) AS n FROM c),
        |d AS (SELECT list_reduce(list_prepend(0.0, ps), (x, y) -> x + y) AS den,
        |             n FROM a)
        |SELECT lang, cnt,
        |       round(pow(cnt, 0.5) / den, 6) AS p,
        |       round(pow(cnt, 0.5) / den * n / cnt, 6) AS weight
        |FROM c, d""".stripMargin,

    // First occurrence = rank 1 over (doc_id, idx) per segment hash —
    // the same membership as the Spark side's min-struct winner.
    "q70_segment_dedup" ->
      """WITH t AS (SELECT doc_id, string_split_regex(text, ' the ') AS parts
        |           FROM documents),
        |u AS (SELECT doc_id, parts, unnest(range(len(parts))) AS i FROM t),
        |s AS (SELECT doc_id, CAST(i AS BIGINT) AS idx,
        |             trim(parts[CAST(i+1 AS INT)]) AS seg
        |      FROM u),
        |s2 AS (SELECT doc_id, idx, seg FROM s WHERE seg <> ''),
        |k AS (SELECT doc_id, idx, seg,
        |             row_number() OVER (PARTITION BY md5(seg)
        |                                ORDER BY doc_id, idx) AS rn
        |      FROM s2)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segs,
        |       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       coalesce(string_agg(CASE WHEN rn = 1 THEN seg END, ' | '
        |                           ORDER BY idx), '') AS clean_text
        |FROM k GROUP BY 1""".stripMargin,

    // Full CMS replay: same salted md5 buckets, same sketch counts, same
    // min-over-rows estimate (left join: an absent cell estimates 0).
    "q71_cms_counts" -> q71Sql,

    // Full HLL replay: 60-bit md5 hash, low-8 register, rho from the
    // binary-string bit length (exact in both engines), registers folded
    // in order from a 0.0 seed; the alpha constant is inlined from the
    // same Scala double so both engines use the identical literal.
    "q72_hll_distinct" -> q72Sql,

    // Bloom replay: distinct set bits from the even docs, probe = all
    // docs' k positions, present iff every position joined.
    "q73_bloom_probe" -> {
      val bloomH = (v: String) =>
        s"(${hSql(s"'bloom:q73:' || CAST(i AS VARCHAR) || ':' || $v")}) % 4096"
      s"""WITH bits AS (SELECT DISTINCT ${bloomH("text")} AS pos
         |              FROM documents, range(3) t(i) WHERE doc_id % 2 = 0),
         |probe AS (SELECT doc_id, ${bloomH("text")} AS pos
         |          FROM documents, range(3) t(i))
         |SELECT p.doc_id, min(b.pos IS NOT NULL) AS present
         |FROM probe p LEFT JOIN bits b ON p.pos = b.pos GROUP BY 1""".stripMargin
    },

    // Full BM25 replay: same lowercase tokens, same idf/tf/length math in
    // the same float op order, contributions folded in sorted term order
    // from 0.0 — bit-exact pre-round; rank on the 6-dp-rounded score.
    "q74_bm25" -> bm25ReplaySql,

    // The index probe must equal the direct path bit for bit — same
    // corpus, same queries, same oracle.
    "q78_bm25_index" -> bm25ReplaySql,

    // Incremental BM25 maintenance ≡ rebuild ≡ the direct path: the
    // two-step split-stats index answers q78's replay verbatim.
    "q205_bm25_index_incr" -> bm25ReplaySql,

    // q17's pair pipeline -> recursive min-reachability closure -> q10's
    // quality formula -> first_value window picks the (quality DESC, id)
    // winner per cluster.
    "q75_cluster_canonical" -> {
      val bandSqls = (0 until 4).map(bd =>
        s"list_reduce(sig[${bd * 4 + 1}:${bd * 4 + 4}], (a, b) -> (a*31 + b) % ${Dedup.P}) AS bh$bd")
        .mkString(",\n       ")
      s"""WITH RECURSIVE
         |d AS (SELECT doc_id, ${shinglesSql(5)} AS sh FROM documents),
         |d2 AS (SELECT doc_id, sh FROM d WHERE len(sh) > 0),
         |s AS (SELECT doc_id,
         |             list_distinct(list_transform(sh, sg -> ${hSql("sg")})) AS hs,
         |             $sigSql AS sig
         |      FROM d2),
         |b AS (SELECT doc_id, hs,
         |       $bandSqls
         |      FROM s),
         |p AS (SELECT a.doc_id AS pa, b2.doc_id AS pb,
         |             round(len(list_intersect(a.hs, b2.hs))
         |                   / len(list_distinct(list_concat(a.hs, b2.hs))), 6) AS jac
         |      FROM b a JOIN b b2
         |        ON a.doc_id < b2.doc_id
         |       AND (a.bh0 = b2.bh0 OR a.bh1 = b2.bh1 OR a.bh2 = b2.bh2 OR a.bh3 = b2.bh3)),
         |e0 AS (SELECT pa, pb FROM p WHERE jac >= 0.5),
         |edges AS (SELECT pa AS a, pb AS b FROM e0
         |          UNION ALL SELECT pb, pa FROM e0),
         |reach(id, r) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id),
         |cc AS (SELECT id, CAST(min(r) AS BIGINT) AS cluster FROM reach GROUP BY 1),
         |t AS (SELECT doc_id, len(${toksSql}) AS n_tok, len(text) AS n_chars,
         |             len(regexp_replace(text, '[\\w\\s]', '', 'g')) AS n_punct
         |      FROM documents),
         |t2 AS (SELECT *, CASE WHEN n_tok > 0 THEN CAST(n_chars AS DOUBLE)/n_tok
         |                      ELSE 0.0 END AS avgtok
         |       FROM t),
         |qual AS (SELECT doc_id AS id,
         |  round(least(n_tok/100.0, 1.0)*0.4
         |      + (1.0 - least(n_punct/greatest(n_chars, 1)*5.0, 1.0))*0.3
         |      + (CASE WHEN avgtok >= 3.0 AND avgtok <= 10.0
         |              THEN 1.0 ELSE 0.0 END)*0.3, 6) AS quality
         |  FROM t2),
         |jn AS (SELECT cc.id AS doc_id, cluster, quality
         |       FROM cc JOIN qual ON cc.id = qual.id),
         |w AS (SELECT doc_id, cluster,
         |             first_value(doc_id) OVER (PARTITION BY cluster
         |               ORDER BY quality DESC, doc_id) AS canon_id,
         |             count(*) OVER (PARTITION BY cluster) AS csize
         |      FROM jn)
         |SELECT doc_id, cluster, canon_id, CAST(csize AS BIGINT) AS csize,
         |       doc_id = canon_id AS kept
         |FROM w""".stripMargin
    },

    // Same salted hash, same (hash, id) order, same row_number cut.
    "q76_stratified_take" ->
      s"""WITH h AS (SELECT doc_id, lang,
         |             ${hSql("'taken:' || CAST(doc_id AS VARCHAR)")} AS hv
         |           FROM documents),
         |r AS (SELECT doc_id, lang,
         |             row_number() OVER (PARTITION BY lang
         |                                ORDER BY hv, doc_id) AS rank
         |      FROM h)
         |SELECT doc_id, lang, CAST(rank AS BIGINT) AS rank
         |FROM r WHERE rank <= 20""".stripMargin,

    // The exact contract the sketch-gated plan must honor: plain counts,
    // integer-division threshold, >= cut.
    "q77_heavy_hitters" ->
      s"""WITH t AS (SELECT unnest($toksSql) AS tok FROM documents),
         |thr AS (SELECT count(*) // 30 AS mc FROM t)
         |SELECT tok, CAST(count(*) AS BIGINT) AS cnt
         |FROM t, thr GROUP BY tok, mc HAVING count(*) >= mc""".stripMargin,

    // A-ES race replay: u from the salted hash, E = -ln(u)/w rounded 6 dp,
    // row_number over (race, id) per language, top 15.
    "q79_weighted_take" ->
      s"""WITH w AS (
         |  SELECT doc_id, lang, greatest(n_chars, 1) AS w,
         |         round(-ln(((${hSql("'q79:' || CAST(doc_id AS VARCHAR)")}) + 1)
         |                   / ${TF.HashMod + 1L}.0)
         |               / greatest(n_chars, 1), 6) AS race
         |  FROM documents),
         |r AS (SELECT doc_id, lang, w,
         |             CAST(row_number() OVER (PARTITION BY lang
         |                                     ORDER BY race, doc_id) AS BIGINT) AS rank
         |      FROM w)
         |SELECT doc_id, lang, w, rank FROM r WHERE rank <= 15""".stripMargin,

    // Integer-exact feature-hash dot product, then the one float step:
    // sigmoid(4 * mean) rounded 6 dp. Empty docs -> sigmoid(0) = 0.5.
    "q80_quality_classifier" -> {
      val half = TF.HashMod / 2L
      s"""WITH t AS (
         |  SELECT doc_id,
         |         list_filter(regexp_split_to_array(lower(text), '\\s+'),
         |                     x -> x <> '') AS toks
         |  FROM documents),
         |s AS (
         |  SELECT doc_id, len(toks) AS ntok,
         |         CAST(coalesce(list_sum(list_transform(toks, tok ->
         |           ((${hSql("'q80:' || tok")} % 64) * 2654435761)
         |             % ${TF.HashMod} - $half)), 0) AS BIGINT) AS raw
         |  FROM t)
         |SELECT doc_id,
         |       round(1.0 / (1.0 + exp(-(0.0 + 4.0 *
         |         (CASE WHEN ntok > 0
         |               THEN raw / (CAST(ntok AS DOUBLE) * $half.0)
         |               ELSE 0.0 END)))), 6) AS qscore
         |FROM s""".stripMargin
    },

    // Window explode -> duplicated-gram filter -> per-doc running-max merge
    // of [p, p+5) spans — the same interval-merge replay as q28/q36.
    "q81_dup_span_fraction" ->
      """WITH sized AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks,
        |         CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS BIGINT) AS ntok
        |  FROM documents),
        |wins0 AS (
        |  SELECT doc_id, toks,
        |         unnest(generate_series(1, CAST(ntok AS INTEGER) - 4)) AS p
        |  FROM sized WHERE ntok >= 5),
        |wins AS (
        |  SELECT doc_id, CAST(p AS BIGINT) AS p,
        |         array_to_string(toks[p : p + 4], ' ') AS gram
        |  FROM wins0),
        |dup AS (SELECT gram FROM wins GROUP BY gram HAVING count(*) > 1),
        |dw AS (SELECT w.doc_id, w.p FROM wins w
        |       WHERE w.gram IN (SELECT gram FROM dup)),
        |seg AS (
        |  SELECT doc_id, p,
        |         CASE WHEN max(p + 5) OVER (PARTITION BY doc_id ORDER BY p
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |              OR p > max(p + 5) OVER (PARTITION BY doc_id ORDER BY p
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |              THEN 1 ELSE 0 END AS newseg
        |  FROM dw),
        |grp AS (
        |  SELECT doc_id, p,
        |         sum(newseg) OVER (PARTITION BY doc_id ORDER BY p
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
        |  FROM seg),
        |runs AS (SELECT doc_id, g, min(p) AS s, max(p) + 5 AS e
        |         FROM grp GROUP BY doc_id, g),
        |cov AS (SELECT doc_id, CAST(sum(e - s) AS BIGINT) AS covered
        |        FROM runs GROUP BY doc_id)
        |SELECT s.doc_id, s.ntok,
        |       CAST(coalesce(c.covered, 0) AS BIGINT) AS covered,
        |       round(CASE WHEN s.ntok > 0
        |                  THEN coalesce(c.covered, 0) / CAST(s.ntok AS DOUBLE)
        |                  ELSE 0.0 END, 6) AS dup_frac
        |FROM sized s LEFT JOIN cov c USING (doc_id)""".stripMargin,

    // Anchor selection by hash order, argmax-cosine cell assignment
    // (row_number replay of the fold's (sim desc, aid asc) rule), within-
    // cell pair kill, survivors. Cosines rounded 4 dp like q30/q31.
    "q82_semantic_dedup" ->
      s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |anch AS (
        |  SELECT vec_id AS aid, v FROM (
        |    SELECT vec_id, v,
        |           ${hSql("'q82:' || CAST(vec_id AS VARCHAR)")} AS hk
        |    FROM c) ORDER BY hk, vec_id LIMIT 8),
        |sims AS (
        |  SELECT c.vec_id AS id, a.aid,
        |         round(list_dot_product(c.v, a.v)
        |               / (sqrt(list_dot_product(c.v, c.v))
        |                  * sqrt(list_dot_product(a.v, a.v))), 4) AS s
        |  FROM c CROSS JOIN anch a),
        |cellq AS (
        |  SELECT id, aid AS cell FROM (
        |    SELECT id, aid,
        |           row_number() OVER (PARTITION BY id ORDER BY s DESC, aid) AS rn
        |    FROM sims) WHERE rn = 1),
        |pairs AS (
        |  SELECT y.id AS id_b
        |  FROM cellq x JOIN cellq y ON x.cell = y.cell AND x.id < y.id
        |  JOIN c ca ON ca.vec_id = x.id
        |  JOIN c cb ON cb.vec_id = y.id
        |  WHERE round(list_dot_product(ca.v, cb.v)
        |              / (sqrt(list_dot_product(ca.v, ca.v))
        |                 * sqrt(list_dot_product(cb.v, cb.v))), 4) >= 0.4)
        |SELECT q.id AS vec_id, q.cell FROM cellq q
        |WHERE q.id NOT IN (SELECT id_b FROM pairs)""".stripMargin,

    // Quantile windows replay + overlap join on the sparse span subset +
    // the q28-style running-max merge per window + left join for
    // zero-coverage windows.
    "q83_window_coverage" ->
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
        |FROM win w LEFT JOIN cov c ON c.idx = w.idx""".stripMargin,

    // BM25 replay (verbatim q74) + q15-style cosine replay at the same
    // query ids, fused: rrf = 1/(60+rank_a) + 1/(60+rank_b), re-ranked.
    "q84_hybrid_rrf" ->
      s"""WITH bm AS ($bm25ReplaySql),
        |vq AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        |       FROM embeddings WHERE vec_id % 50 = 0),
        |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |vs AS (SELECT q_id, vec_id,
        |              round(list_dot_product(v, qv)
        |                    / (sqrt(list_dot_product(v, v))
        |                       * sqrt(list_dot_product(qv, qv))), 4) AS sim
        |       FROM c, vq WHERE vec_id <> q_id),
        |vr AS (SELECT q_id, vec_id,
        |              row_number() OVER (PARTITION BY q_id
        |                                 ORDER BY sim DESC, vec_id) AS rank
        |       FROM vs),
        |vec AS (SELECT q_id, vec_id, rank FROM vr WHERE rank <= 10),
        |f AS (SELECT coalesce(bm.qid, vec.q_id) AS qid,
        |             coalesce(bm.doc_id, vec.vec_id) AS doc_id,
        |             round(coalesce(1.0 / (60 + bm.rank), 0.0)
        |                   + coalesce(1.0 / (60 + vec.rank), 0.0), 6) AS rrf
        |      FROM bm FULL JOIN vec
        |        ON bm.qid = vec.q_id AND bm.doc_id = vec.vec_id),
        |rr AS (SELECT qid, doc_id, rrf,
        |              CAST(row_number() OVER (PARTITION BY qid
        |                ORDER BY rrf DESC, doc_id) AS BIGINT) AS rank
        |       FROM f)
        |SELECT qid, doc_id, rrf, rank FROM rr WHERE rank <= 10""".stripMargin,

    // Vocabulary + planted z-substitution typos, FastSS deletion
    // neighborhood join, exact levenshtein verify — identical plant rule
    // on both sides, so the recovered pair set must match exactly.
    "q85_spelling_pairs" ->
      s"""WITH toks AS (
        |  SELECT DISTINCT tok FROM (
        |    SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
        |                  x -> x <> '')) AS tok
        |    FROM documents)
        |  WHERE len(tok) BETWEEN 3 AND 20),
        |typos AS (
        |  SELECT 'z' || substr(tok, 2, CAST(len(tok) AS INT)) AS tok FROM toks
        |  WHERE ${hSql("tok")} % 3 = 0),
        |vocab AS (SELECT DISTINCT tok
        |          FROM (SELECT tok FROM toks UNION ALL SELECT tok FROM typos)),
        |keys AS (
        |  SELECT tok, unnest(list_distinct(list_prepend(tok,
        |    list_transform(range(1, len(tok) + 1),
        |      i -> substr(tok, 1, CAST(i - 1 AS INT))
        |           || substr(tok, CAST(i + 1 AS INT), CAST(len(tok) AS INT)))))) AS key
        |  FROM vocab),
        |p AS (
        |  SELECT DISTINCT a.tok AS str_a, b.tok AS str_b
        |  FROM keys a JOIN keys b ON a.key = b.key AND a.tok < b.tok
        |  WHERE levenshtein(a.tok, b.tok) <= 1)
        |SELECT str_a, str_b,
        |       CAST(levenshtein(str_a, str_b) AS BIGINT) AS dist FROM p""".stripMargin,

    // One SELECT per profiled column, same six stats, UNION ALL.
    "q86_profile" -> Seq("doc_id", "lang", "source", "n_chars").map(c =>
      s"""SELECT '$c' AS "column", count(*) AS n_rows,
         |       count(*) - count($c) AS n_nulls,
         |       count(DISTINCT $c) AS n_distinct,
         |       CAST(min($c) AS VARCHAR) AS min_str,
         |       CAST(max($c) AS VARCHAR) AS max_str
         |FROM documents""".stripMargin).mkString("\nUNION ALL\n"),

    // Each event belongs to the two hop-aligned windows m and m-1
    // (size = 2 x hop): w_start = (t_us div hop - k) * hop, k in {0, 1},
    // kept iff t < w_start + size. Pure integer µs arithmetic.
    "q87_hopping_window" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) AS t,
        |                  CAST(floor(value * 1000) AS BIGINT) AS v
        |           FROM events),
        |w AS (SELECT event_type, t, v,
        |             ((t // 1800000000) - k) * 1800000000 AS ws
        |      FROM e, unnest([0, 1]) AS u(k)
        |      WHERE ((t // 1800000000) - k) * 1800000000 <= t
        |        AND t < ((t // 1800000000) - k) * 1800000000 + 3600000000)
        |SELECT ws, ws + 3600000000 AS we, event_type,
        |       count(*) AS cnt, CAST(sum(v) AS BIGINT) AS sum_v
        |FROM w GROUP BY ws, event_type""".stripMargin,

    // The same deterministic v2 mutations, then the textbook full-outer
    // CDC classification; unchanged keys drop out.
    "q88_snapshot_diff" ->
      s"""WITH v1 AS (SELECT doc_id, text, lang FROM documents),
        |kept AS (
        |  SELECT doc_id,
        |         CASE WHEN ${hSql("text")} % 7 = 0
        |              THEN text || ' [v2]' ELSE text END AS text,
        |         lang
        |  FROM v1 WHERE doc_id % 97 <> 0),
        |added AS (SELECT doc_id + 1000000 AS doc_id, text, lang
        |          FROM v1 WHERE doc_id % 101 = 0),
        |v2 AS (SELECT * FROM kept UNION ALL SELECT * FROM added),
        |j AS (
        |  SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
        |         CASE WHEN a.doc_id IS NULL THEN 'added'
        |              WHEN b.doc_id IS NULL THEN 'removed'
        |              WHEN a.text IS DISTINCT FROM b.text
        |                OR a.lang IS DISTINCT FROM b.lang THEN 'changed'
        |         END AS status
        |  FROM v1 a FULL JOIN v2 b ON a.doc_id = b.doc_id)
        |SELECT doc_id, status FROM j WHERE status IS NOT NULL""".stripMargin,

    // q10's quality formula, per-lang quantile_cont(0.75) rounded 6 dp,
    // keep quality >= threshold.
    "q89_quality_cut" ->
      s"""WITH t AS (
        |  SELECT doc_id, lang,
        |         len($toksSql) AS n_tok,
        |         len(text) AS n_chars,
        |         len(regexp_replace(text, '[\\w\\s]', '', 'g')) AS n_punct
        |  FROM documents),
        |t2 AS (SELECT *,
        |         CASE WHEN n_tok > 0 THEN CAST(n_chars AS DOUBLE)/n_tok
        |              ELSE 0.0 END AS avgtok
        |       FROM t),
        |d AS (SELECT doc_id, lang,
        |        round(least(n_tok/100.0, 1.0)*0.4
        |            + (1.0 - least(n_punct/greatest(n_chars, 1)*5.0, 1.0))*0.3
        |            + (CASE WHEN avgtok >= 3.0 AND avgtok <= 10.0
        |                    THEN 1.0 ELSE 0.0 END)*0.3, 6) AS quality
        |      FROM t2),
        |thr AS (SELECT lang, round(quantile_cont(quality, 0.75), 6) AS thr
        |        FROM d GROUP BY lang)
        |SELECT d.doc_id, d.lang, d.quality
        |FROM d JOIN thr USING (lang) WHERE d.quality >= thr.thr""".stripMargin,

    // The q66 ring replay + modular-offset self-join per offset.
    "q90_negative_pairs" ->
      s"""WITH h AS (
        |  SELECT doc_id,
        |         ('0x' || substr(md5('q90:' || CAST(doc_id AS VARCHAR)),1,15))::BIGINT
        |          % ${TF.HashMod} AS hkey
        |  FROM documents),
        |r AS (SELECT doc_id,
        |             CAST(row_number() OVER (ORDER BY hkey, doc_id) - 1 AS BIGINT) AS idx
        |      FROM h),
        |n AS (SELECT max(idx) + 1 AS n FROM r),
        |p AS (
        |  SELECT a.doc_id, o.off, b.doc_id AS neg_id
        |  FROM r a, n, unnest([CAST(1 AS BIGINT), CAST(7 AS BIGINT)]) AS o(off),
        |       r b
        |  WHERE b.idx = (a.idx + o.off) % n.n)
        |SELECT doc_id, off, neg_id FROM p WHERE doc_id <> neg_id""".stripMargin,

    // The same boundary sweep as the Spark side: +1/-1 deltas, a
    // peer-inclusive RANGE-framed running sum, then per-key max and the
    // earliest position attaining it.
    "q91_concurrency" ->
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
        |GROUP BY m.k, m.mc""".stripMargin,

    // Change points = first row per user OR event_type differs from its
    // predecessor (null-safe); validity runs via lead over change points.
    "q92_scd2" ->
      """WITH ev AS (SELECT user_id, event_id, event_type, epoch_ns(ts) AS t
        |            FROM events),
        |l AS (SELECT user_id, event_id, event_type, t,
        |             lag(event_type) OVER w AS prev,
        |             row_number() OVER w AS rn
        |      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
        |p AS (SELECT user_id, event_id, event_type, t FROM l
        |      WHERE rn = 1 OR event_type IS DISTINCT FROM prev)
        |SELECT user_id, event_type, t AS valid_from,
        |       lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS valid_to,
        |       lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id) IS NULL
        |         AS is_current
        |FROM p""".stripMargin,

    // Identical endpoint arithmetic (all-integer) + the same CASE order as
    // IntervalCols.allenRelation — exhaustive/exclusive for non-empty spans.
    "q93_allen" ->
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
        |FROM p""".stripMargin,

    // q59's replay, one order up: bigram counts, context counts from the
    // aggregated bigram table, sorted 0.0-seeded fold — bit-exact.
    "q94_bigram_surprisal" ->
      """WITH tk AS (SELECT doc_id,
        |                   list_filter(regexp_split_to_array(lower(text), '\s+'),
        |                               x -> x <> '') AS tk
        |            FROM documents),
        |bg AS (SELECT doc_id,
        |              unnest(list_transform(range(1, len(tk)),
        |                                    i -> tk[i] || ' ' || tk[i+1])) AS bg
        |       FROM tk WHERE len(tk) >= 2),
        |c AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2),
        |f AS (SELECT bg, count(*) AS n FROM bg GROUP BY 1),
        |x AS (SELECT split_part(bg, ' ', 1) AS ctx, CAST(sum(n) AS BIGINT) AS cn
        |      FROM f GROUP BY 1),
        |g AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_big,
        |             list(round(CAST(c AS DOUBLE) * ln(CAST(cn AS DOUBLE) / n), 6)
        |                  ORDER BY bg) AS vs
        |      FROM c JOIN f USING (bg) JOIN x ON split_part(bg, ' ', 1) = x.ctx
        |      GROUP BY 1)
        |SELECT doc_id AS id, n_big,
        |       list_reduce(list_prepend(0.0, vs), (a, b) -> a + b) / n_big
        |         AS surprisal
        |FROM g""".stripMargin,

    // Verbatim replay of the SQ8 arithmetic: exact float min/max per dim,
    // the same double expression for codes, index-ordered 0.0-seeded error
    // fold rounded 6 dp.
    "q95_sq8" ->
      """WITH el AS (SELECT vec_id, unnest(embedding) AS x,
        |                   generate_subscripts(embedding, 1) AS i
        |            FROM embeddings),
        |d AS (SELECT i, min(x) AS lo, max(x) AS hi FROM el GROUP BY i),
        |c AS (SELECT el.vec_id, el.i,
        |             CAST(el.x AS DOUBLE) AS xd,
        |             CAST(d.lo AS DOUBLE) AS lod,
        |             CAST(d.hi AS DOUBLE) AS hid,
        |             CASE WHEN CAST(d.hi AS DOUBLE) = CAST(d.lo AS DOUBLE) THEN 0
        |                  ELSE CAST(floor((CAST(el.x AS DOUBLE) - CAST(d.lo AS DOUBLE))
        |                                  * 255.0
        |                                  / (CAST(d.hi AS DOUBLE) - CAST(d.lo AS DOUBLE))
        |                                  + 0.5) AS BIGINT)
        |             END AS code
        |      FROM el JOIN d USING (i)),
        |r AS (SELECT vec_id, i, code,
        |             xd - (CASE WHEN hid = lod THEN lod
        |                        ELSE lod + CAST(code AS DOUBLE) * (hid - lod) / 255.0
        |                   END) AS dx
        |      FROM c)
        |SELECT vec_id,
        |       string_agg(CAST(code AS VARCHAR), ',' ORDER BY i) AS codes,
        |       round(list_reduce(list_prepend(0.0, list(dx * dx ORDER BY i)),
        |                         (a, b) -> a + b), 6) AS err
        |FROM r GROUP BY vec_id""".stripMargin,

    // One UNION ALL branch per rule; HUGEINT sums pinned to BIGINT.
    "q96_expectations" ->
      """SELECT 'doc_id_not_null' AS rule, count(*) AS n_rows,
        |       CAST(sum(CASE WHEN doc_id IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT)
        |         AS violations,
        |       CAST(sum(CASE WHEN doc_id IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT) = 0
        |         AS passed
        |FROM documents
        |UNION ALL
        |SELECT 'text_min_100', count(*),
        |       CAST(sum(CASE WHEN len(text) >= 100 THEN 0 ELSE 1 END) AS BIGINT),
        |       CAST(sum(CASE WHEN len(text) >= 100 THEN 0 ELSE 1 END) AS BIGINT) = 0
        |FROM documents
        |UNION ALL
        |SELECT 'lang_allowed', count(*),
        |       CAST(sum(CASE WHEN lang IN ('en','de','fr','es','zh') THEN 0 ELSE 1 END) AS BIGINT),
        |       CAST(sum(CASE WHEN lang IN ('en','de','fr','es','zh') THEN 0 ELSE 1 END) AS BIGINT) = 0
        |FROM documents
        |UNION ALL
        |SELECT 'lang_latin_only', count(*),
        |       CAST(sum(CASE WHEN lang IN ('en','de','fr','es') THEN 0 ELSE 1 END) AS BIGINT),
        |       CAST(sum(CASE WHEN lang IN ('en','de','fr','es') THEN 0 ELSE 1 END) AS BIGINT) = 0
        |FROM documents
        |UNION ALL
        |SELECT 'n_chars_consistent', count(*),
        |       CAST(sum(CASE WHEN n_chars = len(text) THEN 0 ELSE 1 END) AS BIGINT),
        |       CAST(sum(CASE WHEN n_chars = len(text) THEN 0 ELSE 1 END) AS BIGINT) = 0
        |FROM documents
        |UNION ALL
        |SELECT 'doc_id_unique', count(*),
        |       CAST(count(*) - count(DISTINCT doc_id) AS BIGINT),
        |       CAST(count(*) - count(DISTINCT doc_id) AS BIGINT) = 0
        |FROM documents""".stripMargin,

    // q13's pair replay with the asymmetric denominators; NULLIF mirrors
    // the Spark-side null on shingle-less docs.
    "q97_containment" ->
      s"""WITH g AS (SELECT doc_id, ${shinglesSql(3)} AS sh FROM documents)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       round(len(list_intersect(a.sh, b.sh))
         |             / NULLIF(CAST(len(a.sh) AS DOUBLE), 0.0), 6) AS cont_ab,
         |       round(len(list_intersect(a.sh, b.sh))
         |             / NULLIF(CAST(len(b.sh) AS DOUBLE), 0.0), 6) AS cont_ba
         |FROM g a JOIN g b ON b.doc_id = a.doc_id + 1""".stripMargin,

    // The salted join is row-identical to the plain join BY CONSTRUCTION —
    // the oracle is the plain join + the same aggregate.
    "q98_salted_join" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin,

    // Identical RANGE frame over the same integer ns/measure columns.
    "q99_rolling_window" ->
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS t,
        |                  CAST(floor(value * 1000) AS BIGINT) AS v
        |           FROM events)
        |SELECT user_id, event_id, t,
        |       CAST(count(*) OVER w AS BIGINT) AS roll_n,
        |       CAST(sum(v) OVER w AS BIGINT) AS roll_sum
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY t
        |             RANGE BETWEEN 3600000000000 PRECEDING AND CURRENT ROW)
        |""".stripMargin,

    // q82's anchor-selection + assignment replay, then fixed-point means:
    // floor(x*1e6) longs summed per (cell, dim) — exact in any order —
    // divided back once, 6 dp.
    "q100_kmeans_step" ->
      s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |anch AS (
        |  SELECT vec_id AS aid, v FROM (
        |    SELECT vec_id, v,
        |           ${hSql("'q100:' || CAST(vec_id AS VARCHAR)")} AS hk
        |    FROM c) ORDER BY hk, vec_id LIMIT 6),
        |sims AS (
        |  SELECT c.vec_id AS id, a.aid,
        |         round(list_dot_product(c.v, a.v)
        |               / (sqrt(list_dot_product(c.v, c.v))
        |                  * sqrt(list_dot_product(a.v, a.v))), 4) AS s
        |  FROM c CROSS JOIN anch a),
        |cellq AS (
        |  SELECT id, aid AS cell FROM (
        |    SELECT id, aid,
        |           row_number() OVER (PARTITION BY id ORDER BY s DESC, aid) AS rn
        |    FROM sims) WHERE rn = 1),
        |el AS (
        |  SELECT q.cell, unnest(c.v) AS x, generate_subscripts(c.v, 1) AS i
        |  FROM cellq q JOIN c ON c.vec_id = q.id),
        |s AS (SELECT cell, i,
        |             CAST(sum(CAST(floor(x * 1000000.0) AS BIGINT)) AS BIGINT) AS fx,
        |             count(*) AS n
        |      FROM el GROUP BY cell, i)
        |SELECT cell, CAST(min(n) AS BIGINT) AS n,
        |       string_agg(CAST(CAST(round(round(CAST(fx AS DOUBLE) / 1000000.0 / n, 6)
        |                                  * 1000000.0) AS BIGINT) AS VARCHAR),
        |                  ',' ORDER BY i) AS centroid
        |FROM s GROUP BY cell""".stripMargin,

    // The expanded-window overlap predicate IS the within-distance
    // predicate; gap to the original window replayed as integer arithmetic.
    "q101_near_join" ->
      s"""WITH $esSql, ${winSql(100, "min(s)", "max(e)", "es")}
         |SELECT idx, user_id, s, e,
         |       greatest(s - we, ws - e, 0) AS gap
         |FROM es JOIN win
         |  ON s < we + 1800000000000 AND ws - 1800000000000 < e""".stripMargin,

    // Per-char counts, then q94's rounded sorted fold.
    "q102_char_entropy" ->
      """WITH ch AS (SELECT doc_id,
        |                   unnest(list_transform(range(1, len(text) + 1),
        |                          i -> substr(text, CAST(i AS INTEGER), 1))) AS ch
        |            FROM documents WHERE len(text) >= 1),
        |c AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY 1, 2),
        |n AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chars FROM c GROUP BY 1),
        |g AS (SELECT c.doc_id, n.n_chars,
        |             list(round(-(c.c / n.n_chars) * ln(c.c / n.n_chars), 6)
        |                  ORDER BY c.ch) AS vs
        |      FROM c JOIN n USING (doc_id) GROUP BY c.doc_id, n.n_chars)
        |SELECT doc_id AS id, n_chars,
        |       list_reduce(list_prepend(0.0, vs), (a, b) -> a + b) AS entropy
        |FROM g""".stripMargin,

    // First-touch stage mins chained on strictly-later times, left joins
    // preserve partial funnels.
    "q103_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS t FROM events),
        |v AS (SELECT user_id, min(t) AS t_view FROM e
        |      WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.t) AS t_click
        |      FROM e JOIN v USING (user_id)
        |      WHERE e.event_type = 'click' AND e.t > v.t_view GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.t) AS t_purchase
        |      FROM e JOIN c USING (user_id)
        |      WHERE e.event_type = 'purchase' AND e.t > c.t_click GROUP BY 1)
        |SELECT v.user_id, v.t_view, c.t_click, p.t_purchase
        |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)""".stripMargin,

    // Exact HUGEINT weighting replayed against the decimal sum; the two
    // final IEEE divisions written in the same order.
    "q105_time_weighted" ->
      s"""WITH $esSql,
        |w AS (SELECT user_id, e - s AS dur,
        |             CAST(floor(value * 1000) AS HUGEINT) * (e - s) AS wv
        |      FROM es)
        |SELECT user_id, CAST(sum(dur) AS BIGINT) AS active,
        |       round(CAST(sum(wv) AS DOUBLE) / 1000.0
        |             / CAST(CAST(sum(dur) AS BIGINT) AS DOUBLE), 6) AS twa
        |FROM w GROUP BY user_id""".stripMargin,

    // Grid starts stab into the per-user held-value spans.
    "q106_grid_resample" ->
      s"""WITH $esSql, ${winSql(500, "min(s)", "max(e)", "es")},
        |pts AS (SELECT idx, ws AS t FROM win),
        |vs AS (SELECT user_id, s, e, CAST(floor(value * 1000) AS BIGINT) AS v
        |       FROM es)
        |SELECT p.idx, p.t, v.user_id, v.v
        |FROM pts p JOIN vs v ON p.t >= v.s AND p.t < v.e""".stripMargin,

    // q89's quality replay + percent_rank over the same exact ordering.
    "q107_rank_normalize" ->
      s"""WITH t AS (
        |  SELECT doc_id, lang,
        |         len($toksSql) AS n_tok,
        |         len(text) AS n_chars,
        |         len(regexp_replace(text, '[\\w\\s]', '', 'g')) AS n_punct
        |  FROM documents),
        |t2 AS (SELECT *,
        |         CASE WHEN n_tok > 0 THEN CAST(n_chars AS DOUBLE)/n_tok
        |              ELSE 0.0 END AS avgtok
        |       FROM t),
        |d AS (SELECT doc_id, lang,
        |        round(least(n_tok/100.0, 1.0)*0.4
        |            + (1.0 - least(n_punct/greatest(n_chars, 1)*5.0, 1.0))*0.3
        |            + (CASE WHEN avgtok >= 3.0 AND avgtok <= 10.0
        |                    THEN 1.0 ELSE 0.0 END)*0.3, 6) AS quality
        |      FROM t2)
        |SELECT doc_id, lang, quality,
        |       round(percent_rank() OVER (PARTITION BY lang ORDER BY quality), 6)
        |         AS qnorm
        |FROM d""".stripMargin,

    // HUGEINT moment sums, identical closed form; sqrt is IEEE-exact so no
    // rounding guard is needed beyond the final 6 dp.
    "q108_exact_corr" ->
      """WITH e AS (SELECT event_type,
        |                  CAST(CAST(floor(value * 1000) AS BIGINT) AS HUGEINT) AS x,
        |                  CAST(CAST(json_extract(props, '$.k') AS BIGINT) AS HUGEINT) AS y
        |           FROM events
        |           WHERE CAST(json_extract(props, '$.k') AS BIGINT) IS NOT NULL),
        |g AS (SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
        |             sum(x) AS sx, sum(y) AS sy, sum(x*y) AS sxy,
        |             sum(x*x) AS sxx, sum(y*y) AS syy
        |      FROM e GROUP BY 1)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |       CASE WHEN CAST(n*sxx - sx*sx AS DOUBLE) > 0.0
        |             AND CAST(n*syy - sy*sy AS DOUBLE) > 0.0
        |            THEN round(CAST(n*sxy - sx*sy AS DOUBLE)
        |                       / (sqrt(CAST(n*sxx - sx*sx AS DOUBLE))
        |                          * sqrt(CAST(n*syy - sy*sy AS DOUBLE))), 6)
        |       END AS corr
        |FROM g""".stripMargin,

    // Applying the delta to the base must reproduce q88's v2 verbatim.
    "q109_apply_changes" ->
      s"""WITH v1 AS (SELECT doc_id, text, lang FROM documents),
        |kept AS (
        |  SELECT doc_id,
        |         CASE WHEN ${hSql("text")} % 7 = 0
        |              THEN text || ' [v2]' ELSE text END AS text,
        |         lang
        |  FROM v1 WHERE doc_id % 97 <> 0),
        |added AS (SELECT doc_id + 1000000 AS doc_id, text, lang
        |          FROM v1 WHERE doc_id % 101 = 0)
        |SELECT * FROM kept UNION ALL SELECT * FROM added""".stripMargin,

    // Identical ntile remainder rule over the same unique ordering.
    "q110_equidepth_hist" ->
      """WITH e AS (SELECT event_type,
        |                  CAST(floor(value * 1000) AS BIGINT) AS v, event_id
        |           FROM events),
        |b AS (SELECT event_type, v,
        |             ntile(8) OVER (PARTITION BY event_type
        |                            ORDER BY v, event_id) AS bucket
        |      FROM e)
        |SELECT event_type, bucket, min(v) AS lo, max(v) AS hi,
        |       count(*) AS n
        |FROM b GROUP BY 1, 2""".stripMargin,

    // Same planted fixture, same patterns, len(regexp_extract_all).
    "q116_pii_counts" -> {
      val planted = "substr(text, 1, 40) || ' contact: user' || " +
        "CAST(doc_id AS VARCHAR) || '@example.com or +1 555-00' || " +
        "CAST(doc_id % 100 AS VARCHAR) || '1'"
      s"""WITH p AS (SELECT doc_id, $planted AS t FROM documents)
         |SELECT doc_id,
         |       len(regexp_extract_all(t, '${TF.EmailPattern}')) AS n_email,
         |       len(regexp_extract_all(t, '${TF.PhonePattern}')) AS n_phone,
         |       len(regexp_extract_all(t, '${TF.EmailPattern}')) > 0
         |        OR len(regexp_extract_all(t, '${TF.PhonePattern}')) > 0
         |         AS has_pii
         |FROM p""".stripMargin
    },

    // q10's langId replay, rolled up as (actual, predicted) counts.
    "q117_lang_confusion" -> {
      val scoreSqls = TF.LangStopwords.map { case (l, ws) =>
        l -> s"len(list_intersect(list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> ''), ${ws.map(w => s"'$w'").mkString("[", ",", "]")}))"
      }
      val bestSql = s"greatest(${scoreSqls.map(s => s"s_${s._1}").mkString(", ")})"
      val caseSql = scoreSqls.map { case (l, _) =>
        s"WHEN s_$l = best AND s_$l > 0 THEN '$l'"
      }.mkString(" ")
      s"""WITH t AS (
         |  SELECT doc_id, lang,
         |         ${scoreSqls.map { case (l, s) => s"$s AS s_$l" }.mkString(",\n         ")}
         |  FROM documents),
         |t2 AS (SELECT *, $bestSql AS best FROM t),
         |p AS (SELECT lang, CASE $caseSql ELSE 'und' END AS pred FROM t2)
         |SELECT lang, pred, count(*) AS n FROM p GROUP BY 1, 2""".stripMargin
    },

    // NOT EXISTS / EXISTS against the sparse window subset.
    "q118_interval_anti" ->
      s"""WITH $esSql, ${winSql(100, "min(s)", "max(e)", "es")},
         |sw AS (SELECT * FROM win WHERE idx % 7 = 0)
         |SELECT user_id, s, e FROM es
         |WHERE NOT EXISTS (SELECT 1 FROM sw WHERE es.s < sw.we AND sw.ws < es.e)
         |""".stripMargin,

    "q119_interval_semi" ->
      s"""WITH $esSql, ${winSql(100, "min(s)", "max(e)", "es")},
         |sw AS (SELECT * FROM win WHERE idx % 7 = 0)
         |SELECT DISTINCT user_id, s, e FROM es
         |WHERE EXISTS (SELECT 1 FROM sw WHERE es.s < sw.we AND sw.ws < es.e)
         |""".stripMargin,

    // Ordered list slice + join replay of the path aggregate.
    "q112_user_paths" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) AS t, event_id, event_type
        |           FROM events)
        |SELECT user_id, count(*) AS n_events,
        |       array_to_string(list(event_type ORDER BY t, event_id)[1:10], '>')
        |         AS path
        |FROM e GROUP BY user_id""".stripMargin,

    // lag pairs -> counts -> row-normalized probabilities.
    "q113_transitions" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) AS t, event_id, event_type
        |           FROM events),
        |l AS (SELECT event_type AS to_type,
        |             lag(event_type) OVER (PARTITION BY user_id
        |                                   ORDER BY t, event_id) AS from_type
        |      FROM e),
        |c AS (SELECT from_type, to_type, count(*) AS n FROM l
        |      WHERE from_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS tot FROM c GROUP BY 1)
        |SELECT c.from_type, c.to_type, c.n, round(c.n / t.tot, 6) AS p
        |FROM c JOIN t USING (from_type)""".stripMargin,

    // Hour-bucket counts, rank-1 on the same unique ordering.
    "q114_window_topk" ->
      """WITH e AS (SELECT epoch_ns(ts) // 3600000000000 AS hw, event_type
        |           FROM events),
        |c AS (SELECT hw, event_type, count(*) AS n FROM e GROUP BY 1, 2),
        |r AS (SELECT hw, event_type, n,
        |             row_number() OVER (PARTITION BY hw
        |                                ORDER BY n DESC, event_type) AS rn
        |      FROM c)
        |SELECT hw, event_type, n FROM r WHERE rn = 1""".stripMargin,

    // q100's fixed-point centroid rule per label, then the pairwise cosine
    // over the rounded prototypes.
    "q115_label_centroids" ->
      """WITH el AS (SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS x,
        |                   generate_subscripts(embedding, 1) AS i
        |            FROM embeddings),
        |s AS (SELECT label, i,
        |             CAST(sum(CAST(floor(x * 1000000.0) AS BIGINT)) AS BIGINT) AS fx,
        |             count(*) AS n
        |      FROM el GROUP BY 1, 2),
        |c AS (SELECT label,
        |             list(round(CAST(fx AS DOUBLE) / 1000000.0 / n, 6) ORDER BY i)
        |               AS cv
        |      FROM s GROUP BY 1)
        |SELECT a.label AS label_a, b.label AS label_b,
        |       round(list_dot_product(a.cv, b.cv)
        |             / (sqrt(list_dot_product(a.cv, a.cv))
        |                * sqrt(list_dot_product(b.cv, b.cv))), 4) AS cos
        |FROM c a JOIN c b ON a.label < b.label""".stripMargin,

    // Distinct user-weeks, week+1 self-join, integer counts.
    "q111_retention" ->
      """WITH uw AS (SELECT DISTINCT user_id,
        |                   epoch_ns(ts) // 604800000000000 AS week
        |            FROM events),
        |act AS (SELECT week, count(*) AS n_active FROM uw GROUP BY 1),
        |ret AS (SELECT a.week, count(*) AS n_ret
        |        FROM uw a JOIN uw b
        |          ON a.user_id = b.user_id AND b.week = a.week + 1
        |        GROUP BY 1)
        |SELECT act.week, act.n_active,
        |       coalesce(ret.n_ret, 0) AS n_retained
        |FROM act LEFT JOIN ret USING (week)""".stripMargin,

    // The id - row_number() trick, replayed verbatim.
    "q104_islands" ->
      """WITH r AS (SELECT user_id, event_id,
        |                  event_id - row_number()
        |                    OVER (PARTITION BY user_id ORDER BY event_id) AS grp
        |           FROM events)
        |SELECT user_id, min(event_id) AS run_start, max(event_id) AS run_end,
        |       count(*) AS run_len
        |FROM r GROUP BY user_id, grp""".stripMargin,

    // Integer-cent band predicate replayed as the plain theta join (fine
    // at oracle scale; the Spark plan is the bucketed equi-join).
    "q120_band_join" ->
      """WITH e AS (SELECT event_type, event_id,
        |                  CAST(round(value * 100) AS BIGINT) AS cents
        |           FROM events)
        |SELECT a.event_type, a.event_id AS id_a, b.event_id AS id_b,
        |       a.cents AS cents_a, b.cents AS cents_b
        |FROM e a JOIN e b
        |  ON a.event_type = b.event_type
        | AND abs(a.cents - b.cents) <= 1
        | AND a.event_id < b.event_id""".stripMargin,

    "q121_gopher_rules" -> {
      val stopList = TF.LangStopwords.toMap.apply("en")
        .map(w => s"'$w'").mkString("[", ",", "]")
      s"""WITH w AS (
         |  SELECT doc_id, text,
         |         $toksSql AS toks,
         |         list_filter(regexp_split_to_array(lower(text), '\\s+'),
         |                     x -> x <> '') AS ltoks,
         |         list_filter(string_split(text, chr(10)),
         |                     l -> trim(l) <> '') AS lines
         |  FROM documents),
         |m AS (
         |  SELECT doc_id,
         |         CAST(len(toks) AS BIGINT) AS n_words,
         |         CAST(coalesce(list_sum(list_transform(toks,
         |              x -> CAST(length(x) AS BIGINT))), 0) AS BIGINT) AS sum_len,
         |         len(string_split(text, '#')) - 1 AS n_hash,
         |         len(regexp_extract_all(text, '\\.\\.\\.')) AS n_ellip,
         |         CAST(len(lines) AS BIGINT) AS n_lines,
         |         len(list_filter(lines,
         |              l -> regexp_matches(trim(l), '^[-*•‣▪]'))) AS n_bullet,
         |         len(list_filter(lines,
         |              l -> regexp_matches(trim(l), '\\.\\.\\.${"$"}'))) AS n_elline,
         |         len(list_filter(toks,
         |              x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
         |         CAST(len(list_intersect(ltoks, $stopList)) AS BIGINT) AS n_stop
         |  FROM w),
         |r AS (
         |  SELECT doc_id, n_words,
         |         round(CASE WHEN n_words > 0
         |               THEN CAST(sum_len AS DOUBLE) / n_words ELSE 0.0 END, 6)
         |           AS mean_word_len,
         |         round(CASE WHEN n_words > 0
         |               THEN CAST(n_hash + n_ellip AS DOUBLE) / n_words
         |               ELSE 0.0 END, 6) AS symbol_ratio,
         |         round(CASE WHEN n_lines > 0
         |               THEN CAST(n_bullet AS DOUBLE) / n_lines
         |               ELSE 0.0 END, 6) AS bullet_ratio,
         |         round(CASE WHEN n_lines > 0
         |               THEN CAST(n_elline AS DOUBLE) / n_lines
         |               ELSE 0.0 END, 6) AS ellipsis_ratio,
         |         round(CASE WHEN n_words > 0
         |               THEN CAST(n_alpha AS DOUBLE) / n_words
         |               ELSE 0.0 END, 6) AS alpha_ratio,
         |         n_stop
         |  FROM m)
         |SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_ratio,
         |       ellipsis_ratio, alpha_ratio, n_stop,
         |       n_words >= 50 AND n_words <= 100000 AS f_word_count,
         |       mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS f_mean_len,
         |       symbol_ratio <= 0.1 AS f_symbol,
         |       bullet_ratio <= 0.9 AS f_bullet,
         |       ellipsis_ratio <= 0.3 AS f_ellipsis,
         |       alpha_ratio >= 0.8 AS f_alpha,
         |       n_stop >= 2 AS f_stop,
         |       (n_words >= 50 AND n_words <= 100000)
         |         AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
         |         AND symbol_ratio <= 0.1 AND bullet_ratio <= 0.9
         |         AND ellipsis_ratio <= 0.3 AND alpha_ratio >= 0.8
         |         AND n_stop >= 2 AS pass
         |FROM r""".stripMargin
    },

    // The unrolled EWMA recursion: power-of-two weights (exact IEEE),
    // per-term floor(·1e6) fixed point, order-exact integer sum.
    "q122_ewma" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) AS t, event_id, value
        |           FROM events),
        |r AS (SELECT user_id, value,
        |             row_number() OVER (PARTITION BY user_id
        |                                ORDER BY t, event_id) AS i,
        |             count(*) OVER (PARTITION BY user_id) AS n
        |      FROM e),
        |f AS (SELECT user_id,
        |             CAST(floor((CASE WHEN i = 1
        |                   THEN value * pow(2.0, -least(1*(n-i), 400))
        |                   ELSE value * CAST(0.5 AS DOUBLE)
        |                        * pow(2.0, -least(1*(n-i), 400)) END)
        |                  * 1000000.0) AS BIGINT) AS fp
        |      FROM r)
        |SELECT user_id, count(*) AS n_events,
        |       CAST(CAST(sum(fp) AS BIGINT) AS DOUBLE) / 1000000.0 AS ewma
        |FROM f GROUP BY user_id""".stripMargin,

    // Exact median/MAD robust z replay (quantile_cont = Spark's
    // interpolated percentile; both rounded 6 dp before use).
    "q123_mad_outliers" ->
      """WITH med AS (SELECT event_type,
        |                    round(quantile_cont(value, 0.5), 6) AS med
        |             FROM events GROUP BY 1),
        |mad AS (SELECT e.event_type,
        |               round(quantile_cont(abs(e.value - m.med), 0.5), 6) AS mad
        |        FROM events e JOIN med m USING (event_type) GROUP BY 1),
        |z AS (SELECT e.event_id, e.event_type, e.value,
        |             round((e.value - m.med)
        |                   / (CAST(1.4826 AS DOUBLE) * d.mad), 4) AS z
        |      FROM events e JOIN med m USING (event_type)
        |      JOIN mad d ON e.event_type = d.event_type AND d.mad > 0)
        |SELECT event_id, event_type, value, z FROM z
        |WHERE abs(z) > 3.0""".stripMargin,

    // q113's row-normalized transition weights -> one power-iteration
    // step: fixed-point in-edge sums, (1-d)/N + d·Σ, all float literals
    // CAST to DOUBLE so DuckDB's decimal literals can't diverge from
    // Spark's binary doubles.
    "q124_pagerank_step" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) AS t, event_id, event_type
        |           FROM events),
        |l AS (SELECT event_type AS to_type,
        |             lag(event_type) OVER (PARTITION BY user_id
        |                                   ORDER BY t, event_id) AS from_type
        |      FROM e),
        |c AS (SELECT from_type, to_type, count(*) AS n FROM l
        |      WHERE from_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS tot FROM c GROUP BY 1),
        |edges AS (SELECT c.from_type, c.to_type, round(c.n / t.tot, 6) AS p
        |          FROM c JOIN t USING (from_type)),
        |nodes AS (SELECT DISTINCT node FROM (
        |            SELECT from_type AS node FROM edges
        |            UNION ALL SELECT to_type FROM edges)),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
        |contrib AS (SELECT to_type AS node,
        |                   CAST(sum(CAST(floor(p * (CAST(1.0 AS DOUBLE) / nn.n)
        |                        * 1000000000000.0) AS BIGINT)) AS BIGINT) AS cin
        |            FROM edges, nn GROUP BY 1)
        |SELECT nodes.node,
        |       round((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
        |             + CAST(0.85 AS DOUBLE)
        |               * (CAST(coalesce(contrib.cin, 0) AS DOUBLE)
        |                  / 1000000000000.0), 6) AS rank
        |FROM nodes LEFT JOIN contrib ON nodes.node = contrib.node, nn""".stripMargin,

    "q125_fertility" ->
      s"""WITH m AS (
         |  SELECT lang,
         |         CAST(len($toksSql) AS BIGINT) AS w,
         |         CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS BIGINT) AS b
         |  FROM documents)
         |SELECT lang, count(*) AS n_docs,
         |       CAST(sum(w) AS BIGINT) AS tot_words,
         |       CAST(sum(b) AS BIGINT) AS tot_tokens,
         |       round(CASE WHEN CAST(sum(w) AS BIGINT) > 0
         |             THEN CAST(CAST(sum(b) AS BIGINT) AS DOUBLE)
         |                  / CAST(sum(w) AS BIGINT)
         |             ELSE 0.0 END, 6) AS fertility
         |FROM m GROUP BY lang""".stripMargin,

    // Band graph on exact fixed-point user totals, then the brute
    // triangle count (the Spark plan is the degree-ordered two-join).
    "q126_triangles" ->
      """WITH u AS (SELECT user_id,
        |                  CAST(sum(CAST(floor(value * 1000) AS BIGINT))
        |                       AS BIGINT) AS v
        |           FROM events GROUP BY 1),
        |e AS (SELECT a.user_id AS ua, b.user_id AS ub
        |      FROM u a JOIN u b
        |        ON abs(a.v - b.v) <= 20000 AND a.user_id < b.user_id),
        |nodes AS (SELECT DISTINCT node FROM (
        |            SELECT ua AS node FROM e UNION ALL SELECT ub FROM e)),
        |tri AS (SELECT count(*) AS n_triangles
        |        FROM e e1 JOIN e e2 ON e1.ub = e2.ua
        |        JOIN e e3 ON e3.ua = e1.ua AND e3.ub = e2.ub)
        |SELECT (SELECT count(*) FROM nodes) AS n_nodes,
        |       (SELECT count(*) FROM e) AS n_edges,
        |       n_triangles
        |FROM tri""".stripMargin,

    // Signature-slot agreement (est) vs true 5-gram Jaccard per
    // consecutive pair; q11's signature replay verbatim.
    "q127_minhash_est" ->
      s"""WITH d AS (SELECT doc_id, ${shinglesSql(5)} AS sh FROM documents
         |           WHERE len(text) >= 5),
         |s AS (SELECT doc_id, sh, $sigSql AS sig FROM d),
         |agree AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |                 CAST(sum(CASE WHEN a.sig[CAST(j+1 AS INT)]
         |                                  = b.sig[CAST(j+1 AS INT)]
         |                          THEN 1 ELSE 0 END) AS BIGINT) AS m
         |          FROM s a JOIN s b ON b.doc_id = a.doc_id + 1,
         |               range(16) t(j)
         |          GROUP BY 1, 2),
         |tj AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |              round(len(list_intersect(a.sh, b.sh))
         |                    / len(list_distinct(list_concat(a.sh, b.sh))), 6)
         |                AS true_jaccard
         |       FROM d a JOIN d b ON b.doc_id = a.doc_id + 1)
         |SELECT agree.doc_a, agree.doc_b,
         |       round(CAST(m AS DOUBLE) / 16.0, 6) AS est_jaccard,
         |       true_jaccard,
         |       round(round(CAST(m AS DOUBLE) / 16.0, 6) - true_jaccard, 6)
         |         AS err
         |FROM agree JOIN tj ON agree.doc_a = tj.doc_a
         |                  AND agree.doc_b = tj.doc_b""".stripMargin,

    // hashAnchors selection replayed (md5 hash order, row_number-1 = code
    // index), sub-distances as ordered folds, argmin by (dist, j).
    "q128_pq" ->
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |           FROM embeddings),
        |anch AS (SELECT e AS a,
        |                row_number() OVER (
        |                  ORDER BY ('0x' || substr(md5('pq:' ||
        |                              CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT
        |                           % 1000000007, vec_id) - 1 AS j
        |         FROM v QUALIFY j < 8),
        |p AS (SELECT v.vec_id, anch.j, s.s,
        |             round(list_reduce(list_prepend(0.0,
        |               list_transform(range(16), d ->
        |                 (v.e[CAST(s.s*16 + d + 1 AS INT)]
        |                  - anch.a[CAST(s.s*16 + d + 1 AS INT)])
        |                 * (v.e[CAST(s.s*16 + d + 1 AS INT)]
        |                    - anch.a[CAST(s.s*16 + d + 1 AS INT)]))),
        |               (x, y) -> x + y), 4) AS dist
        |      FROM v, anch, range(4) s(s)),
        |b AS (SELECT vec_id, s, j, dist,
        |             row_number() OVER (PARTITION BY vec_id, s
        |                                ORDER BY dist, j) AS rn
        |      FROM p)
        |SELECT vec_id,
        |       string_agg(CAST(j AS VARCHAR), ',' ORDER BY s) AS codes,
        |       round(list_reduce(list_prepend(0.0, list(dist ORDER BY s)),
        |                         (x, y) -> x + y), 6) AS err
        |FROM b WHERE rn = 1 GROUP BY vec_id""".stripMargin,

    // q10's quality formula + fixed-point means + share of total tokens.
    "q129_source_mix" ->
      s"""WITH t AS (
         |  SELECT source,
         |         len($toksSql) AS n_tok,
         |         len(text) AS n_chars,
         |         len(regexp_replace(text, '[\\w\\s]', '', 'g')) AS n_punct
         |  FROM documents),
         |t2 AS (SELECT *,
         |         CASE WHEN n_tok > 0 THEN CAST(n_chars AS DOUBLE)/n_tok
         |              ELSE 0.0 END AS avgtok
         |       FROM t),
         |d AS (SELECT source, CAST(n_tok AS BIGINT) AS tok,
         |        CAST(floor(round(least(n_tok/100.0, 1.0)*0.4
         |            + (1.0 - least(n_punct/greatest(n_chars, 1)*5.0, 1.0))*0.3
         |            + (CASE WHEN avgtok >= 3.0 AND avgtok <= 10.0
         |                    THEN 1.0 ELSE 0.0 END)*0.3, 6) * 1000000.0)
         |          AS BIGINT) AS q6
         |      FROM t2),
         |per AS (SELECT source, count(*) AS n_docs,
         |               CAST(sum(tok) AS BIGINT) AS tot_tokens,
         |               CAST(sum(q6) AS BIGINT) AS qsum
         |        FROM d GROUP BY source),
         |tot AS (SELECT CAST(sum(tot_tokens) AS BIGINT) AS T FROM per)
         |SELECT source, n_docs, tot_tokens,
         |       round(CAST(qsum AS DOUBLE) / 1000000.0 / n_docs, 6)
         |         AS mean_quality,
         |       round(tot_tokens / tot.T, 6) AS token_share
         |FROM per, tot""".stripMargin,

    // Integer cross-multiplied running CDFs, one division at the end.
    "q130_ks_test" ->
      """WITH p AS (SELECT value AS v,
        |                  CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a,
        |                  CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS b
        |           FROM events WHERE event_type IN ('click', 'view')),
        |g AS (SELECT v, CAST(sum(a) AS BIGINT) AS ca,
        |             CAST(sum(b) AS BIGINT) AS cb
        |      FROM p GROUP BY v),
        |c AS (SELECT v, CAST(sum(ca) OVER (ORDER BY v) AS BIGINT) AS ra,
        |             CAST(sum(cb) OVER (ORDER BY v) AS BIGINT) AS rb
        |      FROM g),
        |n AS (SELECT CAST(sum(a) AS BIGINT) AS n_a,
        |             CAST(sum(b) AS BIGINT) AS n_b FROM p)
        |SELECT n_a, n_b,
        |       CAST(max(abs(ra * n_b - rb * n_a)) AS BIGINT) AS d_num,
        |       round(CAST(max(abs(ra * n_b - rb * n_a)) AS BIGINT)
        |             / (n_a * n_b), 6) AS ks
        |FROM c, n GROUP BY n_a, n_b""".stripMargin,

    "q131_assoc_rules" ->
      """WITH bi AS (SELECT DISTINCT user_id, event_type FROM events),
        |nb AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS nb FROM bi),
        |ic AS (SELECT event_type, count(*) AS ni FROM bi GROUP BY 1),
        |pr AS (SELECT l.event_type AS x, r.event_type AS y,
        |              count(*) AS n_xy
        |       FROM bi l JOIN bi r
        |         ON l.user_id = r.user_id AND l.event_type < r.event_type
        |       GROUP BY 1, 2)
        |SELECT x, y, ix.ni AS n_x, iy.ni AS n_y, n_xy,
        |       round(n_xy / nb.nb, 6) AS support,
        |       round(n_xy / ix.ni, 6) AS confidence,
        |       round((n_xy * nb.nb) / (ix.ni * iy.ni), 6) AS lift
        |FROM pr JOIN ic ix ON pr.x = ix.event_type
        |JOIN ic iy ON pr.y = iy.event_type, nb""".stripMargin,

    // Rounded per-term contributions summed as DECIMAL(18,6) —
    // order-exact; the decimal cast of a 6dp-rounded double is exact.
    "q132_kl_divergence" ->
      s"""WITH t AS (SELECT source, unnest($toksSql) AS term FROM documents),
         |st AS (SELECT source, term, count(*) AS cst FROM t GROUP BY 1, 2),
         |ctt AS (SELECT term, CAST(sum(cst) AS BIGINT) AS ct FROM st
         |        GROUP BY 1),
         |ns AS (SELECT source, CAST(sum(cst) AS BIGINT) AS ns FROM st
         |       GROUP BY 1),
         |n AS (SELECT CAST(sum(ct) AS BIGINT) AS n FROM ctt),
         |terms AS (SELECT st.source,
         |            CAST(round((CAST(cst AS DOUBLE) / ns.ns)
         |                 * ln((CAST(cst AS DOUBLE) / ns.ns)
         |                      / (CAST(ct AS DOUBLE) / n.n)), 6)
         |              AS DECIMAL(18,6)) AS term6
         |          FROM st JOIN ctt USING (term) JOIN ns USING (source), n)
         |SELECT source, count(*) AS n_terms,
         |       CAST(sum(term6) AS DOUBLE) AS kl
         |FROM terms GROUP BY source""".stripMargin,

    // q54's 5-gram idiom, distinct per source, gram-keyed pair join.
    "q133_overlap_matrix" ->
      """WITH tok AS (SELECT source,
        |                    list_filter(regexp_split_to_array(text, '\s+'),
        |                                x -> x <> '') AS t
        |             FROM documents),
        |ng0 AS (SELECT source, unnest(list_distinct(
        |          list_transform(range(1, greatest(len(t)-4, 0)+1),
        |                         i -> array_to_string(t[i:i+4], ' ')))) AS g
        |        FROM tok),
        |ng AS (SELECT DISTINCT source, g FROM ng0),
        |per AS (SELECT source, count(*) AS n_a FROM ng GROUP BY 1),
        |sh AS (SELECT a.source AS source_a, b.source AS source_b,
        |              count(*) AS shared
        |       FROM ng a JOIN ng b ON a.g = b.g AND a.source < b.source
        |       GROUP BY 1, 2)
        |SELECT source_a, source_b, per.n_a, shared,
        |       round(shared / per.n_a, 6) AS overlap_frac
        |FROM sh JOIN per ON sh.source_a = per.source""".stripMargin,

    // KM replay: reverse-cumulative at-risk, rounded log factors summed
    // in ascending-t window order, explicit zero after any d=n time.
    "q134_survival" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS t FROM events),
        |s0 AS (SELECT user_id, min(t) AS ts0 FROM e
        |       WHERE event_type = 'signup' GROUP BY 1),
        |p0 AS (SELECT user_id, min(t) AS tp FROM e
        |       WHERE event_type = 'purchase' GROUP BY 1),
        |mx AS (SELECT max(t) AS tmax FROM e),
        |du AS (SELECT (CASE WHEN tp IS NOT NULL AND tp >= ts0
        |                    THEN tp - ts0 ELSE tmax - ts0 END)
        |               // 86400000000000 AS t,
        |              CASE WHEN tp IS NOT NULL AND tp >= ts0
        |                   THEN 1 ELSE 0 END AS ev
        |       FROM s0 LEFT JOIN p0 USING (user_id), mx),
        |byt AS (SELECT t, count(*) AS m, CAST(sum(ev) AS BIGINT) AS d
        |        FROM du GROUP BY 1),
        |rk AS (SELECT t, d,
        |              CAST(sum(m) OVER (ORDER BY t DESC) AS BIGINT) AS n
        |       FROM byt),
        |evt AS (SELECT t, n, d,
        |          CASE WHEN d < n
        |               THEN round(ln(CAST(1.0 AS DOUBLE)
        |                             - CAST(d AS DOUBLE) / n), 6)
        |               ELSE 0.0 END AS lf,
        |          CASE WHEN d = n THEN 1 ELSE 0 END AS zf
        |        FROM rk WHERE d > 0)
        |SELECT t, n AS n_risk, d,
        |       CASE WHEN CAST(sum(zf) OVER (ORDER BY t) AS BIGINT) > 0
        |            THEN 0.0
        |            ELSE round(exp(sum(lf) OVER (ORDER BY t)), 6) END AS surv
        |FROM evt""".stripMargin,

    // Exact rounded clip bounds, fixed-point winsorized mean.
    "q135_winsorized" ->
      """WITH pct AS (SELECT event_type,
        |                    round(quantile_cont(value, 0.05), 6) AS plo,
        |                    round(quantile_cont(value, 0.95), 6) AS phi
        |             FROM events GROUP BY 1),
        |c AS (SELECT e.event_type,
        |             CAST(floor(least(greatest(e.value, plo), phi)
        |                        * 1000000.0) AS BIGINT) AS fp,
        |             plo, phi
        |      FROM events e JOIN pct USING (event_type))
        |SELECT event_type, count(*) AS n, min(plo) AS p_lo, min(phi) AS p_hi,
        |       round((CAST(CAST(sum(fp) AS BIGINT) AS DOUBLE) / 1000000.0)
        |             / count(*), 6) AS wmean
        |FROM c GROUP BY event_type""".stripMargin,

    // q72's register/estimator replay, grouped by event type (p=6).
    "q136_hll_grouped" -> {
      val m = 64
      val est0 = graft.functions.Sketches.hllAlpha(m) * m * m
      s"""WITH u AS (SELECT event_type, CAST(user_id AS VARCHAR) AS u
         |           FROM events),
         |h AS (SELECT event_type,
         |             ('0x' || substr(md5('hll:q136:' || u),1,15))::BIGINT AS h
         |      FROM u),
         |rr AS (SELECT event_type, h % $m AS register,
         |              CASE WHEN (h >> 6) = 0 THEN 55
         |                   ELSE 55 - length(bin(h >> 6)) END AS rho
         |       FROM h),
         |regs AS (SELECT event_type, register, max(rho) AS rho FROM rr
         |         GROUP BY 1, 2),
         |ks AS (SELECT DISTINCT event_type FROM u),
         |allr AS (SELECT ks.event_type, r AS register,
         |                coalesce(regs.rho, 0) AS rho
         |         FROM ks CROSS JOIN range($m) t(r)
         |         LEFT JOIN regs ON regs.event_type = ks.event_type
         |                       AND regs.register = r),
         |agg AS (SELECT event_type,
         |               list(pow(2.0, -rho) ORDER BY register) AS hs,
         |               CAST(sum(CASE WHEN rho = 0 THEN 1 ELSE 0 END)
         |                    AS BIGINT) AS n_zero
         |        FROM allr GROUP BY 1),
         |f AS (SELECT event_type,
         |             list_reduce(list_prepend(0.0, hs), (a, b) -> a + b)
         |               AS hsum, n_zero FROM agg),
         |ex AS (SELECT event_type, CAST(count(DISTINCT u) AS BIGINT)
         |                AS exact_distinct
         |       FROM u GROUP BY 1)
         |SELECT f.event_type, $m AS m, n_zero,
         |       round(CASE WHEN $est0 / hsum <= ${2.5 * m} AND n_zero > 0
         |                  THEN ${m.toDouble} * ln(${m.toDouble} / n_zero)
         |                  ELSE $est0 / hsum END, 6) AS est,
         |       exact_distinct
         |FROM f JOIN ex USING (event_type)""".stripMargin
    },

    // Brute cosine replay over the 10% hash-sampled query side (full-probe
    // IVF == brute, q27's equivalence), k=5, rolled to per-query agreement.
    "q137_label_agreement" ->
      s"""WITH c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |qs AS (SELECT * FROM c
        |       WHERE ${hSql("'q137:' || CAST(vec_id AS VARCHAR)")} % 1000 < 100),
        |s AS (SELECT a.vec_id AS q_id, a.label AS q_label,
        |             b.vec_id, b.label AS n_label,
        |             round(list_dot_product(a.v, b.v)
        |                   / (sqrt(list_dot_product(a.v, a.v))
        |                      * sqrt(list_dot_product(b.v, b.v))), 4) AS sim
        |      FROM qs a JOIN c b ON a.vec_id <> b.vec_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
        |                                   ORDER BY sim DESC, vec_id) AS rank
        |      FROM s)
        |SELECT q_id AS vec_id, q_label AS label,
        |       count(*) AS n_neighbors,
        |       CAST(sum(CASE WHEN n_label = q_label THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_agree,
        |       round(CAST(sum(CASE WHEN n_label = q_label THEN 1 ELSE 0 END)
        |                  AS BIGINT) / count(*), 6) AS agreement
        |FROM r WHERE rank <= 5 GROUP BY 1, 2""".stripMargin,

    // q46's clusters replay rolled to the size histogram.
    "q138_cluster_sizes" ->
      s"""WITH clusters AS ($q46ClustersSql),
         |sz AS (SELECT rep, count(*) AS s FROM clusters GROUP BY rep)
         |SELECT s AS cluster_size, count(*) AS n_clusters
         |FROM sz GROUP BY s""".stripMargin,

    // Exact all-pairs replay of the prefix-filtered join: the threshold
    // gates the same unrounded IEEE division on both engines.
    "q139_jaccard_join" ->
      s"""WITH tok AS (SELECT doc_id, unnest(list_distinct($toksSql)) AS t
         |             FROM documents WHERE doc_id % 10 = 0),
         |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS s
         |       FROM tok GROUP BY 1),
         |pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |              CAST(count(*) AS BIGINT) AS inter
         |       FROM tok a JOIN tok b ON a.t = b.t AND a.doc_id < b.doc_id
         |       GROUP BY 1, 2)
         |SELECT id_a, id_b, sa.s AS size_a, sb.s AS size_b, inter,
         |       round(CAST(inter AS DOUBLE) / (sa.s + sb.s - inter), 6)
         |         AS jaccard
         |FROM pr JOIN sz sa ON id_a = sa.doc_id
         |        JOIN sz sb ON id_b = sb.doc_id
         |WHERE CAST(inter AS DOUBLE) / (sa.s + sb.s - inter) >= 0.5""".stripMargin,

    // Containment replay: the window survivors are exactly the rows with
    // no (s' <= s, e' >= e) peer under the smaller-id tie rule.
    "q140_max_intervals" ->
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
        |         OR r2.o_orderkey < r1.o_orderkey))""".stripMargin,

    // q108's HUGEINT moment discipline, OLS closed form.
    "q141_regression" ->
      """WITH p AS (SELECT event_type,
        |                  CAST(epoch_us(ts) // 86400000000 AS HUGEINT) AS x,
        |                  CAST(CAST(floor(value * 1000) AS BIGINT) AS HUGEINT)
        |                    AS y
        |           FROM events),
        |m AS (SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
        |             sum(x) AS sx, sum(y) AS sy, sum(x*y) AS sxy,
        |             sum(x*x) AS sxx, sum(y*y) AS syy
        |      FROM p GROUP BY 1)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |       CASE WHEN CAST(n*sxx - sx*sx AS DOUBLE) > 0.0
        |            THEN round(CAST(n*sxy - sx*sy AS DOUBLE)
        |                       / CAST(n*sxx - sx*sx AS DOUBLE), 6)
        |       END AS slope,
        |       CASE WHEN CAST(n*sxx - sx*sx AS DOUBLE) > 0.0
        |            THEN round((CAST(sy AS DOUBLE)
        |                        - (CAST(n*sxy - sx*sy AS DOUBLE)
        |                           / CAST(n*sxx - sx*sx AS DOUBLE))
        |                          * CAST(sx AS DOUBLE))
        |                       / CAST(n AS DOUBLE), 6)
        |       END AS intercept,
        |       CASE WHEN CAST(n*sxx - sx*sx AS DOUBLE) > 0.0
        |             AND CAST(n*syy - sy*sy AS DOUBLE) > 0.0
        |            THEN round(CAST(n*sxy - sx*sy AS DOUBLE)
        |                       * CAST(n*sxy - sx*sy AS DOUBLE)
        |                       / (CAST(n*sxx - sx*sx AS DOUBLE)
        |                          * CAST(n*syy - sy*sy AS DOUBLE)), 6)
        |       END AS r2
        |FROM m""".stripMargin,

    // q80's bit-exact score replay feeding the integer Mann-Whitney sum.
    "q142_roc_auc" -> {
      val half = TF.HashMod / 2L
      s"""WITH t AS (
         |  SELECT lang,
         |         list_filter(regexp_split_to_array(lower(text), '\\s+'),
         |                     x -> x <> '') AS toks
         |  FROM documents),
         |sc AS (
         |  SELECT lang, len(toks) AS ntok,
         |         CAST(coalesce(list_sum(list_transform(toks, tok ->
         |           ((${hSql("'q80:' || tok")} % 64) * 2654435761)
         |             % ${TF.HashMod} - $half)), 0) AS BIGINT) AS raw
         |  FROM t),
         |p AS (SELECT round(1.0 / (1.0 + exp(-(0.0 + 4.0 *
         |        (CASE WHEN ntok > 0
         |              THEN raw / (CAST(ntok AS DOUBLE) * $half.0)
         |              ELSE 0.0 END)))), 6) AS s,
         |        CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
         |      FROM sc),
         |g AS (SELECT s, CAST(sum(pos) AS BIGINT) AS cp,
         |             CAST(sum(1 - pos) AS BIGINT) AS cq
         |      FROM p GROUP BY 1),
         |c AS (SELECT s, cp, cq,
         |             CAST(coalesce(sum(cq) OVER (ORDER BY s
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |               AS BIGINT) AS cneg
         |      FROM g),
         |tot AS (SELECT CAST(sum(pos) AS BIGINT) AS np,
         |               CAST(sum(1 - pos) AS BIGINT) AS nn FROM p)
         |SELECT np AS n_pos, nn AS n_neg,
         |       round(CAST(sum(cp * (2 * cneg + cq)) AS DOUBLE)
         |             / (2.0 * np * nn), 6) AS auc
         |FROM c, tot GROUP BY np, nn""".stripMargin
    },

    // Per-key counts -> one profile row; quantile_cont = Spark's exact
    // interpolated percentile (the q89 discipline).
    "q143_skew_profile" ->
      """WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS c
        |           FROM events GROUP BY 1),
        |a AS (SELECT CAST(sum(c) AS BIGINT) AS n_rows,
        |             CAST(count(*) AS BIGINT) AS n_keys,
        |             CAST(max(c) AS BIGINT) AS max_cnt,
        |             round(quantile_cont(c, 0.5), 6) AS p50_cnt,
        |             round(quantile_cont(c, 0.99), 6) AS p99_cnt
        |      FROM c)
        |SELECT n_rows, n_keys, max_cnt, p50_cnt, p99_cnt,
        |       round(CAST(n_rows AS DOUBLE) / n_keys, 6) AS avg_cnt,
        |       round(CAST(max_cnt AS DOUBLE) * n_keys / n_rows, 6) AS skew
        |FROM a""".stripMargin,

    // Same canonical form (DuckDB regexp_replace needs the 'g' flag to
    // match Spark's replace-all default), 60-bit md5 group id.
    "q144_norm_dedup" ->
      """WITH n AS (SELECT doc_id AS id,
        |                  trim(regexp_replace(regexp_replace(lower(text),
        |                    '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS nm
        |           FROM documents),
        |g AS (SELECT nm, CAST(count(*) AS BIGINT) AS group_n,
        |             min(id) AS mn
        |      FROM n GROUP BY 1)
        |SELECT id, ('0x' || substr(md5(nm), 1, 15))::BIGINT AS group_id,
        |       group_n, (id = mn) AS keep
        |FROM n JOIN g USING (nm)""".stripMargin,

    "q145_copurchase" ->
      """WITH bi AS (SELECT DISTINCT l_orderkey AS bk, l_partkey AS it
        |            FROM lineitem),
        |nb AS (SELECT CAST(count(DISTINCT bk) AS BIGINT) AS nb FROM bi),
        |ic AS (SELECT it, CAST(count(*) AS BIGINT) AS ni FROM bi GROUP BY 1),
        |pr AS (SELECT l.it AS item_a, r.it AS item_b,
        |              CAST(count(*) AS BIGINT) AS n_ab
        |       FROM bi l JOIN bi r ON l.bk = r.bk AND l.it < r.it
        |       GROUP BY 1, 2)
        |SELECT item_a, item_b, ia.ni AS n_a, ib.ni AS n_b, n_ab,
        |       round(n_ab / sqrt(CAST(ia.ni * ib.ni AS DOUBLE)), 6) AS cosine,
        |       round(n_ab / (ia.ni + ib.ni - n_ab), 6) AS jaccard,
        |       round((n_ab * nb.nb) / (ia.ni * ib.ni), 6) AS lift
        |FROM pr JOIN ic ia ON item_a = ia.it
        |        JOIN ic ib ON item_b = ib.it, nb
        |WHERE n_ab >= 2""".stripMargin,

    // All ten HUGEINT moment sums in one aggregate; ten closed-form rows.
    "q146_cov_matrix" -> {
      val cols = Seq("qty", "price_c", "disc_c", "tax_c")
      val pairs = for (i <- cols.indices; j <- i until cols.length)
        yield (cols(i), cols(j))
      val moments = cols.map(c => s"sum($c) AS s_$c") ++
        pairs.map { case (a, b) => s"sum($a*$b) AS s_${a}_$b" }
      val rows = pairs.map { case (a, b) =>
        s"""SELECT '$a' AS col_x, '$b' AS col_y, CAST(n AS BIGINT) AS n,
           |       CASE WHEN n >= 2
           |            THEN round(CAST(n*s_${a}_$b - s_$a*s_$b AS DOUBLE)
           |                       / CAST(n*(n-1) AS DOUBLE), 6)
           |       END AS cov FROM m""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH p AS (SELECT CAST(l_quantity AS HUGEINT) AS qty,
         |                  CAST(CAST(floor(l_extendedprice * 100) AS BIGINT)
         |                    AS HUGEINT) AS price_c,
         |                  CAST(CAST(floor(l_discount * 100) AS BIGINT)
         |                    AS HUGEINT) AS disc_c,
         |                  CAST(CAST(floor(l_tax * 100) AS BIGINT)
         |                    AS HUGEINT) AS tax_c
         |           FROM lineitem),
         |m AS (SELECT CAST(count(*) AS HUGEINT) AS n,
         |             ${moments.mkString(",\n             ")}
         |      FROM p)
         |$rows""".stripMargin
    },

    "q147_exact_quantiles" -> {
      val rows = Seq(0.01, 0.25, 0.5, 0.75, 0.99).map { q =>
        s"""SELECT CAST($q AS DOUBLE) AS q,
           |       round(quantile_cont(value, $q), 6) AS val FROM v""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH v AS (SELECT value FROM events WHERE value IS NOT NULL)
         |$rows""".stripMargin
    },

    // Exact HUGEINT moments; every double op mirrors the Scala tree.
    "q148_welch_t" ->
      """WITH p AS (SELECT event_type,
        |                  CAST(CAST(floor(value*1000) AS BIGINT) AS HUGEINT)
        |                    AS x
        |           FROM events WHERE event_type IN ('click', 'view')),
        |m AS (SELECT CAST(sum(CASE WHEN event_type='click' THEN 1 ELSE 0 END)
        |               AS BIGINT) AS na,
        |             CAST(sum(CASE WHEN event_type='view' THEN 1 ELSE 0 END)
        |               AS BIGINT) AS nb,
        |             sum(CASE WHEN event_type='click' THEN x ELSE 0 END) AS sa,
        |             sum(CASE WHEN event_type='view' THEN x ELSE 0 END) AS sb,
        |             sum(CASE WHEN event_type='click' THEN x*x ELSE 0 END) AS qa,
        |             sum(CASE WHEN event_type='view' THEN x*x ELSE 0 END) AS qb
        |      FROM p),
        |v AS (SELECT na, nb,
        |             CAST(sa AS DOUBLE) / na AS ma,
        |             CAST(sb AS DOUBLE) / nb AS mb,
        |             CAST(na*qa - sa*sa AS DOUBLE)
        |               / CAST(na*(na-1) AS DOUBLE) AS va,
        |             CAST(nb*qb - sb*sb AS DOUBLE)
        |               / CAST(nb*(nb-1) AS DOUBLE) AS vb
        |      FROM m),
        |s AS (SELECT *, va/na + vb/nb AS se2 FROM v)
        |SELECT na AS n_a, nb AS n_b,
        |       round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
        |       CASE WHEN na >= 2 AND nb >= 2 AND se2 > 0.0
        |            THEN round((ma - mb) / sqrt(se2), 6) END AS t,
        |       CASE WHEN na >= 2 AND nb >= 2 AND se2 > 0.0
        |            THEN round(se2 * se2
        |                       / ((va/na)*(va/na)/(na-1.0)
        |                          + (vb/nb)*(vb/nb)/(nb-1.0)), 6)
        |       END AS df
        |FROM s""".stripMargin,

    // First digit of integer cents via integer-to-string (exact on both
    // engines); Benford p_d embedded as shortest-round-trip literals.
    "q149_benford" -> {
      val digits = (1 to 9).map { d =>
        s"SELECT $d AS digit, CAST(${math.log10(1.0 + 1.0 / d)} AS DOUBLE) AS p"
      }.mkString("\nUNION ALL ")
      s"""WITH c0 AS (SELECT CAST(floor(abs(l_extendedprice) * 100) AS BIGINT)
         |              AS m
         |            FROM lineitem),
         |c AS (SELECT CAST(substr(CAST(m AS VARCHAR), 1, 1) AS INT) AS digit,
         |             CAST(count(*) AS BIGINT) AS nd
         |      FROM c0 WHERE m > 0 GROUP BY 1),
         |n AS (SELECT CAST(sum(nd) AS BIGINT) AS n FROM c),
         |d AS ($digits)
         |SELECT d.digit, coalesce(c.nd, 0) AS n_d,
         |       round(coalesce(c.nd, 0) / n.n, 6) AS obs_frac,
         |       round(d.p, 6) AS benford_p,
         |       round((coalesce(c.nd, 0) - n.n * d.p)
         |             * (coalesce(c.nd, 0) - n.n * d.p) / (n.n * d.p), 6)
         |         AS chi2_term
         |FROM d LEFT JOIN c ON d.digit = c.digit, n""".stripMargin
    },

    // Integer-exact replay: HUGEINT floor-div mean, nearest-rank values
    // at ceil(q·n) — no interpolated double ever exists on either engine.
    "q150_event_gaps" ->
      """WITH ev AS (SELECT user_id, event_type, event_id,
        |                   epoch_us(ts) AS t
        |            FROM events),
        |g0 AS (SELECT event_type,
        |              t - lag(t) OVER (PARTITION BY user_id
        |                               ORDER BY t, event_id) AS gap_us
        |       FROM ev),
        |g AS (SELECT event_type, gap_us FROM g0 WHERE gap_us IS NOT NULL),
        |a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
        |             CAST((CAST(sum(gap_us) AS HUGEINT) * 1000000) // count(*)
        |                  AS BIGINT) AS mean_us_e6
        |      FROM g GROUP BY 1),
        |r AS (SELECT event_type, gap_us,
        |             row_number() OVER (PARTITION BY event_type
        |                                ORDER BY gap_us) AS rn,
        |             count(*) OVER (PARTITION BY event_type) AS n
        |      FROM g),
        |p50 AS (SELECT event_type, gap_us AS p50_us FROM r
        |        WHERE rn = (n * 50 + 99) // 100),
        |p95 AS (SELECT event_type, gap_us AS p95_us FROM r
        |        WHERE rn = (n * 95 + 99) // 100)
        |SELECT a.event_type, a.n_gaps, a.mean_us_e6, p50.p50_us, p95.p95_us
        |FROM a JOIN p50 USING (event_type) JOIN p95 USING (event_type)""".stripMargin,

    // q29's session replay rolled to the length histogram.
    "q151_session_hist" ->
      """WITH ev AS (SELECT user_id, event_id, epoch_ns(ts) AS t FROM events),
        |l AS (SELECT user_id, event_id, t,
        |             lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id)
        |               AS prev
        |      FROM ev),
        |s AS (SELECT user_id, t,
        |             sum(CASE WHEN prev IS NULL OR t - prev > 1800000000000
        |                      THEN 1 ELSE 0 END)
        |               OVER (PARTITION BY user_id ORDER BY t, event_id
        |                     ROWS UNBOUNDED PRECEDING) AS session
        |      FROM l),
        |sess AS (SELECT user_id, session, min(t) AS ss, max(t) AS se,
        |                CAST(count(*) AS BIGINT) AS n_events
        |         FROM s GROUP BY 1, 2)
        |SELECT n_events, CAST(count(*) AS BIGINT) AS n_sessions,
        |       round(CAST(sum(se - ss) AS DOUBLE) / count(*), 6)
        |         AS mean_dur_ns
        |FROM sess GROUP BY 1""".stripMargin,

    // Full composition replay: q15's brute truth and q16's LSH ranking as
    // CTEs, intersected per query, missing queries kept at zero recall.
    "q152_ann_recall" -> {
      val code = (v: String) => signCodeSql(v, Similarity.randomPlanes(8, 64))
      s"""WITH q0 AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
         |            FROM embeddings WHERE vec_id % 100 = 0),
         |c0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |bs AS (SELECT q_id, vec_id,
         |              round(list_dot_product(v, qv)
         |                    / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 4) AS sim
         |       FROM c0, q0 WHERE vec_id <> q_id),
         |br AS (SELECT q_id, vec_id FROM (
         |         SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank
         |         FROM bs) WHERE rank <= 10),
         |qc AS (SELECT q_id, qv, ${code("qv")} AS lcode FROM q0),
         |cc AS (SELECT vec_id, v, ${code("v")} AS lcode FROM c0),
         |ls AS (SELECT q_id, vec_id,
         |              round(list_dot_product(v, qv)
         |                    / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 4) AS sim
         |       FROM cc JOIN qc USING (lcode) WHERE vec_id <> q_id),
         |lr AS (SELECT q_id, vec_id FROM (
         |         SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank
         |         FROM ls) WHERE rank <= 10),
         |h AS (SELECT q_id, CAST(count(*) AS BIGINT) AS hits
         |      FROM br JOIN lr USING (q_id, vec_id) GROUP BY 1)
         |SELECT q0.q_id, COALESCE(h.hits, 0) AS hits,
         |       round(CAST(COALESCE(h.hits, 0) AS DOUBLE) / 10, 6) AS recall
         |FROM q0 LEFT JOIN h USING (q_id)""".stripMargin
    },

    // Contingency replay: expected counts as double·double/double in the
    // same op order, per-cell terms rounded 6 dp, DECIMAL(18,6) sum.
    "q153_chi2" ->
      """WITH cells AS (SELECT lang AS a, source AS b,
        |                      CAST(count(*) AS BIGINT) AS o
        |               FROM documents
        |               WHERE lang IS NOT NULL AND source IS NOT NULL
        |               GROUP BY 1, 2),
        |rt AS (SELECT a, CAST(sum(o) AS BIGINT) AS ra FROM cells GROUP BY 1),
        |ct AS (SELECT b, CAST(sum(o) AS BIGINT) AS cb FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
        |               CAST(count(DISTINCT a) AS BIGINT) AS r,
        |               CAST(count(DISTINCT b) AS BIGINT) AS c FROM cells),
        |ex AS (SELECT n, r, c, o,
        |              CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(n AS DOUBLE) AS e
        |       FROM cells JOIN rt USING (a) JOIN ct USING (b) CROSS JOIN tot),
        |t AS (SELECT n, r, c,
        |             CAST(round((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e, 6)
        |                  AS DECIMAL(18,6)) AS term
        |      FROM ex)
        |SELECT n, r AS n_a, c AS n_b, CAST((r-1)*(c-1) AS BIGINT) AS dof,
        |       CAST(sum(term) AS DOUBLE) AS chi2,
        |       CASE WHEN (r-1)*(c-1) > 0 THEN
        |         round(sqrt(CAST(sum(term) AS DOUBLE) /
        |               (CAST(n AS DOUBLE) * CAST(least(r-1, c-1) AS DOUBLE))), 6)
        |       END AS cramers_v
        |FROM t GROUP BY n, r, c""".stripMargin,

    // Word-frequency-weighted adjacent symbol pairs, replayed over the
    // vocab; pairs travel as 'a b' strings (symbols never contain spaces).
    "q154_bpe_pairs" ->
      """WITH w0 AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+', 0)) AS w
        |            FROM documents),
        |v AS (SELECT w, CAST(count(*) AS BIGINT) AS f FROM w0 GROUP BY 1),
        |sy AS (SELECT f, list_concat(list_transform(range(1, length(w) + 1),
        |                                            i -> substr(w, i, 1)),
        |                             ['</w>']) AS s
        |       FROM v),
        |p0 AS (SELECT f, unnest(list_transform(range(1, len(s)),
        |                        i -> s[i] || ' ' || s[i + 1])) AS pr
        |       FROM sy),
        |g AS (SELECT split_part(pr, ' ', 1) AS pair_a,
        |             split_part(pr, ' ', 2) AS pair_b,
        |             CAST(sum(f) AS BIGINT) AS cnt
        |      FROM p0 GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (ORDER BY cnt DESC, pair_a, pair_b) AS rank
        |      FROM g)
        |SELECT pair_a, pair_b, cnt, CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank <= 20""".stripMargin,

    // Blocking + verify replay; byte-based vs code-point levenshtein agree
    // on this ASCII corpus (pinned by the entry comment).
    "q155_fuzzy_pairs" ->
      """WITH p AS (SELECT doc_id AS id, substr(text, 1, 40) AS s,
        |                  substr(text, 1, 12) AS blk
        |           FROM documents WHERE text IS NOT NULL)
        |SELECT a.id AS id_a, b.id AS id_b,
        |       CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
        |FROM p AS a JOIN p AS b ON a.blk = b.blk
        |WHERE a.id < b.id AND abs(length(a.s) - length(b.s)) <= 2
        |  AND levenshtein(a.s, b.s) <= 2""".stripMargin,

    // Pure integer bit-interleave replay (mask, shift, or).
    "q156_zorder" -> {
      val mask = (1L << 20) - 1
      val zTerms = (0 until 20).map(i =>
        s"((((user_id & $mask) & ${1L << i}) << $i) | " +
          s"(((d & $mask) & ${1L << i}) << ${i + 1}))")
        .mkString("(", " |\n         ", ")")
      s"""WITH ev AS (SELECT event_id, user_id,
         |                   epoch_us(ts) // 86400000000 AS d
         |            FROM events)
         |SELECT event_id, user_id, d AS day,
         |       $zTerms AS z
         |FROM ev""".stripMargin
    },

    // Per-user touch↔conversion pairing, U-shaped credits rounded 6 dp,
    // DECIMAL channel rollup (float literals CAST to DOUBLE — DuckDB
    // parses bare float literals as DECIMAL).
    "q157_attribution" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS t
        |           FROM events),
        |tc AS (SELECT t.event_type AS channel, t.t AS tt,
        |              t.event_id AS tie, c.event_id AS cid, c.user_id
        |       FROM e t JOIN e c ON t.user_id = c.user_id
        |       WHERE c.event_type = 'purchase'
        |         AND t.event_type IN ('click', 'view')
        |         AND t.t >= c.t - 604800000000 AND t.t < c.t),
        |p AS (SELECT channel, user_id, cid,
        |             row_number() OVER (PARTITION BY user_id, cid
        |                                ORDER BY tt, tie) AS pos,
        |             count(*) OVER (PARTITION BY user_id, cid) AS n
        |      FROM tc),
        |cr AS (SELECT channel, user_id, cid,
        |              CAST(round(CASE
        |                WHEN n = 1 THEN CAST(1.0 AS DOUBLE)
        |                WHEN n = 2 THEN CAST(0.5 AS DOUBLE)
        |                WHEN pos = 1 OR pos = n THEN CAST(0.4 AS DOUBLE)
        |                ELSE CAST(0.2 AS DOUBLE) / (CAST(n AS DOUBLE) - 2.0)
        |              END, 6) AS DECIMAL(18,6)) AS credit
        |       FROM p)
        |SELECT channel, CAST(count(*) AS BIGINT) AS n_touches,
        |       CAST(count(DISTINCT (user_id, cid)) AS BIGINT) AS n_conversions,
        |       CAST(sum(credit) AS DOUBLE) AS credit
        |FROM cr GROUP BY 1""".stripMargin,

    // q153's contingency replay with information terms: 6 dp-rounded ln
    // terms, DECIMAL(18,6) sums, one final normalization.
    "q158_mutual_info" ->
      """WITH cells AS (SELECT lang AS a, source AS b,
        |                      CAST(count(*) AS BIGINT) AS o
        |               FROM documents
        |               WHERE lang IS NOT NULL AND source IS NOT NULL
        |               GROUP BY 1, 2),
        |rt AS (SELECT a, CAST(sum(o) AS BIGINT) AS ra FROM cells GROUP BY 1),
        |ct AS (SELECT b, CAST(sum(o) AS BIGINT) AS cb FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
        |ha AS (SELECT sum(CAST(round(
        |                 -(CAST(ra AS DOUBLE) / CAST(n AS DOUBLE)) *
        |                  ln(CAST(ra AS DOUBLE) / CAST(n AS DOUBLE)), 6)
        |               AS DECIMAL(18,6))) AS ha
        |       FROM rt CROSS JOIN tot),
        |hb AS (SELECT sum(CAST(round(
        |                 -(CAST(cb AS DOUBLE) / CAST(n AS DOUBLE)) *
        |                  ln(CAST(cb AS DOUBLE) / CAST(n AS DOUBLE)), 6)
        |               AS DECIMAL(18,6))) AS hb
        |       FROM ct CROSS JOIN tot),
        |mi AS (SELECT n, sum(CAST(round(
        |                 (CAST(o AS DOUBLE) / CAST(n AS DOUBLE)) *
        |                 ln(CAST(o AS DOUBLE) * CAST(n AS DOUBLE) /
        |                    (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE))), 6)
        |               AS DECIMAL(18,6))) AS mi
        |       FROM cells JOIN rt USING (a) JOIN ct USING (b) CROSS JOIN tot
        |       GROUP BY n)
        |SELECT n, CAST(mi AS DOUBLE) AS mi,
        |       CAST(ha AS DOUBLE) AS h_a, CAST(hb AS DOUBLE) AS h_b,
        |       CASE WHEN CAST(ha AS DOUBLE) > 0 AND CAST(hb AS DOUBLE) > 0
        |            THEN round(CAST(mi AS DOUBLE) /
        |                       sqrt(CAST(ha AS DOUBLE) * CAST(hb AS DOUBLE)), 6)
        |       END AS nmi
        |FROM mi CROSS JOIN ha CROSS JOIN hb""".stripMargin,

    // Co-purchase edges (basket pair explode), both-direction tallies,
    // (weight desc, label asc) argmax, isolated parts keep their brand.
    "q159_label_prop" ->
      """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (SELECT a.l_partkey AS src, b.l_partkey AS dst,
        |             CAST(count(*) AS BIGINT) AS w
        |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |                         AND a.l_partkey < b.l_partkey
        |      GROUP BY 1, 2),
        |d AS (SELECT src AS u, dst AS v, w FROM e
        |      UNION ALL SELECT dst, src, w FROM e),
        |t AS (SELECT d.u, p.p_brand AS nl, CAST(sum(d.w) AS BIGINT) AS tw
        |      FROM d JOIN part p ON d.v = p.p_partkey GROUP BY 1, 2),
        |wn AS (SELECT u, nl FROM (
        |         SELECT *, row_number() OVER (PARTITION BY u
        |                                      ORDER BY tw DESC, nl) AS r
        |         FROM t) WHERE r = 1)
        |SELECT p.p_partkey AS node, COALESCE(wn.nl, p.p_brand) AS label,
        |       p.p_brand AS prev_label
        |FROM part p LEFT JOIN wn ON wn.u = p.p_partkey""".stripMargin,

    // q80's bit-exact score replay bucketed to the reliability diagram;
    // fixed-point mean (6 dp scores ⇒ round(s·1e6) is an exact integer).
    "q160_calibration" -> {
      val half = TF.HashMod / 2L
      s"""WITH t AS (
         |  SELECT lang,
         |         list_filter(regexp_split_to_array(lower(text), '\\s+'),
         |                     x -> x <> '') AS toks
         |  FROM documents),
         |s AS (
         |  SELECT lang, len(toks) AS ntok,
         |         CAST(coalesce(list_sum(list_transform(toks, tok ->
         |           ((${hSql("'q80:' || tok")} % 64) * 2654435761)
         |             % ${TF.HashMod} - $half)), 0) AS BIGINT) AS raw
         |  FROM t),
         |sc AS (
         |  SELECT lang,
         |         round(1.0 / (1.0 + exp(-(0.0 + 4.0 *
         |           (CASE WHEN ntok > 0
         |                 THEN raw / (CAST(ntok AS DOUBLE) * $half.0)
         |                 ELSE 0.0 END)))), 6) AS score
         |  FROM s),
         |b AS (
         |  SELECT greatest(least(CAST(floor(score * 10) AS BIGINT), 9), 0) AS bin,
         |         CAST(round(score * 1e6, 0) AS DECIMAL(38,0)) AS fx,
         |         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
         |  FROM sc)
         |SELECT bin, CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(y) AS BIGINT) AS n_pos,
         |       round(CAST(sum(fx) AS DOUBLE) /
         |             (CAST(count(*) AS DOUBLE) * 1e6), 6) AS mean_score,
         |       round(CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
         |         AS pos_rate
         |FROM b GROUP BY 1""".stripMargin
    },

    // Exact HUGEINT moments mirror the DECIMAL(38,0) sums; θ and the
    // adjusted means run the identical double tree.
    "q161_cuped" ->
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS t,
        |                   CAST(floor(value * 1000) AS BIGINT) AS mv
        |            FROM events),
        |u AS (SELECT user_id,
        |             CAST(sum(CASE WHEN t < 1705363200000000 THEN mv ELSE 0 END) AS HUGEINT) AS pre,
        |             CAST(sum(CASE WHEN t >= 1705363200000000 THEN mv ELSE 0 END) AS HUGEINT) AS post,
        |             CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS arm
        |      FROM ev GROUP BY 1),
        |p AS (SELECT CAST(count(*) AS HUGEINT) AS n, sum(pre) AS sx,
        |             sum(post) AS sy, sum(pre * post) AS sxy,
        |             sum(pre * pre) AS sxx
        |      FROM u),
        |s AS (SELECT CASE WHEN CAST(n*sxx - sx*sx AS DOUBLE) > 0
        |                  THEN CAST(n*sxy - sx*sy AS DOUBLE)
        |                       / CAST(n*sxx - sx*sx AS DOUBLE)
        |                  ELSE CAST(0 AS DOUBLE) END AS theta,
        |             CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS xbar
        |      FROM p),
        |a AS (SELECT arm, CAST(count(*) AS BIGINT) AS n,
        |             sum(post) AS ay, sum(pre) AS ax
        |      FROM u GROUP BY 1)
        |SELECT arm, n, round(CAST(ay AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean,
        |       round(CAST(ay AS DOUBLE) / CAST(n AS DOUBLE)
        |             - theta * (CAST(ax AS DOUBLE) / CAST(n AS DOUBLE) - xbar), 6)
        |         AS mean_adj,
        |       round(theta, 6) AS theta
        |FROM a CROSS JOIN s""".stripMargin,

    // Goodness-of-fit replay: the 2-row design frame anchors on the total.
    "q162_srm" ->
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |a AS (SELECT CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS arm
        |      FROM u),
        |c AS (SELECT arm, CAST(count(*) AS BIGINT) AS o FROM a GROUP BY 1),
        |t AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM c),
        |d AS (SELECT n, v.arm, CAST(0.5 AS DOUBLE) AS p
        |      FROM t, (VALUES ('a'), ('b')) v(arm)),
        |j AS (SELECT n,
        |             CAST(round((CAST(COALESCE(o, 0) AS DOUBLE) - CAST(n AS DOUBLE) * p)
        |                  * (CAST(COALESCE(o, 0) AS DOUBLE) - CAST(n AS DOUBLE) * p)
        |                  / (CAST(n AS DOUBLE) * p), 6) AS DECIMAL(18,6)) AS x
        |      FROM d LEFT JOIN c USING (arm))
        |SELECT n, CAST(2 AS BIGINT) AS k, CAST(1 AS BIGINT) AS dof,
        |       CAST(sum(x) AS DOUBLE) AS chi2
        |FROM j GROUP BY n""".stripMargin,

    // quantile_cont per group — the interpolation q147 already pins.
    "q163_grouped_quantiles" -> {
      val rows = Seq(0.25, 0.5, 0.75, 0.95).map { q =>
        s"""SELECT event_type, CAST($q AS DOUBLE) AS q,
           |       round(quantile_cont(value, $q), 6) AS val
           |FROM v GROUP BY event_type""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH v AS (SELECT event_type, value FROM events
         |           WHERE value IS NOT NULL)
         |$rows""".stripMargin
    },

    // Binned-share replay with the identical Laplace smoothing and term
    // order.
    "q164_psi" ->
      """WITH ev AS (SELECT value, epoch_us(ts) AS t FROM events
        |            WHERE value IS NOT NULL),
        |r AS (SELECT least(greatest(CAST(floor((value - 0.0) / 500.0 * 20) AS BIGINT), 0), 19) AS b,
        |             CAST(count(*) AS BIGINT) AS cr
        |      FROM ev WHERE t < 1705363200000000 GROUP BY 1),
        |c AS (SELECT least(greatest(CAST(floor((value - 0.0) / 500.0 * 20) AS BIGINT), 0), 19) AS b,
        |             CAST(count(*) AS BIGINT) AS cc
        |      FROM ev WHERE t >= 1705363200000000 GROUP BY 1),
        |n AS (SELECT (SELECT CAST(COALESCE(sum(cr), 0) AS BIGINT) FROM r) AS nr,
        |             (SELECT CAST(COALESCE(sum(cc), 0) AS BIGINT) FROM c) AS nc),
        |f AS (SELECT nr, nc, unnest(range(0, 20)) AS b FROM n),
        |j AS (SELECT nr, nc,
        |             CAST(round(((CAST(COALESCE(cc, 0) AS DOUBLE) + 1.0) / (CAST(nc AS DOUBLE) + 20)
        |                         - (CAST(COALESCE(cr, 0) AS DOUBLE) + 1.0) / (CAST(nr AS DOUBLE) + 20))
        |                  * ln(((CAST(COALESCE(cc, 0) AS DOUBLE) + 1.0) / (CAST(nc AS DOUBLE) + 20))
        |                       / ((CAST(COALESCE(cr, 0) AS DOUBLE) + 1.0) / (CAST(nr AS DOUBLE) + 20))), 6)
        |              AS DECIMAL(18,6)) AS x
        |      FROM f LEFT JOIN r USING (b) LEFT JOIN c USING (b))
        |SELECT nr AS n_ref, nc AS n_cur, CAST(sum(x) AS DOUBLE) AS psi
        |FROM j GROUP BY 1, 2""".stripMargin,

    // q46's cluster replay + q34's split-hash replay keyed on the
    // representative.
    "q165_cluster_split" ->
      s"""WITH clusters AS ($q46ClustersSql),
         |b AS (SELECT doc_id, rep,
         |             (('0x' || substr(md5('split:' || CAST(rep AS VARCHAR)),1,15))::BIGINT
         |              % ${TF.HashMod}) % 1000 AS bucket
         |      FROM clusters)
         |SELECT doc_id, rep,
         |       CASE WHEN bucket < 800 THEN 'train'
         |            WHEN bucket < 900 THEN 'val'
         |            ELSE 'test' END AS split
         |FROM b""".stripMargin,

    // Per-lag HUGEINT moments mirror the DECIMAL sums; the guard and the
    // corr double tree match op for op.
    "q166_xcorr" ->
      """WITH ev AS (SELECT epoch_us(ts) // 3600000000 AS hr, event_type
        |            FROM events),
        |g AS (SELECT hr,
        |             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS HUGEINT) AS x,
        |             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS HUGEINT) AS y
        |      FROM ev GROUP BY 1),
        |l AS (SELECT unnest(range(0, 13)) AS lag),
        |p AS (SELECT l.lag, a.x, b.y
        |      FROM l, g a, g b WHERE b.hr = a.hr + l.lag),
        |m AS (SELECT lag, CAST(count(*) AS HUGEINT) AS n,
        |             sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
        |             sum(x * x) AS sxx, sum(y * y) AS syy
        |      FROM p GROUP BY 1)
        |SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n,
        |       CASE WHEN CAST(n*sxx - sx*sx AS DOUBLE) > 0
        |             AND CAST(n*syy - sy*sy AS DOUBLE) > 0 AND n >= 2
        |            THEN round(CAST(n*sxy - sx*sy AS DOUBLE)
        |                 / sqrt(CAST(n*sxx - sx*sx AS DOUBLE)
        |                        * CAST(n*syy - sy*sy AS DOUBLE)), 6)
        |       END AS corr
        |FROM m""".stripMargin,

    // NULL-propagating || builds the trigram only when both leads exist —
    // the same guard as the when() on the Spark side.
    "q167_seq_patterns" ->
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t, event_id
        |           FROM events),
        |s AS (SELECT event_type
        |             || '>' || lead(event_type, 1) OVER w
        |             || '>' || lead(event_type, 2) OVER w AS seq
        |      FROM e
        |      WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
        |c AS (SELECT seq, CAST(count(*) AS BIGINT) AS cnt
        |      FROM s WHERE seq IS NOT NULL GROUP BY 1),
        |r AS (SELECT *, row_number() OVER (ORDER BY cnt DESC, seq) AS rank
        |      FROM c)
        |SELECT seq, cnt, CAST(rank AS BIGINT) AS rank FROM r
        |WHERE rank <= 15""".stripMargin,

    // Group-size rollup replay.
    "q168_kanon" ->
      """WITH qi AS (SELECT event_type, user_id % 100 AS user_bucket,
        |                   epoch_us(ts) // 86400000000 AS day
        |            FROM events),
        |g AS (SELECT event_type, user_bucket, day,
        |             CAST(count(*) AS BIGINT) AS c
        |      FROM qi GROUP BY 1, 2, 3)
        |SELECT CAST(sum(c) AS BIGINT) AS n_rows,
        |       CAST(count(*) AS BIGINT) AS n_groups,
        |       CAST(min(c) AS BIGINT) AS k_min,
        |       CAST(sum(CASE WHEN c < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_violating,
        |       round(CAST(sum(CASE WHEN c < 5 THEN c ELSE 0 END) AS DOUBLE)
        |             / CAST(sum(c) AS DOUBLE), 6) AS frac_at_risk
        |FROM g""".stripMargin,

    // q155's blocked pairs → the q75 recursive-CC idiom → first_value
    // survivorship on (quality desc, id).
    "q169_entity_resolution" ->
      """WITH RECURSIVE
        |p AS (SELECT doc_id AS id, substr(text, 1, 40) AS s,
        |             substr(text, 1, 12) AS blk
        |      FROM documents WHERE text IS NOT NULL),
        |e0 AS (SELECT a.id AS pa, b.id AS pb
        |       FROM p AS a JOIN p AS b ON a.blk = b.blk
        |       WHERE a.id < b.id AND abs(length(a.s) - length(b.s)) <= 2
        |         AND levenshtein(a.s, b.s) <= 2),
        |edges AS (SELECT pa AS a, pb AS b FROM e0
        |          UNION ALL SELECT pb, pa FROM e0),
        |reach(id, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id),
        |cc AS (SELECT id, CAST(min(r) AS BIGINT) AS cluster FROM reach GROUP BY 1),
        |jn AS (SELECT cc.id AS doc_id, cluster,
        |              CAST(d.n_chars AS BIGINT) AS quality
        |       FROM cc JOIN documents d ON cc.id = d.doc_id),
        |w AS (SELECT doc_id, cluster,
        |             first_value(doc_id) OVER (PARTITION BY cluster
        |               ORDER BY quality DESC, doc_id) AS canon_id,
        |             CAST(count(*) OVER (PARTITION BY cluster) AS BIGINT)
        |               AS csize
        |      FROM jn)
        |SELECT doc_id, cluster, canon_id, csize,
        |       doc_id = canon_id AS kept
        |FROM w""".stripMargin,

    // Incidence-supported window replay: each (user, day) feeds days
    // day..day+6; inner join restricts to observed days.
    "q170_rolling_dau" ->
      """WITH ud AS (SELECT DISTINCT user_id,
        |                   epoch_us(ts) // 86400000000 AS day
        |            FROM events),
        |dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau
        |        FROM ud GROUP BY 1),
        |w0 AS (SELECT DISTINCT user_id, day + o AS day
        |       FROM ud, (SELECT unnest(range(0, 7)) AS o)),
        |wau AS (SELECT day, CAST(count(*) AS BIGINT) AS wau
        |        FROM w0 GROUP BY 1)
        |SELECT d.day, d.dau, w.wau,
        |       round(CAST(d.dau AS DOUBLE) / CAST(w.wau AS DOUBLE), 6)
        |         AS stickiness
        |FROM dau d JOIN wau w USING (day)""".stripMargin,

    // Trailing-frame replay: identical ROWS window, identical guard tree.
    "q171_rate_anomaly" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) // 3600000000 AS hr
        |           FROM events),
        |c AS (SELECT event_type, hr, CAST(count(*) AS BIGINT) AS x
        |      FROM e GROUP BY 1, 2),
        |w AS (SELECT event_type, hr, x,
        |             CAST(count(*) OVER tw AS BIGINT) AS n_trail,
        |             sum(x) OVER tw AS s, sum(x * x) OVER tw AS q
        |      FROM c
        |      WINDOW tw AS (PARTITION BY event_type ORDER BY hr
        |                    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, hr AS tick, x, n_trail,
        |       CASE WHEN n_trail >= 12 AND
        |                 (CAST(n_trail AS DOUBLE) * CAST(q AS DOUBLE)
        |                  - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
        |                 / (CAST(n_trail AS DOUBLE) * (CAST(n_trail AS DOUBLE) - 1.0)) > 0
        |            THEN round((CAST(x AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n_trail AS DOUBLE))
        |                 / sqrt((CAST(n_trail AS DOUBLE) * CAST(q AS DOUBLE)
        |                         - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
        |                        / (CAST(n_trail AS DOUBLE) * (CAST(n_trail AS DOUBLE) - 1.0))), 6)
        |       END AS z
        |FROM w""".stripMargin,

    // q46's simhash pair + recursive-CC replay, both split hashes, two
    // audit rows.
    "q172_leakage_audit" -> {
      val hsSql = s"list_transform($toksSql, t -> ('0x' || substr(md5(t),1,15))::BIGINT)"
      val bitTerms = (0 until 32).map { j =>
        s"(CASE WHEN list_sum(list_transform(hs, h -> ((h >> $j) & 1)*2 - 1)) > 0 THEN ${1L << j} ELSE 0 END)"
      }.mkString("\n  + ")
      s"""WITH RECURSIVE
         |t AS (SELECT doc_id, $hsSql AS hs FROM documents),
         |sh AS (SELECT doc_id, CAST($bitTerms AS BIGINT) AS sh FROM t),
         |e0 AS (SELECT x.doc_id AS a, y.doc_id AS b
         |       FROM sh x JOIN sh y
         |         ON x.doc_id < y.doc_id AND bit_count(xor(x.sh, y.sh)) <= 2),
         |edges AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
         |reach(id, r) AS (
         |  SELECT doc_id, doc_id FROM sh
         |  UNION
         |  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id),
         |cc AS (SELECT id, CAST(min(r) AS BIGINT) AS rep FROM reach GROUP BY 1),
         |sp AS (SELECT id,
         |         CASE WHEN br < 800 THEN 'train' WHEN br < 900 THEN 'val'
         |              ELSE 'test' END AS cl,
         |         CASE WHEN bd < 800 THEN 'train' WHEN bd < 900 THEN 'val'
         |              ELSE 'test' END AS doc
         |       FROM (SELECT id,
         |               (('0x' || substr(md5('split:' || CAST(rep AS VARCHAR)),1,15))::BIGINT
         |                % ${TF.HashMod}) % 1000 AS br,
         |               (('0x' || substr(md5('split:' || CAST(id AS VARCHAR)),1,15))::BIGINT
         |                % ${TF.HashMod}) % 1000 AS bd
         |             FROM cc)),
         |j AS (SELECT sa.cl AS acl, sb.cl AS bcl, sa.doc AS adoc, sb.doc AS bdoc
         |      FROM e0 JOIN sp sa ON e0.a = sa.id JOIN sp sb ON e0.b = sb.id)
         |SELECT 'cluster_split' AS scheme, CAST(count(*) AS BIGINT) AS n_pairs,
         |       CAST(sum(CASE WHEN acl <> bcl THEN 1 ELSE 0 END) AS BIGINT) AS n_cross,
         |       round(CAST(sum(CASE WHEN acl <> bcl THEN 1 ELSE 0 END) AS DOUBLE)
         |             / CAST(count(*) AS DOUBLE), 6) AS frac_cross
         |FROM j
         |UNION ALL
         |SELECT 'doc_split', CAST(count(*) AS BIGINT),
         |       CAST(sum(CASE WHEN adoc <> bdoc THEN 1 ELSE 0 END) AS BIGINT),
         |       round(CAST(sum(CASE WHEN adoc <> bdoc THEN 1 ELSE 0 END) AS DOUBLE)
         |             / CAST(count(*) AS DOUBLE), 6)
         |FROM j""".stripMargin
    },

    // Same scaled-integer fold via list_reduce (init prepended; ragged
    // BIGINT[] keeps acc and element the same list type).
    "q173_cusum" ->
      """WITH e AS (SELECT event_type, epoch_us(ts) // 3600000000 AS t
        |           FROM events),
        |c AS (SELECT event_type, t, CAST(count(*) AS BIGINT) AS x
        |      FROM e GROUP BY 1, 2),
        |k AS (SELECT event_type, CAST(sum(x) AS BIGINT) AS s,
        |             CAST(count(*) AS BIGINT) AS n,
        |             list([t, x] ORDER BY t) AS xs
        |      FROM c GROUP BY 1),
        |f AS (SELECT event_type, n, s,
        |             list_reduce(list_prepend([0, 0, 0, -1], xs),
        |               (a, e) -> [
        |                 greatest(0, a[1] + (100*(e[2]*n - s) - 10*s)),
        |                 a[2] + CASE WHEN greatest(0, a[1] + (100*(e[2]*n - s) - 10*s)) > 300*s
        |                             THEN 1 ELSE 0 END,
        |                 greatest(a[3], greatest(0, a[1] + (100*(e[2]*n - s) - 10*s))),
        |                 CASE WHEN a[4] = -1 AND greatest(0, a[1] + (100*(e[2]*n - s) - 10*s)) > 300*s
        |                      THEN e[1] ELSE a[4] END
        |               ]) AS acc
        |      FROM k)
        |SELECT event_type, n AS n_ticks, acc[2] AS n_alarms,
        |       acc[3] AS max_cusum, nullif(acc[4], -1) AS first_alarm_tick
        |FROM f""".stripMargin,

    // Dominance replay: strict skyline, exact duplicates keep min id.
    "q174_skyline" ->
      """WITH p AS (SELECT p_partkey AS id, p_retailprice AS pr,
        |                  CAST(p_size AS BIGINT) AS sz
        |           FROM part
        |           WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL)
        |SELECT id AS p_partkey, pr AS p_retailprice,
        |       CAST(sz AS INTEGER) AS p_size
        |FROM p a
        |WHERE NOT EXISTS (
        |        SELECT 1 FROM p b
        |        WHERE b.pr <= a.pr AND b.sz >= a.sz
        |          AND (b.pr < a.pr OR b.sz > a.sz))
        |  AND NOT EXISTS (
        |        SELECT 1 FROM p c
        |        WHERE c.pr = a.pr AND c.sz = a.sz AND c.id < a.id)""".stripMargin,

    // The streamed merge equals the batch merge exactly (time-ordered
    // batches + flush row close everything), so the oracle is q28's
    // running-max merge replay verbatim.
    "q175_stream_merge" ->
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
        |FROM g GROUP BY o_custkey, grp""".stripMargin,

    // Streamed gaps equal batch gaps: q36's replay verbatim.
    "q176_stream_gaps" ->
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
        |FROM lg WHERE pe IS NOT NULL AND pe < ms""".stripMargin,

    // Id-ordered arrival makes the online packer equal the batch layout
    // bit for bit: q56's cumulative-cursor replay verbatim, over the same
    // bounded 10% doc slice the replay harness feeds (the q184 idiom).
    "q177_stream_packing" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |         ((('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)),1,15))::BIGINT
         |           % ${TF.HashMod}) % 1000) % 8 AS bucket,
         |         CAST(len($toksSql) AS BIGINT) AS n_tok
         |  FROM documents WHERE doc_id % 10 = 0),
         |c AS (
         |  SELECT doc_id, bucket, n_tok,
         |         CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY bucket ORDER BY doc_id
         |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
         |  FROM t)
         |SELECT doc_id, bucket, n_tok,
         |       cum // 256 AS pack_first,
         |       cum % 256 AS pack_offset,
         |       CASE WHEN n_tok > 0 THEN (cum + n_tok - 1) // 256
         |            ELSE cum // 256 END AS pack_last,
         |       CASE WHEN n_tok > 0 THEN (cum + n_tok - 1) // 256 - cum // 256 + 1
         |            ELSE 0 END AS n_packs
         |FROM c""".stripMargin,

    // The q124 replay iterated three layers: each layer's rank is a 6 dp
    // fixed point feeding the next layer's quantized contributions, so
    // the loop replays exactly. r0 = 1/N unrounded (both sides).
    "q178_pagerank" -> {
      def layer(k: Int) =
        s"""c$k AS (SELECT e.to_type AS node,
           |            CAST(sum(CAST(floor(e.p * r.rank
           |                 * 1000000000000.0) AS BIGINT)) AS BIGINT) AS cin
           |     FROM edges e JOIN r${k - 1} r ON e.from_type = r.node
           |     GROUP BY 1),
           |r$k AS (SELECT nodes.node,
           |            round((CAST(1.0 AS DOUBLE) - CAST(0.85 AS DOUBLE)) / nn.n
           |                  + CAST(0.85 AS DOUBLE)
           |                    * (CAST(coalesce(c$k.cin, 0) AS DOUBLE)
           |                       / 1000000000000.0), 6) AS rank
           |     FROM nodes LEFT JOIN c$k ON nodes.node = c$k.node, nn)""".stripMargin
      s"""WITH e AS (SELECT user_id, epoch_ns(ts) AS t, event_id, event_type
        |           FROM events),
        |l AS (SELECT event_type AS to_type,
        |             lag(event_type) OVER (PARTITION BY user_id
        |                                   ORDER BY t, event_id) AS from_type
        |      FROM e),
        |c AS (SELECT from_type, to_type, count(*) AS n FROM l
        |      WHERE from_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS tot FROM c GROUP BY 1),
        |edges AS (SELECT c.from_type, c.to_type, round(c.n / t.tot, 6) AS p
        |          FROM c JOIN t USING (from_type)),
        |nodes AS (SELECT DISTINCT node FROM (
        |            SELECT from_type AS node FROM edges
        |            UNION ALL SELECT to_type FROM edges)),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nodes),
        |r0 AS (SELECT node, CAST(1.0 AS DOUBLE) / nn.n AS rank FROM nodes, nn),
        |${layer(1)},
        |${layer(2)},
        |${layer(3)}
        |SELECT node, rank FROM r3""".stripMargin
    },

    // Three layers of the q159 winner CTE; at a fixpoint further layers
    // are the identity, so the operator's early stop cannot diverge.
    "q179_label_prop_converged" -> {
      def layer(k: Int) =
        s"""t$k AS (SELECT d.u, lab.label AS nl, CAST(sum(d.w) AS BIGINT) AS tw
           |      FROM d JOIN l${k - 1} lab ON d.v = lab.node GROUP BY 1, 2),
           |w$k AS (SELECT u, nl FROM (
           |         SELECT *, row_number() OVER (PARTITION BY u
           |                                      ORDER BY tw DESC, nl) AS r
           |         FROM t$k) WHERE r = 1),
           |l$k AS (SELECT l.node, COALESCE(w$k.nl, l.label) AS label
           |      FROM l${k - 1} l LEFT JOIN w$k ON w$k.u = l.node)""".stripMargin
      s"""WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS (SELECT a.l_partkey AS src, b.l_partkey AS dst,
        |             CAST(count(*) AS BIGINT) AS w
        |      FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |                         AND a.l_partkey < b.l_partkey
        |      GROUP BY 1, 2),
        |d AS (SELECT src AS u, dst AS v, w FROM e
        |      UNION ALL SELECT dst, src, w FROM e),
        |l0 AS (SELECT p_partkey AS node, p_brand AS label FROM part),
        |${layer(1)},
        |${layer(2)},
        |${layer(3)}
        |SELECT node, label FROM l3""".stripMargin
    },

    // q126's band graph, the deterministic md5 edge coin at p=1/4
    // (threshold = floor(0.25 * HashMod), embedded as the same literal the
    // Spark side computes), exact triangle join on the kept edges, and the
    // 1/p^3 scale-up. 0.25^3 = 0.015625 exactly, so the division is the
    // identical IEEE op on both sides.
    "q180_triangles_approx" -> {
      val thresh = (0.25 * TF.HashMod).toLong
      s"""WITH u AS (SELECT user_id,
        |                  CAST(sum(CAST(floor(value * 1000) AS BIGINT))
        |                       AS BIGINT) AS v
        |           FROM events GROUP BY 1),
        |e0 AS (SELECT a.user_id AS ua, b.user_id AS ub
        |       FROM u a JOIN u b
        |         ON abs(a.v - b.v) <= 20000 AND a.user_id < b.user_id),
        |e AS (SELECT ua, ub FROM e0
        |      WHERE ${hSql("'q180:' || CAST(ua AS VARCHAR) || ':' || CAST(ub AS VARCHAR)")}
        |            < $thresh),
        |nodes AS (SELECT DISTINCT node FROM (
        |            SELECT ua AS node FROM e UNION ALL SELECT ub FROM e)),
        |tri AS (SELECT count(*) AS n_triangles
        |        FROM e e1 JOIN e e2 ON e1.ub = e2.ua
        |        JOIN e e3 ON e3.ua = e1.ua AND e3.ub = e2.ub)
        |SELECT (SELECT count(*) FROM nodes) AS n_nodes,
        |       (SELECT count(*) FROM e) AS n_edges,
        |       n_triangles,
        |       round(CAST(n_triangles AS DOUBLE) / 0.015625, 6) AS est_triangles
        |FROM tri""".stripMargin
    },

    // q84's fusion replay with the vector half replaced by the q61
    // anchored-IVF chain (salt q181, queries = vec_id % 50, nProbe 4/16).
    "q181_hybrid_rrf_ivf" ->
      s"""WITH bm AS ($bm25ReplaySql),
        |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |anch AS (
        |  SELECT vec_id AS aid, v FROM (
        |    SELECT vec_id, v,
        |           ${hSql("'q181:' || CAST(vec_id AS VARCHAR)")} AS hk
        |    FROM c) ORDER BY hk, vec_id LIMIT 16),
        |csims AS (
        |  SELECT c.vec_id AS id, a.aid,
        |         round(list_dot_product(c.v, a.v)
        |               / (sqrt(list_dot_product(c.v, c.v))
        |                  * sqrt(list_dot_product(a.v, a.v))), 4) AS s
        |  FROM c CROSS JOIN anch a),
        |cellq AS (
        |  SELECT id, aid AS cell FROM (
        |    SELECT id, aid,
        |           row_number() OVER (PARTITION BY id ORDER BY s DESC, aid) AS rn
        |    FROM csims) WHERE rn = 1),
        |qs AS (SELECT vec_id AS q_id, v AS qv FROM c WHERE vec_id % 50 = 0),
        |qsims AS (
        |  SELECT q.q_id, a.aid,
        |         1.0 - round(list_dot_product(q.qv, a.v)
        |               / (sqrt(list_dot_product(q.qv, q.qv))
        |                  * sqrt(list_dot_product(a.v, a.v))), 4) AS d
        |  FROM qs q CROSS JOIN anch a),
        |probe AS (
        |  SELECT q_id, aid AS cell FROM (
        |    SELECT q_id, aid,
        |           row_number() OVER (PARTITION BY q_id ORDER BY d, aid) AS rn
        |    FROM qsims) WHERE rn <= 4),
        |vs AS (
        |  SELECT p.q_id, cq.id AS vec_id,
        |         round(list_dot_product(cv.v, qv2.v)
        |               / (sqrt(list_dot_product(cv.v, cv.v))
        |                  * sqrt(list_dot_product(qv2.v, qv2.v))), 4) AS sim
        |  FROM probe p JOIN cellq cq ON cq.cell = p.cell
        |  JOIN c cv ON cv.vec_id = cq.id
        |  JOIN c qv2 ON qv2.vec_id = p.q_id
        |  WHERE cq.id <> p.q_id),
        |vr AS (SELECT q_id, vec_id,
        |              row_number() OVER (PARTITION BY q_id
        |                                 ORDER BY sim DESC, vec_id) AS rank
        |       FROM vs),
        |vec AS (SELECT q_id, vec_id, rank FROM vr WHERE rank <= 10),
        |f AS (SELECT coalesce(bm.qid, vec.q_id) AS qid,
        |             coalesce(bm.doc_id, vec.vec_id) AS doc_id,
        |             round(coalesce(1.0 / (60 + bm.rank), 0.0)
        |                   + coalesce(1.0 / (60 + vec.rank), 0.0), 6) AS rrf
        |      FROM bm FULL JOIN vec
        |        ON bm.qid = vec.q_id AND bm.doc_id = vec.vec_id),
        |rr AS (SELECT qid, doc_id, rrf,
        |              CAST(row_number() OVER (PARTITION BY qid
        |                ORDER BY rrf DESC, doc_id) AS BIGINT) AS rank
        |       FROM f)
        |SELECT qid, doc_id, rrf, rank FROM rr WHERE rank <= 10""".stripMargin,

    // q100's one-step replay chained 3 deep (seed -> step -> carry ->
    // step -> carry -> step); the carry LEFT JOIN keeps an anchor's
    // previous centroid when its cell empties, exactly kmeansFit's rule.
    "q182_kmeans_fit" -> {
      def stepSql(aTbl: String, cTbl: String) =
        s"""sims_$cTbl AS (
           |  SELECT c.vec_id AS id, a.aid,
           |         round(list_dot_product(c.v, a.v)
           |               / (sqrt(list_dot_product(c.v, c.v))
           |                  * sqrt(list_dot_product(a.v, a.v))), 4) AS s
           |  FROM c CROSS JOIN $aTbl a),
           |cell_$cTbl AS (
           |  SELECT id, aid AS cell FROM (
           |    SELECT id, aid,
           |           row_number() OVER (PARTITION BY id ORDER BY s DESC, aid) AS rn
           |    FROM sims_$cTbl) WHERE rn = 1),
           |el_$cTbl AS (
           |  SELECT q.cell, unnest(c.v) AS x, generate_subscripts(c.v, 1) AS i
           |  FROM cell_$cTbl q JOIN c ON c.vec_id = q.id),
           |$cTbl AS (
           |  SELECT cell, i,
           |         CAST(sum(CAST(floor(x * 1000000.0) AS BIGINT)) AS BIGINT) AS fx,
           |         count(*) AS n
           |  FROM el_$cTbl GROUP BY cell, i)""".stripMargin
      def carrySql(aPrev: String, cTbl: String, aNext: String) =
        s"""cent_$cTbl AS (
           |  SELECT cell AS aid,
           |         list(round(CAST(fx AS DOUBLE) / 1000000.0 / n, 6)
           |              ORDER BY i) AS v
           |  FROM $cTbl GROUP BY cell),
           |$aNext AS (
           |  SELECT p.aid, coalesce(cn.v, p.v) AS v
           |  FROM $aPrev p LEFT JOIN cent_$cTbl cn ON cn.aid = p.aid)""".stripMargin
      s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |a0 AS (
         |  SELECT vec_id AS aid, v FROM (
         |    SELECT vec_id, v,
         |           ${hSql("'q182:' || CAST(vec_id AS VARCHAR)")} AS hk
         |    FROM c) ORDER BY hk, vec_id LIMIT 6),
         |${stepSql("a0", "c1")},
         |${carrySql("a0", "c1", "a1")},
         |${stepSql("a1", "c2")},
         |${carrySql("a1", "c2", "a2")},
         |${stepSql("a2", "c3")}
         |SELECT cell, CAST(min(n) AS BIGINT) AS n,
         |       string_agg(CAST(CAST(round(round(CAST(fx AS DOUBLE) / 1000000.0 / n, 6)
         |                                  * 1000000.0) AS BIGINT) AS VARCHAR),
         |                  ',' ORDER BY i) AS centroid
         |FROM c3 GROUP BY cell""".stripMargin
    },

    // q81's duplicated-window replay through `dw`, then position coverage
    // directly (union of [p, p+5) windows == the merged-run coverage) and
    // the kept-token reassembly in position order.
    "q183_dedup_spans" ->
      """WITH sized AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks,
        |         CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS BIGINT) AS ntok
        |  FROM documents),
        |wins0 AS (
        |  SELECT doc_id, toks,
        |         unnest(generate_series(1, CAST(ntok AS INTEGER) - 4)) AS p
        |  FROM sized WHERE ntok >= 5),
        |wins AS (
        |  SELECT doc_id, CAST(p AS BIGINT) AS p,
        |         array_to_string(toks[p : p + 4], ' ') AS gram
        |  FROM wins0),
        |dup AS (SELECT gram FROM wins GROUP BY gram HAVING count(*) > 1),
        |dw AS (SELECT w.doc_id, w.p FROM wins w
        |       WHERE w.gram IN (SELECT gram FROM dup)),
        |covpos0 AS (SELECT doc_id, p, unnest(generate_series(0, 4)) AS o FROM dw),
        |covpos AS (SELECT DISTINCT doc_id, p + o AS pos FROM covpos0),
        |pos0 AS (SELECT doc_id, toks,
        |                unnest(generate_series(1, CAST(ntok AS INTEGER))) AS pos
        |         FROM sized WHERE ntok >= 1),
        |kept AS (SELECT p0.doc_id, CAST(p0.pos AS BIGINT) AS pos,
        |                p0.toks[CAST(p0.pos AS INTEGER)] AS tok
        |         FROM pos0 p0 ANTI JOIN covpos c
        |           ON c.doc_id = p0.doc_id AND c.pos = p0.pos),
        |ka AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |              string_agg(tok, ' ' ORDER BY pos) AS clean_text
        |       FROM kept GROUP BY doc_id)
        |SELECT s.doc_id, s.ntok,
        |       CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
        |       coalesce(k.clean_text, '') AS clean_text
        |FROM sized s LEFT JOIN ka k ON k.doc_id = s.doc_id""".stripMargin,

    // q29's lag/prefix-sum sessionization on the 10% slice, with the
    // split at t − prev >= gap (session_window's right-open rule).
    "q184_stream_sessionize" ->
      """WITH ev AS (SELECT user_id, event_id, epoch_ns(ts) AS t
        |            FROM events WHERE user_id % 10 = 0),
        |l AS (SELECT user_id, event_id, t,
        |             lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS prev
        |      FROM ev),
        |s AS (SELECT user_id, t,
        |             sum(CASE WHEN prev IS NULL OR t - prev >= 1800000000000 THEN 1 ELSE 0 END)
        |               OVER (PARTITION BY user_id ORDER BY t, event_id
        |                     ROWS UNBOUNDED PRECEDING) AS session
        |      FROM l)
        |SELECT user_id, min(t) AS sstart, max(t) AS sstop,
        |       count(*) AS n_events
        |FROM s GROUP BY user_id, session""".stripMargin,

    // q59's fold discipline with the reference/target split and add-one
    // smoothing; per-term values round 6 dp before the sorted fold (the
    // q94 sub-ulp ln guard).
    "q185_cross_surprisal" ->
      """WITH rt AS (SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |                                      x -> x <> '')) AS term
        |            FROM documents WHERE lang = 'en'),
        |f AS (SELECT term, count(*) AS n FROM rt GROUP BY 1),
        |st AS (SELECT CAST(sum(n) AS DOUBLE) AS N,
        |              CAST(count(*) AS DOUBLE) AS V FROM f),
        |tt AS (SELECT doc_id,
        |              unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |                                 x -> x <> '')) AS term
        |       FROM documents),
        |c AS (SELECT doc_id, term, count(*) AS c FROM tt GROUP BY 1, 2),
        |g AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok,
        |             CAST(sum(CASE WHEN f.n IS NULL THEN c ELSE 0 END) AS BIGINT) AS oov,
        |             list(round(CAST(c AS DOUBLE) *
        |                        ln(((SELECT N FROM st) + (SELECT V FROM st) + 1.0)
        |                           / (CAST(coalesce(f.n, 0) AS DOUBLE) + 1.0)), 6)
        |                  ORDER BY term) AS vs
        |      FROM c LEFT JOIN f USING (term) GROUP BY 1)
        |SELECT doc_id AS id, n_tok, oov,
        |       list_reduce(list_prepend(0.0, vs), (a, b) -> a + b) / n_tok
        |         AS surprisal
        |FROM g""".stripMargin,

    // q56's bucket replay, then the next-fit-decreasing fill recurrence
    // walked per bucket by a recursive CTE over the (n_tok desc, doc_id)
    // rank: close the open pack when the next doc would overflow 256.
    "q186_pack_whole" ->
      s"""WITH RECURSIVE t AS (
         |  SELECT doc_id,
         |         ((('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)),1,15))::BIGINT
         |           % ${TF.HashMod}) % 1000) % 8 AS bucket,
         |         CAST(len($toksSql) AS BIGINT) AS n_tok
         |  FROM documents),
         |d AS (
         |  SELECT doc_id, bucket, n_tok,
         |         row_number() OVER (PARTITION BY bucket
         |                            ORDER BY n_tok DESC, doc_id) AS rk
         |  FROM t),
         |st AS (
         |  SELECT doc_id, bucket, n_tok, rk,
         |         CAST(0 AS BIGINT) AS pack, CAST(0 AS BIGINT) AS off,
         |         n_tok AS fill
         |  FROM d WHERE rk = 1
         |  UNION ALL
         |  SELECT d.doc_id, d.bucket, d.n_tok, d.rk,
         |         CASE WHEN st.fill + d.n_tok > 256 AND st.fill > 0
         |              THEN st.pack + 1 ELSE st.pack END,
         |         CASE WHEN st.fill + d.n_tok > 256 AND st.fill > 0
         |              THEN CAST(0 AS BIGINT) ELSE st.fill END,
         |         CASE WHEN st.fill + d.n_tok > 256 AND st.fill > 0
         |              THEN d.n_tok ELSE st.fill + d.n_tok END
         |  FROM st JOIN d ON d.bucket = st.bucket AND d.rk = st.rk + 1)
         |SELECT doc_id, bucket, n_tok, pack, off AS pack_offset,
         |       n_tok > 256 AS oversize
         |FROM st""".stripMargin,

    // Five generated layers: pair count over the vocab, top-1 by
    // (n desc, s1, s2), then the greedy-left rewrite as an
    // encoded-accumulator list_reduce (out <chr(1)> pend) — the exact
    // fold bpeTrain runs; "" is a safe none-marker (symbols are never
    // empty).
    "q187_bpe_train" -> {
      def o(acc: String) = s"split_part($acc, chr(1), 1)"
      def p(acc: String) = s"split_part($acc, chr(1), 2)"
      def app(out: String, x: String) =
        s"CASE WHEN $out = '' THEN $x ELSE $out || ' ' || $x END"
      def layer(r: Int): String = {
        val v = s"v${r - 1}"
        s"""p${r}_0 AS (SELECT f, str_split(s, ' ') AS a FROM $v
           |            WHERE len(str_split(s, ' ')) >= 2),
           |p${r}_1 AS (SELECT f, a, unnest(range(1, len(a))) AS i FROM p${r}_0),
           |p$r AS (SELECT a[CAST(i AS INTEGER)] AS s1,
           |               a[CAST(i + 1 AS INTEGER)] AS s2,
           |               CAST(sum(f) AS BIGINT) AS n
           |        FROM p${r}_1 GROUP BY 1, 2),
           |m$r AS (SELECT s1, s2, n FROM p$r ORDER BY n DESC, s1, s2 LIMIT 1),
           |v${r}_0 AS (
           |  SELECT v.f AS f,
           |         list_reduce(list_prepend(chr(1), str_split(v.s, ' ')),
           |           (acc, x) -> CASE
           |             WHEN ${p("acc")} = ''
           |               THEN ${o("acc")} || chr(1) || x
           |             WHEN ${p("acc")} = m.s1 AND x = m.s2
           |               THEN ${app(o("acc"), "m.s1 || m.s2")} || chr(1)
           |             ELSE ${app(o("acc"), p("acc"))} || chr(1) || x
           |           END) AS r
           |  FROM $v v CROSS JOIN m$r m),
           |v$r AS (SELECT CASE WHEN ${p("r")} = '' THEN ${o("r")}
           |               ELSE ${app(o("r"), p("r"))} END AS s, f
           |        FROM v${r}_0)""".stripMargin
      }
      val rounds = 5
      s"""WITH w0 AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
         |            FROM documents),
         |vw AS (SELECT w, count(*) AS f FROM w0 GROUP BY w),
         |v0 AS (SELECT array_to_string(
         |                 list_append(list_transform(range(1, len(w) + 1),
         |                   i -> substr(w, CAST(i AS INTEGER), 1)), '</w>'),
         |                 ' ') AS s, f
         |       FROM vw),
         |${(1 to rounds).map(layer).mkString(",\n")}
         |${(1 to rounds).map(r =>
             s"SELECT CAST($r AS BIGINT) AS round, s1 AS lhs, s2 AS rhs, " +
               s"s1 || s2 AS merged, n AS cnt FROM m$r")
             .mkString("\nUNION ALL\n")}""".stripMargin
    },

    // q187's trained merges (the same m1..m5 layers over the vocab), then
    // the identical greedy-left fold applied to every DOC word in learned
    // order; per-doc word/symbol counts.
    "q188_bpe_encode" -> {
      def o(acc: String) = s"split_part($acc, chr(1), 1)"
      def p(acc: String) = s"split_part($acc, chr(1), 2)"
      def app(out: String, x: String) =
        s"CASE WHEN $out = '' THEN $x ELSE $out || ' ' || $x END"
      def foldCtes(prev: String, m: String, out: String,
          carry: String): String =
        s"""${out}_0 AS (
           |  SELECT ${carry},
           |         list_reduce(list_prepend(chr(1), str_split(v.s, ' ')),
           |           (acc, x) -> CASE
           |             WHEN ${p("acc")} = ''
           |               THEN ${o("acc")} || chr(1) || x
           |             WHEN ${p("acc")} = m.s1 AND x = m.s2
           |               THEN ${app(o("acc"), "m.s1 || m.s2")} || chr(1)
           |             ELSE ${app(o("acc"), p("acc"))} || chr(1) || x
           |           END) AS r
           |  FROM $prev v CROSS JOIN $m m),
           |$out AS (SELECT ${carry.replace("v.", "")},
           |                CASE WHEN ${p("r")} = '' THEN ${o("r")}
           |                ELSE ${app(o("r"), p("r"))} END AS s
           |         FROM ${out}_0)""".stripMargin
      def vocabLayer(r: Int): String = {
        val v = s"v${r - 1}"
        s"""p${r}_0 AS (SELECT f, str_split(s, ' ') AS a FROM $v
           |            WHERE len(str_split(s, ' ')) >= 2),
           |p${r}_1 AS (SELECT f, a, unnest(range(1, len(a))) AS i FROM p${r}_0),
           |p$r AS (SELECT a[CAST(i AS INTEGER)] AS s1,
           |               a[CAST(i + 1 AS INTEGER)] AS s2,
           |               CAST(sum(f) AS BIGINT) AS n
           |        FROM p${r}_1 GROUP BY 1, 2),
           |m$r AS (SELECT s1, s2, n FROM p$r ORDER BY n DESC, s1, s2 LIMIT 1),
           |${foldCtes(v, s"m$r", s"v$r", "v.f AS f")}""".stripMargin
      }
      val rounds = 5
      s"""WITH w0 AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
         |            FROM documents),
         |vw AS (SELECT w, count(*) AS f FROM w0 GROUP BY w),
         |v0 AS (SELECT array_to_string(
         |                 list_append(list_transform(range(1, len(w) + 1),
         |                   i -> substr(w, CAST(i AS INTEGER), 1)), '</w>'),
         |                 ' ') AS s, f
         |       FROM vw),
         |${(1 to rounds).map(vocabLayer).mkString(",\n")},
         |e0 AS (SELECT doc_id,
         |              array_to_string(
         |                list_append(list_transform(range(1, len(w) + 1),
         |                  i -> substr(w, CAST(i AS INTEGER), 1)), '</w>'),
         |                ' ') AS s
         |       FROM (SELECT doc_id,
         |                    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
         |             FROM documents)),
         |${(1 to rounds).map(r =>
             foldCtes(s"e${r - 1}", s"m$r", s"e$r", "v.doc_id AS doc_id"))
             .mkString(",\n")}
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |       CAST(sum(len(str_split(s, ' '))) AS BIGINT) AS n_sym
         |FROM e$rounds GROUP BY doc_id""".stripMargin
    },

    // q183's coverage/rebuild replay with the marked-window set swapped
    // to "gram appears in the benchmark slice" (q54's split, 5-grams).
    "q189_decontaminate_spans" ->
      """WITH sized AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks,
        |         CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS BIGINT) AS ntok
        |  FROM documents WHERE doc_id % 50 <> 0),
        |bt AS (
        |  SELECT list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t
        |  FROM documents WHERE doc_id % 50 = 0),
        |bg AS (SELECT DISTINCT unnest(
        |         list_transform(range(1, greatest(len(t) - 4, 0) + 1),
        |                        i -> array_to_string(t[i : i + 4], ' '))) AS g
        |       FROM bt),
        |wins0 AS (
        |  SELECT doc_id, toks,
        |         unnest(generate_series(1, CAST(ntok AS INTEGER) - 4)) AS p
        |  FROM sized WHERE ntok >= 5),
        |wins AS (
        |  SELECT doc_id, CAST(p AS BIGINT) AS p,
        |         array_to_string(toks[p : p + 4], ' ') AS gram
        |  FROM wins0),
        |dw AS (SELECT w.doc_id, w.p FROM wins w
        |       WHERE w.gram IN (SELECT g FROM bg)),
        |covpos0 AS (SELECT doc_id, p, unnest(generate_series(0, 4)) AS o FROM dw),
        |covpos AS (SELECT DISTINCT doc_id, p + o AS pos FROM covpos0),
        |pos0 AS (SELECT doc_id, toks,
        |                unnest(generate_series(1, CAST(ntok AS INTEGER))) AS pos
        |         FROM sized WHERE ntok >= 1),
        |kept AS (SELECT p0.doc_id, CAST(p0.pos AS BIGINT) AS pos,
        |                p0.toks[CAST(p0.pos AS INTEGER)] AS tok
        |         FROM pos0 p0 ANTI JOIN covpos c
        |           ON c.doc_id = p0.doc_id AND c.pos = p0.pos),
        |ka AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |              string_agg(tok, ' ' ORDER BY pos) AS clean_text
        |       FROM kept GROUP BY doc_id)
        |SELECT s.doc_id, s.ntok,
        |       CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
        |       coalesce(k.clean_text, '') AS clean_text
        |FROM sized s LEFT JOIN ka k ON k.doc_id = s.doc_id""".stripMargin,

    // q78's BM25 replay as the ranked results, same-source relevance,
    // then the metric math: 6 dp pre-fold rounded 1/log2(r+1) gains,
    // rank-ordered 0.0-seeded folds for DCG and the ideal DCG.
    "q190_ranking_metrics" -> q190Sql,

    // Label-path ranking metrics ≡ pair-truth ranking metrics: q190's
    // oracle VERBATIM over the plan that never materializes the pair frame.
    "q204_ranking_metrics_label" -> q190Sql,

    // q19's arg-max SQL on the 10% user slice — the streamed backward
    // as-of is exact under event-time-ordered arrival, which the joint
    // ts-cut batches guarantee.
    "q191_stream_asof" ->
      """WITH l AS (SELECT user_id, ts, event_id AS click_id
        |           FROM events
        |           WHERE event_type = 'click' AND user_id % 10 = 0),
        |     r AS (SELECT user_id, ts AS pts, event_id AS purchase_id,
        |                  value AS purchase_value
        |           FROM events
        |           WHERE event_type = 'purchase' AND user_id % 10 = 0),
        |     j AS (SELECT l.user_id, l.ts, l.click_id,
        |                  r.purchase_id, r.purchase_value, r.pts,
        |                  row_number() OVER (PARTITION BY l.click_id
        |                    ORDER BY r.pts DESC, r.purchase_id DESC,
        |                             r.purchase_value DESC) AS rn
        |           FROM l LEFT JOIN r
        |             ON l.user_id = r.user_id AND r.pts <= l.ts)
        |SELECT user_id, epoch_ns(ts) AS ts, click_id, purchase_id,
        |       purchase_value, epoch_ns(pts) AS pts
        |FROM j WHERE rn = 1""".stripMargin,

    // q41's arg-min SQL on the slice; the streamed forward as-of needs no
    // tolerance clause here — the sentinel flush is beyond the 50-year
    // tolerance for every click, so it yields exactly this left join's
    // unmatched nulls.
    "q192_stream_asof_fwd" ->
      """WITH l AS (SELECT user_id, ts, event_id AS click_id
        |           FROM events
        |           WHERE event_type = 'click' AND user_id % 10 = 0),
        |     r AS (SELECT user_id, ts AS pts, event_id AS purchase_id,
        |                  value AS purchase_value
        |           FROM events
        |           WHERE event_type = 'purchase' AND user_id % 10 = 0),
        |     j AS (SELECT l.user_id, l.ts, l.click_id,
        |                  r.purchase_id, r.purchase_value, r.pts,
        |                  row_number() OVER (PARTITION BY l.click_id
        |                    ORDER BY r.pts ASC, r.purchase_id DESC,
        |                             r.purchase_value DESC) AS rn
        |           FROM l LEFT JOIN r
        |             ON l.user_id = r.user_id AND r.pts >= l.ts)
        |SELECT user_id, epoch_ns(ts) AS ts, click_id, purchase_id,
        |       purchase_value, epoch_ns(pts) AS pts
        |FROM j WHERE rn = 1""".stripMargin,

    // q103's staged min-time funnel on the slice, plus the streamed
    // operator's stage_reached companion column.
    "q193_stream_funnel" ->
      """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS t
        |           FROM events WHERE user_id % 10 = 0),
        |v AS (SELECT user_id, min(t) AS t_view FROM e
        |      WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.t) AS t_click
        |      FROM e JOIN v USING (user_id)
        |      WHERE e.event_type = 'click' AND e.t > v.t_view GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.t) AS t_purchase
        |      FROM e JOIN c USING (user_id)
        |      WHERE e.event_type = 'purchase' AND e.t > c.t_click GROUP BY 1)
        |SELECT v.user_id, v.t_view, c.t_click, p.t_purchase,
        |       CAST(1 + (CASE WHEN c.t_click IS NULL THEN 0 ELSE 1 END)
        |              + (CASE WHEN p.t_purchase IS NULL THEN 0 ELSE 1 END)
        |            AS INTEGER) AS stage_reached
        |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)"""
        .stripMargin,

    // q113's Markov rollup on the slice — the streamed per-event edges
    // aggregate to exactly the batch lag-pair counts.
    "q194_stream_transitions" ->
      """WITH e AS (SELECT user_id, epoch_ns(ts) AS t, event_id, event_type
        |           FROM events WHERE user_id % 10 = 0),
        |l AS (SELECT event_type AS to_type,
        |             lag(event_type) OVER (PARTITION BY user_id
        |                                   ORDER BY t, event_id) AS from_type
        |      FROM e),
        |c AS (SELECT from_type, to_type, count(*) AS n FROM l
        |      WHERE from_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS tot FROM c GROUP BY 1)
        |SELECT c.from_type, c.to_type, c.n, round(c.n / t.tot, 6) AS p
        |FROM c JOIN t USING (from_type)""".stripMargin,

    // Streamed ≡ batch for the running sketches: the oracles are q71/q72
    // VERBATIM — the strongest possible equivalence statement the gate can
    // express.
    "q195_stream_cms" -> q71Sql,
    "q196_stream_hll" -> q72Sql,

    // The streamed profile's documented running-range rule: min/max over
    // the STRINGIFIED values (lexicographic), counts as usual; one SELECT
    // per profiled column.
    "q197_stream_profile" ->
      Seq("doc_id", "lang", "source", "n_chars").map(c =>
        s"""SELECT '$c' AS "column", count(*) AS n_rows,
           |       count(*) - count($c) AS n_nulls,
           |       min(CAST($c AS VARCHAR)) AS min_str,
           |       max(CAST($c AS VARCHAR)) AS max_str
           |FROM documents""".stripMargin).mkString("\nUNION ALL\n"),

    // Streamed ≡ batch for budget admission when arrival order is the
    // batch operator's (hkey, doc_id) order — q67's prefix SQL verbatim.
    "q198_stream_budget" -> q67Sql,

    // q64's full MinHash replay with the stream/corpus split: odd docs
    // stream against the prepared even-doc band index.
    "q199_stream_neardup" -> {
      val bandSqls = (0 until 4).map(bd =>
        s"list_reduce(sig[${bd * 4 + 1}:${bd * 4 + 4}], (a, b) -> (a*31 + b) % ${Dedup.P}) AS bh$bd")
        .mkString(",\n       ")
      s"""WITH d AS (SELECT doc_id, ${shinglesSql(5)} AS sh FROM documents),
         |d2 AS (SELECT doc_id, sh FROM d WHERE len(sh) > 0),
         |s AS (SELECT doc_id,
         |             list_distinct(list_transform(sh, sg -> ${hSql("sg")})) AS hs,
         |             $sigSql AS sig
         |      FROM d2),
         |b AS (SELECT doc_id, hs,
         |       $bandSqls
         |      FROM s),
         |p AS (SELECT n.doc_id AS id, i.doc_id AS corpus_id,
         |             round(len(list_intersect(n.hs, i.hs))
         |                   / len(list_distinct(list_concat(n.hs, i.hs))), 6) AS jaccard
         |      FROM b n JOIN b i
         |        ON n.doc_id % 2 = 1 AND i.doc_id % 2 = 0
         |       AND (n.bh0 = i.bh0 OR n.bh1 = i.bh1 OR n.bh2 = i.bh2 OR n.bh3 = i.bh3))
         |SELECT id, corpus_id, jaccard FROM p WHERE jaccard >= 0.5""".stripMargin
    },

    // q157's position-model rollup on the slice — the streamed per-credit
    // rows aggregate to the batch attribution exactly.
    "q200_stream_attribution" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS t
        |           FROM events WHERE user_id % 10 = 0),
        |tc AS (SELECT t.event_type AS channel, t.t AS tt,
        |              t.event_id AS tie, c.event_id AS cid, c.user_id
        |       FROM e t JOIN e c ON t.user_id = c.user_id
        |       WHERE c.event_type = 'purchase'
        |         AND t.event_type IN ('click', 'view')
        |         AND t.t >= c.t - 604800000000 AND t.t < c.t),
        |p AS (SELECT channel, user_id, cid,
        |             row_number() OVER (PARTITION BY user_id, cid
        |                                ORDER BY tt, tie) AS pos,
        |             count(*) OVER (PARTITION BY user_id, cid) AS n
        |      FROM tc),
        |cr AS (SELECT channel, user_id, cid,
        |              CAST(round(CASE
        |                WHEN n = 1 THEN CAST(1.0 AS DOUBLE)
        |                WHEN n = 2 THEN CAST(0.5 AS DOUBLE)
        |                WHEN pos = 1 OR pos = n THEN CAST(0.4 AS DOUBLE)
        |                ELSE CAST(0.2 AS DOUBLE) / (CAST(n AS DOUBLE) - 2.0)
        |              END, 6) AS DECIMAL(18,6)) AS credit
        |       FROM p)
        |SELECT channel, CAST(count(*) AS BIGINT) AS n_touches,
        |       CAST(count(DISTINCT (user_id, cid)) AS BIGINT) AS n_conversions,
        |       CAST(sum(credit) AS DOUBLE) AS credit
        |FROM cr GROUP BY 1""".stripMargin,

    // q188's per-occurrence fold replay, with each word carrying its
    // document position so the final rollup can string_agg the symbol
    // strings back in document order — the token sequence itself.
    "q201_bpe_encode_seq" -> {
      def o(acc: String) = s"split_part($acc, chr(1), 1)"
      def p(acc: String) = s"split_part($acc, chr(1), 2)"
      def app(out: String, x: String) =
        s"CASE WHEN $out = '' THEN $x ELSE $out || ' ' || $x END"
      def foldCtes(prev: String, m: String, out: String,
          carry: String): String =
        s"""${out}_0 AS (
           |  SELECT ${carry},
           |         list_reduce(list_prepend(chr(1), str_split(v.s, ' ')),
           |           (acc, x) -> CASE
           |             WHEN ${p("acc")} = ''
           |               THEN ${o("acc")} || chr(1) || x
           |             WHEN ${p("acc")} = m.s1 AND x = m.s2
           |               THEN ${app(o("acc"), "m.s1 || m.s2")} || chr(1)
           |             ELSE ${app(o("acc"), p("acc"))} || chr(1) || x
           |           END) AS r
           |  FROM $prev v CROSS JOIN $m m),
           |$out AS (SELECT ${carry.replace("v.", "")},
           |                CASE WHEN ${p("r")} = '' THEN ${o("r")}
           |                ELSE ${app(o("r"), p("r"))} END AS s
           |         FROM ${out}_0)""".stripMargin
      def vocabLayer(r: Int): String = {
        val v = s"v${r - 1}"
        s"""p${r}_0 AS (SELECT f, str_split(s, ' ') AS a FROM $v
           |            WHERE len(str_split(s, ' ')) >= 2),
           |p${r}_1 AS (SELECT f, a, unnest(range(1, len(a))) AS i FROM p${r}_0),
           |p$r AS (SELECT a[CAST(i AS INTEGER)] AS s1,
           |               a[CAST(i + 1 AS INTEGER)] AS s2,
           |               CAST(sum(f) AS BIGINT) AS n
           |        FROM p${r}_1 GROUP BY 1, 2),
           |m$r AS (SELECT s1, s2, n FROM p$r ORDER BY n DESC, s1, s2 LIMIT 1),
           |${foldCtes(v, s"m$r", s"v$r", "v.f AS f")}""".stripMargin
      }
      val rounds = 5
      s"""WITH w0 AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
         |            FROM documents),
         |vw AS (SELECT w, count(*) AS f FROM w0 GROUP BY w),
         |v0 AS (SELECT array_to_string(
         |                 list_append(list_transform(range(1, len(w) + 1),
         |                   i -> substr(w, CAST(i AS INTEGER), 1)), '</w>'),
         |                 ' ') AS s, f
         |       FROM vw),
         |${(1 to rounds).map(vocabLayer).mkString(",\n")},
         |dw AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
         |       FROM documents),
         |e00 AS (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i
         |        FROM dw),
         |e0 AS (SELECT doc_id, i,
         |              array_to_string(
         |                list_append(list_transform(
         |                  range(1, len(ws[CAST(i AS INTEGER)]) + 1),
         |                  j -> substr(ws[CAST(i AS INTEGER)], CAST(j AS INTEGER), 1)),
         |                  '</w>'),
         |                ' ') AS s
         |       FROM e00),
         |${(1 to rounds).map(r =>
             foldCtes(s"e${r - 1}", s"m$r", s"e$r",
               "v.doc_id AS doc_id, v.i AS i"))
             .mkString(",\n")}
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |       CAST(sum(len(str_split(s, ' '))) AS BIGINT) AS n_sym,
         |       string_agg(s, ' ' ORDER BY i) AS tokens
         |FROM e$rounds GROUP BY doc_id""".stripMargin
    },

    // q183's replay with the keep-one marking: rank each gram's
    // occurrences by (doc_id, p); occurrence 1 of a duplicated gram is
    // canonical and survives, the rest are marked.
    "q202_dedup_spans_keep_one" ->
      """WITH sized AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks,
        |         CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS BIGINT) AS ntok
        |  FROM documents),
        |wins0 AS (
        |  SELECT doc_id, toks,
        |         unnest(generate_series(1, CAST(ntok AS INTEGER) - 4)) AS p
        |  FROM sized WHERE ntok >= 5),
        |wins AS (
        |  SELECT doc_id, CAST(p AS BIGINT) AS p,
        |         array_to_string(toks[p : p + 4], ' ') AS gram
        |  FROM wins0),
        |occ AS (SELECT doc_id, p,
        |               row_number() OVER (PARTITION BY gram
        |                                  ORDER BY doc_id, p) AS rn,
        |               count(*) OVER (PARTITION BY gram) AS c
        |        FROM wins),
        |dw AS (SELECT doc_id, p FROM occ WHERE c > 1 AND rn > 1),
        |covpos0 AS (SELECT doc_id, p, unnest(generate_series(0, 4)) AS o FROM dw),
        |covpos AS (SELECT DISTINCT doc_id, p + o AS pos FROM covpos0),
        |pos0 AS (SELECT doc_id, toks,
        |                unnest(generate_series(1, CAST(ntok AS INTEGER))) AS pos
        |         FROM sized WHERE ntok >= 1),
        |kept AS (SELECT p0.doc_id, CAST(p0.pos AS BIGINT) AS pos,
        |                p0.toks[CAST(p0.pos AS INTEGER)] AS tok
        |         FROM pos0 p0 ANTI JOIN covpos c
        |           ON c.doc_id = p0.doc_id AND c.pos = p0.pos),
        |ka AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |              string_agg(tok, ' ' ORDER BY pos) AS clean_text
        |       FROM kept GROUP BY doc_id)
        |SELECT s.doc_id, s.ntok,
        |       CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
        |       coalesce(k.clean_text, '') AS clean_text
        |FROM sized s LEFT JOIN ka k ON k.doc_id = s.doc_id""".stripMargin,

    // q187's trained vocab layers, then the encoder's output symbols over
    // the distinct-word frame get dense ids in symbol order and weighted
    // occurrence counts.
    "q206_bpe_vocab" -> {
      def o(acc: String) = s"split_part($acc, chr(1), 1)"
      def p(acc: String) = s"split_part($acc, chr(1), 2)"
      def app(out: String, x: String) =
        s"CASE WHEN $out = '' THEN $x ELSE $out || ' ' || $x END"
      def vocabLayer(r: Int): String = {
        val v = s"v${r - 1}"
        s"""p${r}_0 AS (SELECT f, str_split(s, ' ') AS a FROM $v
           |            WHERE len(str_split(s, ' ')) >= 2),
           |p${r}_1 AS (SELECT f, a, unnest(range(1, len(a))) AS i FROM p${r}_0),
           |p$r AS (SELECT a[CAST(i AS INTEGER)] AS s1,
           |               a[CAST(i + 1 AS INTEGER)] AS s2,
           |               CAST(sum(f) AS BIGINT) AS n
           |        FROM p${r}_1 GROUP BY 1, 2),
           |m$r AS (SELECT s1, s2, n FROM p$r ORDER BY n DESC, s1, s2 LIMIT 1),
           |v${r}_0 AS (
           |  SELECT v.f AS f,
           |         list_reduce(list_prepend(chr(1), str_split(v.s, ' ')),
           |           (acc, x) -> CASE
           |             WHEN ${p("acc")} = ''
           |               THEN ${o("acc")} || chr(1) || x
           |             WHEN ${p("acc")} = m.s1 AND x = m.s2
           |               THEN ${app(o("acc"), "m.s1 || m.s2")} || chr(1)
           |             ELSE ${app(o("acc"), p("acc"))} || chr(1) || x
           |           END) AS r
           |  FROM $v v CROSS JOIN m$r m),
           |v$r AS (SELECT CASE WHEN ${p("r")} = '' THEN ${o("r")}
           |               ELSE ${app(o("r"), p("r"))} END AS s, f
           |        FROM v${r}_0)""".stripMargin
      }
      val rounds = 5
      s"""WITH w0 AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
         |            FROM documents),
         |vw AS (SELECT w, count(*) AS f FROM w0 GROUP BY w),
         |v0 AS (SELECT array_to_string(
         |                 list_append(list_transform(range(1, len(w) + 1),
         |                   i -> substr(w, CAST(i AS INTEGER), 1)), '</w>'),
         |                 ' ') AS s, f
         |       FROM vw),
         |${(1 to rounds).map(vocabLayer).mkString(",\n")},
         |syms AS (SELECT f, unnest(str_split(s, ' ')) AS symbol FROM v$rounds),
         |agg AS (SELECT symbol, CAST(sum(f) AS BIGINT) AS n_occ
         |        FROM syms GROUP BY 1)
         |SELECT CAST(row_number() OVER (ORDER BY symbol) AS BIGINT) AS token_id,
         |       symbol, n_occ
         |FROM agg""".stripMargin
    },

    // q201's per-occurrence encode replay + the q206 vocab id mapping,
    // string_agg'd in (word, symbol) order.
    "q207_bpe_encode_ids" -> q207Sql,

    // q207's id replay with the fixed-length training-window layer on
    // top: 16-token sequences per doc in id order, the last window
    // right-padded with -1, n_real = the unpadded length.
    "q211_train_sequences" ->
      s"""WITH ids AS ($q207Sql),
        |arr AS (SELECT doc_id, str_split(token_ids, ',') AS a
        |        FROM ids WHERE token_ids <> ''),
        |w AS (SELECT doc_id, a,
        |             unnest(range(0, CAST(ceil(len(a) / 16.0) AS BIGINT)))
        |               AS seq_idx
        |      FROM arr),
        |sq AS (SELECT doc_id, CAST(seq_idx AS BIGINT) AS seq_idx,
        |              a[CAST(seq_idx * 16 + 1 AS INTEGER)
        |                :CAST(seq_idx * 16 + 16 AS INTEGER)] AS win
        |       FROM w)
        |SELECT doc_id, seq_idx,
        |       array_to_string(list_concat(win,
        |         list_transform(range(1, 16 - len(win) + 1), x -> '-1')),
        |         ',') AS ids,
        |       CAST(len(win) AS BIGINT) AS n_real
        |FROM sq""".stripMargin,

    // The late-data replay's explicit drop rule: batch cuts at the
    // sorted-t offsets len/3 and 2len/3, the held-back set is batch-2
    // rows in the last 6 h before c2 (all) plus the last 48 h with
    // event_id % 3 = 0, and the watermark while batch 3 processes is the
    // ms-floored max on-time event time of batches 1–2 minus 1 s (Spark
    // tracks watermarks in ms). A held-back row survives iff its hour
    // window's end is still above that watermark; on-time rows always
    // survive.
    "q208_stream_late" ->
      """WITH s AS (SELECT event_type, epoch_us(ts) AS t, event_id
        |           FROM events WHERE user_id % 10 = 0),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM s),
        |c1 AS (SELECT t AS c FROM s ORDER BY t
        |       LIMIT 1 OFFSET (SELECT n // 3 FROM nn)),
        |c2 AS (SELECT t AS c FROM s ORDER BY t
        |       LIMIT 1 OFFSET (SELECT 2 * n // 3 FROM nn)),
        |b AS (SELECT event_type, t,
        |             (t >= (SELECT c FROM c1) AND t < (SELECT c FROM c2)
        |              AND (t >= (SELECT c FROM c2) - 21600000000
        |                   OR (t >= (SELECT c FROM c2) - 172800000000
        |                       AND event_id % 3 = 0))) AS held
        |      FROM s),
        |wm AS (SELECT ((max(t) // 1000) - 1000) * 1000 AS w
        |       FROM b WHERE NOT held AND t < (SELECT c FROM c2)),
        |kept AS (SELECT event_type, t FROM b WHERE NOT held
        |         UNION ALL
        |         SELECT event_type, t FROM b, wm
        |         WHERE held
        |           AND ((t // 3600000000) + 1) * 3600000000 > wm.w)
        |SELECT event_type,
        |       CAST((t // 3600000000) * 3600000000 AS BIGINT) AS wstart,
        |       CAST(count(*) AS BIGINT) AS cnt
        |FROM kept GROUP BY 1, 2""".stripMargin,

    // q64's probe replay with the index side restricted to the tombstone
    // SURVIVORS: a logical delete must be indistinguishable from never
    // having indexed the doc.
    "q209_neardup_index_del" -> q64SqlFor(" AND i.doc_id % 6 <> 0"),

    // BM25 replay over the surviving corpus — stats (n, avgdl, df) and
    // postings all come from survivors only; queries still draw from the
    // full documents table.
    "q210_bm25_index_del" -> bm25ReplaySqlFor("doc_id % 9 <> 4"),

    // Best-benchmark-match per corpus vector (4 dp cosine, ties to the
    // smaller bench id), kept where it reaches the 0.3 flag threshold.
    "q212_embed_decontaminate" ->
      """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |b AS (SELECT vec_id AS bid, v FROM c
        |      WHERE vec_id % 37 = 5 AND vec_id < 100000000),
        |s AS (SELECT c.vec_id AS id, b.bid,
        |             round(list_dot_product(c.v, b.v)
        |                   / (sqrt(list_dot_product(c.v, c.v))
        |                      * sqrt(list_dot_product(b.v, b.v))), 4) AS s
        |      FROM c JOIN b ON c.vec_id % 37 <> 5),
        |best AS (SELECT id, bid, s,
        |                row_number() OVER (PARTITION BY id
        |                                   ORDER BY s DESC, bid) AS rn
        |         FROM s)
        |SELECT id, bid AS bench_id, s AS sim
        |FROM best WHERE rn = 1 AND s >= 0.3""".stripMargin,

    // WordPiece vocab selection replay: weighted substring forms off the
    // distinct-word frame, char totality, (count desc, piece) top-k.
    "q213_wordpiece_vocab" ->
      s"""WITH $wordpieceVocabCtes
        |SELECT CAST(row_number() OVER (ORDER BY piece) AS BIGINT)
        |         AS token_id, piece, n_occ
        |FROM voc""".stripMargin,

    // The greedy longest-match walk replayed per distinct word: match
    // lengths precomputed per (word, position), then one list_reduce
    // consumes them left to right (state = emitted ␁ next-pos ␁ unk).
    "q214_wordpiece_encode" -> wordpieceEncodeSql,

    // Full unigram-LM training replay: seed counts, Viterbi E-step
    // (recursive-CTE DP in exact long arithmetic), M-step recount,
    // round-1 scores.
    "q215_unigram_vocab" -> q215Sql,

    // The training replay plus a second Viterbi pass under the trained
    // scores and the per-doc ordered reassembly.
    "q216_unigram_encode" -> q216Sql,

    // The frozen-vocab OOV replay: the encode pass runs under the
    // q-censored score set, so q-bearing words bail to [UNK].
    "q217_unigram_frozen_oov" -> q217Sql,

    // BPE frozen-vocab replay: merges + vocab train on the odd slice, ids
    // assigned densely BEFORE the q-censoring (so the persisted table's id
    // gaps replay), even slice encodes, OOV symbols drop via the inner
    // vocab join.
    "q218_bpe_frozen_ids" ->
      q207SqlFor("doc_id % 2 = 1", "doc_id % 2 = 0", "symbol NOT LIKE '%q%'"),

    // WordPiece frozen-vocab replay: odd-slice vocab, q-censored, even
    // slice encoded — q-bearing words hit the whole-word [UNK] bail.
    "q219_wordpiece_frozen" ->
      wordpieceEncodeSqlFor("doc_id % 2 = 1", "doc_id % 2 = 0",
        "piece NOT LIKE '%q%'"),

    // The full pipeline replay, stage by stage: quality (exact integer
    // predicates) → exact-dup keeper → near-dup keep-first removal (q17's
    // MinHash/LSH chain over the survivors) → 3-gram decontamination vs
    // the every-50th bench slice → q65's hash-Bernoulli mixture → q67's
    // per-lang running-sum budget on the (doc,epoch) key → q66's
    // hash-order shuffle → q56's cumulative pack layout.
    "q220_pipeline" -> q220Sql
  )
}
