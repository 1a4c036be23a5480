package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.{TextFunctions => TF}
import QueryFixtures._

/** Delegated-SQL queries: shapes Spark plans natively (aggregates,
  * windows, equi/semi/anti joins, grouping sets, pivots, scalar
  * functions) over the TPC-H and events tables. */
private[graft] object DelegatedQueries {

  val defs: Seq[QueryDef] = Seq(
    // Delegated: hash aggregate with exact decimal sums (TPC-H Q1 shape)
    QueryDef("q20_delegated_agg", (sp, dir) => {
      // sum exactly in DECIMAL, then emit DOUBLE: parquet DECIMAL reaches the
      // oracle compare as python Decimal objects while DuckDB decimals come
      // back float64 — same value, different dtype, hash mismatch. One final
      // exact->double conversion on BOTH sides agrees bit-for-bit.
      table(sp, dir, "lineitem").groupBy("l_returnflag", "l_linestatus").agg(
        sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"),
        sum(col("l_extendedprice").cast(DecimalType(18, 2))).cast("double").as("sum_price"),
        count(lit(1)).as("n"))
    },
      """SELECT l_returnflag, l_linestatus,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |       count(*) AS n
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin),

    // Delegated: window function (top order per customer)
    QueryDef("q21_delegated_window", (sp, dir) => {
      val o = table(sp, dir, "orders")
      val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
      o.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    },
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn = 1""".stripMargin),

    // Delegated: multi-way equi-join + aggregate (broadcast dims)
    QueryDef("q22_delegated_join_agg", (sp, dir) => {
      val c = table(sp, dir, "customer")
      val o = table(sp, dir, "orders")
      val n = table(sp, dir, "nation")
      o.join(c, o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .groupBy("n_name")
        .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("rev"),
          count(lit(1)).as("n_orders"))
    },
      """SELECT n_name, CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev, count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin),

    // Delegated: ordered-set aggregates (exact interpolated percentiles)
    QueryDef("q38_delegated_percentile", (sp, dir) => {
      table(sp, dir, "lineitem").groupBy("l_returnflag").agg(
        round(expr("percentile(l_quantity, 0.5)"), 6).as("p50"),
        round(expr("percentile(l_quantity, 0.9)"), 6).as("p90"),
        round(expr("percentile(l_extendedprice, 0.25)"), 6).as("p25e"))
    },
      """SELECT l_returnflag,
        |       round(quantile_cont(l_quantity, 0.5), 6) AS p50,
        |       round(quantile_cont(l_quantity, 0.9), 6) AS p90,
        |       round(quantile_cont(l_extendedprice, 0.25), 6) AS p25e
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),

    // Delegated: anti join (customers without orders)
    QueryDef("q23_delegated_anti", (sp, dir) => {
      val c = table(sp, dir, "customer")
      val o = table(sp, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti").select("c_custkey")
    },
      """SELECT c_custkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin),

    // Delegated: semi join (customers WITH at least one order)
    QueryDef("q43_delegated_semi", (sp, dir) => {
      val c = table(sp, dir, "customer")
      val o = table(sp, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select("c_custkey", "c_nationkey")
    },
      """SELECT c_custkey, c_nationkey FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin),

    // Delegated: deterministic top-k (total order via the unique key tiebreak)
    QueryDef("q44_delegated_topk", (sp, dir) =>
      table(sp, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)
        .select("o_orderkey", "o_custkey", "o_totalprice"),
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin),

    // Delegated: pivot — one column per order status, exact decimal sums
    // emitted as DOUBLE (same dtype rule as q20)
    QueryDef("q45_delegated_pivot", (sp, dir) =>
      table(sp, dir, "orders")
        .groupBy("o_orderpriority")
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(sum(col("o_totalprice").cast(DecimalType(18, 2))))
        .select(col("o_orderpriority"),
          col("F").cast("double").as("f_total"),
          col("O").cast("double").as("o_total"),
          col("P").cast("double").as("p_total")),
      """SELECT o_orderpriority,
        |       CAST(sum(CASE WHEN o_orderstatus = 'F'
        |                     THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS f_total,
        |       CAST(sum(CASE WHEN o_orderstatus = 'O'
        |                     THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS o_total,
        |       CAST(sum(CASE WHEN o_orderstatus = 'P'
        |                     THEN CAST(o_totalprice AS DECIMAL(18,2)) END) AS DOUBLE) AS p_total
        |FROM orders GROUP BY o_orderpriority""".stripMargin),

    // Delegated: JSON scalar extraction + aggregate over the events payload
    QueryDef("q37_delegated_json", (sp, dir) => {
      table(sp, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"), max(col("k")).as("max_k"))
    },
      """SELECT event_type, count(*) AS n,
        |       CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |       min(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
        |       max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY event_type""".stripMargin),

    // Delegated: rollup (grouping sets) with exact decimal sums
    QueryDef("q24_delegated_rollup", (sp, dir) => {
      table(sp, dir, "orders")
        .rollup(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("total"))
    },
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin),

    // Delegated: cube (all grouping combinations); grouping_id disambiguates
    // a rolled-up NULL from NULL data, and both engines agree on the bitmask
    // convention (first grouping column = most significant bit)
    QueryDef("q47_delegated_cube", (sp, dir) =>
      table(sp, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).cast("double").as("total")),
      """SELECT o_orderstatus, o_orderpriority,
        |       GROUPING(o_orderstatus, o_orderpriority) AS gid, count(*) AS n,
        |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin),

    // Delegated: explicit grouping sets (status-only, priority-only, grand
    // total — a set ROLLUP/CUBE can't express)
    QueryDef("q48_delegated_grouping_sets", (sp, dir) =>
      table(sp, dir, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderstatus")), Seq(col("o_orderpriority")), Seq()),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(grouping_id().as("gid"), count(lit(1)).as("n")),
      """SELECT o_orderstatus, o_orderpriority,
        |       GROUPING(o_orderstatus, o_orderpriority) AS gid, count(*) AS n
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin),

    // Delegated: distinct aggregates (Catalyst plans the multi-distinct via
    // Expand + two-phase partial aggregation — one shuffle per distinct set)
    QueryDef("q49_delegated_distinct", (sp, dir) =>
      table(sp, dir, "lineitem").groupBy("l_returnflag").agg(
        countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(col("l_partkey")).as("n_part"),
        count(lit(1)).as("n")),
      """SELECT l_returnflag,
        |       count(DISTINCT l_suppkey) AS n_supp,
        |       count(DISTINCT l_partkey) AS n_part,
        |       count(*) AS n
        |FROM lineitem GROUP BY l_returnflag""".stripMargin),

    // Delegated: correlated scalar subquery (per-customer max order price;
    // NULL for order-less customers) — exercises Catalyst's subquery
    // decorrelation into an aggregate + left outer join
    QueryDef("q50_delegated_scalar_subquery", (sp, dir) => {
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
    },
      """SELECT c_custkey,
        |  (SELECT max(o_totalprice) FROM orders o
        |   WHERE o.o_custkey = c.c_custkey
        |     AND o.o_orderstatus = 'P') AS max_p_price
        |FROM customer c""".stripMargin),

    // Delegated: array aggregation + array functions (per-nation ordered
    // supplier list, serialized — the compare gate hashes scalars, and a
    // joined string pins both engines to one canonical rendering)
    QueryDef("q51_delegated_arrayagg", (sp, dir) =>
      table(sp, dir, "supplier")
        .groupBy(col("s_nationkey").cast("long").as("nk"))
        .agg(count(lit(1)).as("n_supp"),
          array_join(sort_array(collect_list(col("s_suppkey"))), ",").as("supps")),
      """SELECT CAST(s_nationkey AS BIGINT) AS nk, count(*) AS n_supp,
        |       array_to_string(list_sort(list(s_suppkey)), ',') AS supps
        |FROM supplier GROUP BY 1""".stripMargin),

    // Delegated: set operations (intersect/except on key sets)
    QueryDef("q25_delegated_setops", (sp, dir) => {
      val c = table(sp, dir, "customer").select(col("c_nationkey").cast("int").as("k"))
      val s = table(sp, dir, "supplier").select(col("s_nationkey").cast("int").as("k"))
      c.intersect(s).withColumn("tag", lit("both"))
        .unionByName(c.except(s).withColumn("tag", lit("cust_only")))
    },
      """WITH c AS (SELECT CAST(c_nationkey AS INT) AS k FROM customer),
        |s AS (SELECT CAST(s_nationkey AS INT) AS k FROM supplier)
        |SELECT k, 'both' AS tag FROM (SELECT k FROM c INTERSECT SELECT k FROM s)
        |UNION ALL
        |SELECT k, 'cust_only' AS tag FROM (SELECT k FROM c EXCEPT SELECT k FROM s)""".stripMargin),

    // Delegated: scalar string/date/math functions in one projection
    QueryDef("q26_delegated_scalars", (sp, dir) => {
      table(sp, dir, "orders").select(
        col("o_orderkey"),
        upper(substring(col("o_orderpriority"), 1, 3)).as("pri3"),
        length(col("o_orderstatus")).as("st_len"),
        year(col("o_orderdate").cast("timestamp")).as("yr"),
        month(col("o_orderdate").cast("timestamp")).as("mo"),
        round(sqrt(col("o_totalprice")), 6).as("sq"),
        pmod(col("o_orderkey") * 2654435761L, lit(1000000007L)).as("hashed"))
    },
      """SELECT o_orderkey,
        |       upper(substr(o_orderpriority, 1, 3)) AS pri3,
        |       len(o_orderstatus) AS st_len,
        |       year(o_orderdate) AS yr,
        |       month(o_orderdate) AS mo,
        |       round(sqrt(o_totalprice), 6) AS sq,
        |       (o_orderkey * 2654435761) % 1000000007 AS hashed
        |FROM orders""".stripMargin),

    // Delegated: event-time HOPPING window aggregation (1 h windows every
    // 30 min — each event lands in two) via Spark's built-in window();
    // epoch-aligned starts replayed as integer arithmetic in the oracle.
    // The summed value goes through floor(value*1000) so the aggregate is
    // an exact integer in any addition order.
    QueryDef("q87_hopping_window", (sp, dir) =>
      table(sp, dir, "events")
        .select(col("event_type"), col("ts").cast("timestamp").as("t"),
          floor(col("value") * 1000).cast("long").as("v"))
        .groupBy(window(col("t"), "1 hour", "30 minutes"), col("event_type"))
        .agg(count(lit(1)).as("cnt"), sum("v").as("sum_v"))
        .select(unix_micros(col("window.start")).as("ws"),
          unix_micros(col("window.end")).as("we"),
          col("event_type"), col("cnt"), col("sum_v")),
      // Each event belongs to the two hop-aligned windows m and m-1
      // (size = 2 x hop): w_start = (t_us div hop - k) * hop, k in {0, 1},
      // kept iff t < w_start + size. Pure integer µs arithmetic.
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
        |FROM w GROUP BY ws, event_type""".stripMargin),

    // Skew-mitigating salted equi-join: lineitem (probe, salted 4 ways by a
    // full-row hash) x orders (build, replicated per salt), joined on
    // (l_orderkey, salt) — row-identical to the plain join, so the oracle
    // IS the plain join. The hot-key spread is the point at 100 TB; the
    // aggregate keeps the checked output small.
    QueryDef("q98_salted_join", (sp, dir) => {
      val l = table(sp, dir, "lineitem").select("l_orderkey", "l_quantity")
      val o = table(sp, dir, "orders")
        .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
      graft.operators.SkewJoin.saltedJoin(l, o, Seq("l_orderkey"), nSalts = 4)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast("double").as("sum_qty"))
    },
      """SELECT o_orderpriority, count(*) AS n_items,
        |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority""".stripMargin),

    // Delegated: trailing event-time rolling aggregates — per user, the
    // count and sum of the preceding hour (RANGE frame over exact ns
    // longs; the measure integer-ized so the sum is order-exact).
    QueryDef("q99_rolling_window", (sp, dir) => {
      val e = table(sp, dir, "events").select(col("user_id"), col("event_id"),
        expr("unix_micros(cast(ts as timestamp)) * 1000").as("t"),
        floor(col("value") * 1000).cast("long").as("v"))
      val w = Window.partitionBy("user_id").orderBy("t")
        .rangeBetween(-3600000000000L, 0L)
      e.select(col("user_id"), col("event_id"), col("t"),
        count(lit(1)).over(w).as("roll_n"), sum("v").over(w).as("roll_sum"))
    },
      """WITH e AS (SELECT user_id, event_id, epoch_ns(ts) AS t,
        |                  CAST(floor(value * 1000) AS BIGINT) AS v
        |           FROM events)
        |SELECT user_id, event_id, t,
        |       CAST(count(*) OVER w AS BIGINT) AS roll_n,
        |       CAST(sum(v) OVER w AS BIGINT) AS roll_sum
        |FROM e
        |WINDOW w AS (PARTITION BY user_id ORDER BY t
        |             RANGE BETWEEN 3600000000000 PRECEDING AND CURRENT ROW)
        |""".stripMargin),

    // Delegated: per-language rank (quantile) normalization of the quality
    // score — percent_rank is (rank-1)/(n-1) on exact integers, ties share
    // a rank, single-row groups are 0 by definition in both engines.
    QueryDef("q107_rank_normalize", (sp, dir) => {
      val d = table(sp, dir, "documents").select(col("doc_id"), col("lang"),
        TF.qualityScore(col("text")).as("quality"))
      val w = Window.partitionBy("lang").orderBy("quality")
      d.select(col("doc_id"), col("lang"), col("quality"),
        round(percent_rank().over(w), 6).as("qnorm"))
    },
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
        |FROM d""".stripMargin),

    // Delegated: equi-depth (ntile) histogram of the integer-scaled value
    // per event type — deterministic bucketing on the unique (v, event_id)
    // order, identical remainder rule in both engines.
    QueryDef("q110_equidepth_hist", (sp, dir) => {
      val e = table(sp, dir, "events").select(col("event_type"),
        floor(col("value") * 1000).cast("long").as("v"), col("event_id"))
      val w = Window.partitionBy("event_type").orderBy("v", "event_id")
      e.select(col("event_type"), col("v"), ntile(8).over(w).as("bucket"))
        .groupBy("event_type", "bucket")
        .agg(min("v").as("lo"), max("v").as("hi"), count(lit(1)).as("n"))
    },
      """WITH e AS (SELECT event_type,
        |                  CAST(floor(value * 1000) AS BIGINT) AS v, event_id
        |           FROM events),
        |b AS (SELECT event_type, v,
        |             ntile(8) OVER (PARTITION BY event_type
        |                            ORDER BY v, event_id) AS bucket
        |      FROM e)
        |SELECT event_type, bucket, min(v) AS lo, max(v) AS hi,
        |       count(*) AS n
        |FROM b GROUP BY 1, 2""".stripMargin)
  )
}
