package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Dedup, TextFunctions => TF}
import QueryFixtures._

/** Streaming queries: MemoryStream replays whose batch cuts follow
  * event time, so each streamed operator's result equals its batch
  * semantics in the oracle SQL. */
private[graft] object StreamQueries {

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
    * the oracle gate. */
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

  val defs: Seq[QueryDef] = Seq(
    // Streaming interval merge UNDER THE ORACLE GATE: the q28 order spans
    // replayed through mergeIntervalsStream in three time-ordered
    // micro-batches (split at fixed date literals) plus a degenerate
    // far-future flush row that closes every open run. Batches partition
    // event time, so nothing is ever late and the streamed output equals
    // the batch merge EXACTLY — the oracle is q28's SQL verbatim. The
    // StreamingSpec equivalence proofs become a green CORRECTNESS row.
    QueryDef("q175_stream_merge", (sp, dir) => {
      import sp.implicits._
      val (batches, _) = orderSpanBatches(sp, dir)
      replayStream(sp, batches) { df =>
        graft.streaming.StreamingIntervalOps.mergeIntervalsStream(
          streamSpans(df), Seq("k"), "span", "ts", "1 second")
      }.select(col("k").as("o_custkey"), col("span.start").as("mstart"),
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

    // Streaming gaps under the oracle gate: same replay, the complement
    // operator — uncovered regions strictly between closed runs. Equals
    // batch gaps (q36's oracle SQL verbatim) by the same no-late-data
    // argument; the trailing open-ended region never emits in either.
    QueryDef("q176_stream_gaps", (sp, dir) => {
      import sp.implicits._
      val (batches, _) = orderSpanBatches(sp, dir)
      replayStream(sp, batches) { df =>
        graft.streaming.StreamingIntervalOps.gapsStream(
          streamSpans(df), Seq("k"), "span", "ts", "1 second")
      }.select(col("k").as("o_custkey"), col("span.start").as("gstart"),
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

    // Streaming online packing under the oracle gate: the q56 corpus
    // arrives in three id-ordered micro-batches; the per-bucket cursor
    // carries across batches, and id-ordered arrival makes the layout
    // equal the batch packStream bit for bit (q56's oracle SQL verbatim).
    QueryDef("q177_stream_packing", (sp, dir) => {
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
    },
      // Id-ordered arrival makes the online packer equal the batch layout
      // bit for bit: q56's cumulative-cursor replay verbatim, over the same
      // bounded 10% doc slice the replay harness feeds (the q184 idiom).
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
         |FROM c""".stripMargin),

    // Streaming sessionization under the oracle gate (the last of
    // VERDICT-r8's merge/gaps/sessionize/packing conversion list): a 10%
    // user slice of events replays in three time-ordered micro-batches +
    // a far-future flush that closes every session; Spark's native
    // session_window state merges and emits on watermark pass. The oracle
    // replays session_window's RIGHT-OPEN gap rule (t − prev >= gap
    // splits) — the one documented divergence from batch q29, whose
    // lag-based rule splits strictly greater.
    QueryDef("q184_stream_sessionize", (sp, dir) => {
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
    },
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
        |FROM s GROUP BY user_id, session""".stripMargin),

    // q191–q200: the remaining streaming operators under the oracle gate
    // (VERDICT-r9 #1). Same replay contract as q175–q177/q184: time-cut
    // micro-batches make arrival order = event-time order, so each
    // streamed operator's documented exactness condition holds and the
    // oracle is the batch semantics in SQL. The events fixture has no
    // (user_id, ts) ties (checked at sf0.01 and sf0.1), so every in-batch
    // (ts)-sort below is a total order per key.
    // Streaming BACKWARD as-of under the oracle gate: q19's clicks and
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
    QueryDef("q191_stream_asof", (sp, dir) => {
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
    },
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
        |FROM j WHERE rn = 1""".stripMargin),

    // Streaming FORWARD as-of under the oracle gate: pending clicks buffer
    // per user until the next purchase resolves them. Clicks with no later
    // purchase would pend forever, so the final batch carries one
    // far-future sentinel purchase per sliced user; a 50-year tolerance
    // (≫ any real gap, ≪ the 100-year sentinel offset) makes the sentinel
    // resolve those clicks UNMATCHED — exactly the batch left-join's
    // nulls. Same single side-tagged stream as q191 (atomic joint
    // batches). Oracle = q41's arg-min SQL on the slice, no tolerance.
    QueryDef("q192_stream_asof_fwd", (sp, dir) => {
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
    },
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
        |FROM j WHERE rn = 1""".stripMargin),

    // Streaming first-touch funnel under the oracle gate: the slice
    // replays through the per-key stage machine; each batch in which a
    // user advanced re-emits the running stage times, and since stages
    // only move forward, the per-user MAX of each column is the final
    // snapshot = the batch funnel for every user that reached stage 1.
    QueryDef("q193_stream_funnel", (sp, dir) => {
      import sp.implicits._
      replayStream(sp, eventSliceBatches(sp, dir, "ns")) { df =>
        graft.streaming.StreamingFunnel.funnelStream(
          df.toDF("user_id", "ts", "event_id", "et"),
          Seq("user_id"), "et", "ts", Seq("view", "click", "purchase"))
      }.groupBy("user_id")
        .agg(max("t_view").as("t_view"), max("t_click").as("t_click"),
          max("t_purchase").as("t_purchase"),
          max("stage_reached").as("stage_reached"))
    },
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
        .stripMargin),

    // Streaming Markov transition feed under the oracle gate: the
    // per-event (from, to) edges stream out of the per-key last-event
    // state; their count rollup equals q113's batch matrix on the slice.
    QueryDef("q194_stream_transitions", (sp, dir) => {
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
    },
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
        |FROM c JOIN t USING (from_type)""".stripMargin),

    // Streaming count-min sketch under the oracle gate: the documents'
    // tokens stream in three batches through the running sketch (complete
    // mode — the state IS the sketch, at most depth×width rows); the final
    // snapshot equals the batch sketch of the union, pinned by probing it
    // with q71's exact truth join. Salt "q71" on purpose: the oracle is
    // q71's SQL verbatim — streamed ≡ batch, as a hash-checked row.
    QueryDef("q195_stream_cms", (sp, dir) => {
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
    },
      q71Sql),

    // Streaming HyperLogLog under the oracle gate: running registers in
    // complete mode (2^8 state rows forever); the final snapshot feeds the
    // same estimator as batch q72 and the oracle is q72's SQL verbatim.
    QueryDef("q196_stream_hll", (sp, dir) => {
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
    },
      q72Sql),

    // Streaming data-quality profile under the oracle gate: one running
    // state row per profiled column (complete mode); the final snapshot is
    // the batch profile minus the distinct count, with min/max over the
    // STRINGIFIED values (the operator's documented running-range rule —
    // the oracle replays the lexicographic min/max explicitly).
    QueryDef("q197_stream_profile", (sp, dir) => {
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
    },
      Seq("doc_id", "lang", "source", "n_chars").map(c =>
        s"""SELECT '$c' AS "column", count(*) AS n_rows,
           |       count(*) - count($c) AS n_nulls,
           |       min(CAST($c AS VARCHAR)) AS min_str,
           |       max(CAST($c AS VARCHAR)) AS max_str
           |FROM documents""".stripMargin).mkString("\nUNION ALL\n")),

    // Streaming budget admission under the oracle gate: the stream arrives
    // in the batch operator's (salted hash, key) order — three consecutive
    // chunks of it — so the online admitted set equals batch q67 exactly
    // and the oracle is q67's prefix-sum SQL verbatim.
    QueryDef("q198_stream_budget", (sp, dir) => {
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
    },
      q67Sql),

    // Streaming near-dup-against-corpus under the oracle gate: even docs
    // are the prepared static corpus (band index, persisted), odd docs
    // stream through the stateless band equi-join + exact-Jaccard verify.
    // Oracle = q64's full MinHash replay with the stream/corpus split.
    QueryDef("q199_stream_neardup", (sp, dir) => {
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
    }, {
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
    }),

    // Streaming multi-touch attribution under the oracle gate: per-credit
    // rows stream out of the bounded touch buffer; their per-channel
    // DECIMAL rollup equals batch q157 on the slice (µs times, the batch
    // operator's unit).
    QueryDef("q200_stream_attribution", (sp, dir) => {
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
    },
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
        |FROM cr GROUP BY 1""".stripMargin),

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
    QueryDef("q208_stream_late", (sp, dir) => {
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
    },
      // The late-data replay's explicit drop rule: batch cuts at the
      // sorted-t offsets len/3 and 2len/3, the held-back set is batch-2
      // rows in the last 6 h before c2 (all) plus the last 48 h with
      // event_id % 3 = 0, and the watermark while batch 3 processes is the
      // ms-floored max on-time event time of batches 1–2 minus 1 s (Spark
      // tracks watermarks in ms). A held-back row survives iff its hour
      // window's end is still above that watermark; on-time rows always
      // survive.
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
        |FROM kept GROUP BY 1, 2""".stripMargin)
  )
}
