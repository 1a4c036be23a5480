package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.intervals.IntervalCols._
import graft.operators.IntervalJoin

/** Structured Streaming variants of the interval operators (beyond the
  * reference's batch-only surface — SURVEY §7 stretch; the reference has no
  * streaming at all, `SURVEY.md §1.4`).
  *
  * Two shapes:
  *
  *  - [[joinStreamStatic]]: streaming intervals × static window/dimension
  *    frame. A stream-static inner join is stateless — each micro-batch
  *    probes an index over the static side, built once; safe in `append`
  *    mode at any scale.
  *  - [[joinStreamStream]]: stream×stream overlap join. Both sides carry
  *    event-time watermarks on their interval start; the join condition
  *    adds explicit time-range bounds relating the two event-time columns
  *    (required by Spark for state cleanup) derived from a caller-provided
  *    maximum interval duration.
  *
  * Intervals use the same canonical `struct<start,stop>` long-ns columns;
  * event-time columns for watermarking must be `TimestampType`, so callers
  * pass the interval bounds also as timestamp columns (`tsCol`).
  */
object StreamingIntervalJoin {

  /** Overlap-join a stream of intervals (`on` struct column) against a
    * small static frame (e.g. `quantileWindows` output), appending the
    * intersection column named after the stream's `on` column. The static
    * side is indexed once, when the frame is built ([[IntervalJoin]]'s
    * `Strategy.Index`, whatever its size — it is the declared small side),
    * and every micro-batch probes that index. Column naming follows the
    * batch operator's contract (left = stream); rows with a NULL `on` value
    * match nothing. */
  def joinStreamStatic(stream: DataFrame, static: DataFrame,
      on: (String, String),
      renameon: (String => String, String => String) = (_ + "_left", _ + "_right")): DataFrame =
    IntervalJoin.intervalJoin(stream, static, on, IntervalJoin.Options(renameon = renameon,
      checkMissing = false, strategy = IntervalJoin.Strategy.Index, maxRangeRows = Long.MaxValue))

  /** Streaming sessionization — the streaming variant of
    * `IntervalOps.sessionize` (gap-split event sessions per key), built on
    * Spark's native `session_window` stateful aggregation: state merges
    * sessions as events arrive and is evicted once the watermark passes a
    * session's close, at which point the session emits in `append` mode.
    * Output: key columns, `span` = [first event, last event] as a
    * timestamp-struct interval, `n_events` — same observable contract as
    * the batch operator (whose span is also [min ts, max ts]).
    *
    * @param gap  session gap as a SQL interval string, e.g. "30 minutes" */
  def sessionize(events: DataFrame, keys: Seq[String], tsCol: String,
      gap: String, watermarkDelay: String): DataFrame =
    events.withWatermark(tsCol, watermarkDelay)
      .groupBy(session_window(col(tsCol), gap) +: keys.map(col): _*)
      .agg(count(lit(1)).as("n_events"),
        min(col(tsCol)).as("__first"), max(col(tsCol)).as("__last"))
      .select(keys.map(col) ++ Seq(
        struct(col("__first").as("start"), col("__last").as("stop")).as("span"),
        col("n_events")): _*)

  /** Stream×stream overlap join with watermark-driven state cleanup.
    *
    * @param maxDuration  upper bound on any interval's length (ns); bounds
    *                     how far apart matching starts can be, letting Spark
    *                     evict join state past the watermark.
    * @param tsCol        name of the TimestampType event-time column present
    *                     on both sides (the interval start as a timestamp).
    */
  def joinStreamStream(left: DataFrame, right: DataFrame,
      on: (String, String), tsCol: String,
      watermarkDelay: String, maxDuration: Long): DataFrame = {
    val (lOn, rOn) = on
    val lOnF = lOn + "_left"
    val rOnF = rOn + "_right"
    // Spark requires an equality predicate on stream-stream joins: bin each
    // interval's start by maxDuration. Overlap bounds the two starts within
    // ±maxDuration, i.e. bins differ by at most 1 — so the right side
    // replicates to its 3 adjacent bins and each matching pair meets on
    // exactly one equality (the left row's single bin). State is evicted by
    // the watermarks plus the event-time range condition.
    val l = left.withColumnRenamed(lOn, lOnF).withColumnRenamed(tsCol, "__lts")
      .withWatermark("__lts", watermarkDelay)
      .withColumn("__lbin", expr(s"$lOnF.start div ${maxDuration}L"))
    val r = right.withColumnRenamed(rOn, rOnF).withColumnRenamed(tsCol, "__rts")
      .withWatermark("__rts", watermarkDelay)
      .withColumn("__rbin",
        explode(expr(s"array($rOnF.start div ${maxDuration}L - 1, " +
          s"$rOnF.start div ${maxDuration}L, $rOnF.start div ${maxDuration}L + 1)")))
    val maxDurExpr = expr(s"INTERVAL ${maxDuration / 1000L} MICROSECOND")
    l.join(r,
      col("__lbin") === col("__rbin") &&
        overlaps(col(lOnF), col(rOnF)) &&
        col("__rts") >= col("__lts") - maxDurExpr &&
        col("__rts") <= col("__lts") + maxDurExpr,
      "inner")
      .withColumn(lOn, intersection(col(lOnF), col(rOnF)))
      .drop("__lbin", "__rbin")
  }
}
