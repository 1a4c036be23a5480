package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Reference-parity façade: the three public entry points of
  * DataFrameIntervals.jl (`interval_join`, `quantile_windows`,
  * `groupby_interval_join` — reference `src/DataFrameIntervals.jl:4`),
  * re-expressed Spark-first, plus implicit syntax on DataFrame.
  *
  * {{{
  * import graft.api._
  * val quarters = quantileWindows(4, df, spancol = "span", label = "quarter")
  * df.intervalJoin(quarters, on = "span")
  *   .groupBy("quarter").agg(...)
  * }}}
  */
package object api {

  type JoinOptions = operators.IntervalJoin.Options
  val JoinOptions: operators.IntervalJoin.Options.type = operators.IntervalJoin.Options
  type Selector = operators.GroupedIntervalJoin.Selector
  val Selector: operators.GroupedIntervalJoin.Selector.type = operators.GroupedIntervalJoin.Selector

  /** Reference `interval_join(left, right; on, ...)`. */
  def intervalJoin(left: DataFrame, right: DataFrame, on: String,
      opts: JoinOptions = JoinOptions()): DataFrame =
    operators.IntervalJoin.intervalJoin(left, right, on, opts)

  /** Reference `quantile_windows(n, df; spancol, label)`. */
  def quantileWindows(n: Long, df: DataFrame, spancol: String = "span",
      label: String = "index"): DataFrame =
    operators.QuantileWindows.quantileWindows(n, df, spancol, label)

  /** Reference `quantile_windows(n, span)` with an explicit [lo, hi) span. */
  def quantileWindows(spark: SparkSession, n: Long, lo: Long, hi: Long): DataFrame =
    operators.QuantileWindows.quantileWindows(spark, n, lo, hi)

  /** Reference `groupby_interval_join(left, right, groups; on, ...)`. */
  def groupbyIntervalJoin(left: DataFrame, right: DataFrame, groups: Seq[Selector],
      on: (String, String), opts: JoinOptions = JoinOptions()): operators.GroupedIntervalJoin.Grouped =
    operators.GroupedIntervalJoin.groupbyIntervalJoin(left, right, groups, on, opts)

  implicit final class IntervalDataFrameOps(private val df: DataFrame) extends AnyVal {
    def intervalJoin(right: DataFrame, on: String): DataFrame =
      operators.IntervalJoin.intervalJoin(df, right, on)
    def intervalJoin(right: DataFrame, on: String, opts: JoinOptions): DataFrame =
      operators.IntervalJoin.intervalJoin(df, right, on, opts)
    def intervalJoin(right: DataFrame, on: (String, String), opts: JoinOptions): DataFrame =
      operators.IntervalJoin.intervalJoin(df, right, on, opts)
    def quantileWindows(n: Long, spancol: String = "span", label: String = "index"): DataFrame =
      operators.QuantileWindows.quantileWindows(n, df, spancol, label)

    /** As-of join (default backward: latest right row at or before each left
      * ts, per key; pass `direction` for Forward/Nearest). */
    def asofJoin(right: DataFrame, leftTs: String, rightTs: String,
        by: Seq[(String, String)], tolerance: Option[Long] = None,
        direction: operators.AsofJoin.Direction = operators.AsofJoin.Direction.Backward): DataFrame =
      operators.AsofJoin.asofJoin(df, right, leftTs, rightTs, by, tolerance, direction)

    /** Coalesce overlapping/touching intervals per key (interval-set union). */
    def mergeIntervals(keys: Seq[String], spancol: String = "span"): DataFrame =
      operators.IntervalOps.mergeIntervals(df, keys, spancol)

    /** Interval-set measure per key: total covered duration, overlaps counted once. */
    def coveredDuration(keys: Seq[String], spancol: String = "span"): DataFrame =
      operators.IntervalOps.coveredDuration(df, keys, spancol)

    /** Maximal uncovered intervals between covered runs, per key. */
    def intervalGaps(keys: Seq[String], spancol: String = "span"): DataFrame =
      operators.IntervalOps.gaps(df, keys, spancol)

    /** Regions covered by BOTH this frame's and `other`'s interval sets. */
    def intervalSetIntersect(other: DataFrame, keys: Seq[String],
        spancol: String = "span"): DataFrame =
      operators.IntervalOps.setIntersect(df, other, keys, spancol)

    /** Regions covered by this frame's set but not `other`'s. */
    def intervalSetSubtract(other: DataFrame, keys: Seq[String],
        spancol: String = "span"): DataFrame =
      operators.IntervalOps.setSubtract(df, other, keys, spancol)

    /** Gap-split point events into interval sessions per key. */
    def sessionize(keys: Seq[String], tsCol: String, gapNs: Long): DataFrame =
      operators.IntervalOps.sessionize(df, keys, tsCol, gapNs)

    /** Concatenate-and-chop sequence packing into `capacity`-token packs,
      * sharded over deterministic hash buckets (see [[functions.Packing]]). */
    def packStream(idCol: String, nTokens: org.apache.spark.sql.Column,
        capacity: Long, nBuckets: Int = 32): DataFrame =
      functions.Packing.packStream(df, idCol, nTokens, capacity, nBuckets)

    /** Per-document sliding token windows of `window` tokens every `stride`. */
    def chunkByTokens(idCol: String, textCol: String,
        window: Int, stride: Int): DataFrame =
      functions.Packing.chunkByTokens(df, idCol, textCol, window, stride)

    /** Deterministic hash split (train/val/test) on a key column. */
    def splitByHash(keyCol: String,
        fractions: Seq[(String, Double)]): DataFrame =
      functions.Sampling.splitByHash(df, keyCol, fractions)

    /** MinHash-LSH near-duplicate pairs at the library's default operating
      * point (k=16, 4 bands, 5-char shingles); see [[functions.Dedup]]. */
    def nearDupPairs(textCol: String, idCol: String,
        threshold: Double = 0.5): DataFrame =
      functions.Dedup.nearDupPairs(df, textCol, idCol,
        k = 16, bands = 4, shingleN = 5, threshold = threshold)

    /** Plan-shape facts for CI gates ([[plans.PlanAudit]]). */
    def planAudit: plans.PlanAudit.Audit = plans.PlanAudit.audit(df)
  }
}
