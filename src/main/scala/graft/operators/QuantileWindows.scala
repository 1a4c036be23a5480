package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{Metadata, MetadataBuilder}
import graft.intervals.IntervalCols

/** Window generation (reference I5 `quantile_windows`,
  * `src/DataFrameIntervals.jl:348-378`): n equal-width, half-open, contiguous
  * intervals covering a span, plus a label column (default `index` = 1..n —
  * the code default wins over the docstring's `:count`, quirk 1 SURVEY §2.1).
  *
  * Spark shape: `spark.range(n)` + pure column arithmetic — one narrow stage,
  * no shuffle, arbitrarily large n. Boundary math is exact 64-bit integer:
  * `b(i) = lo + i*(W div n) + (i*(W mod n)) div n` with `W = hi - lo`, which
  * yields `b(0)=lo`, `b(n)=hi`, widths equal within 1 ns — matching the
  * reference's Float64-ns round-down arithmetic within its own tested
  * tolerance (`src/DataFrameIntervals.jl:341-346`, `test/runtests.jl:22-29`)
  * without any floating-point precision loss at epoch-scale magnitudes.
  * `i*(W mod n)` stays < n² so nothing overflows even for hi-lo ≈ 2^62.
  *
  * ## The grid hint
  *
  * The span column the window frame outputs carries its grid as column
  * metadata: longs under the keys `graft.grid.lo`, `graft.grid.hi` and
  * `graft.grid.n` (`lo`, `hi` and `n` of the call; µs ticks for timestamp
  * windows, the join's internal tick space). `IntervalJoin` bins on that grid instead of nested-looping
  * over the windows. The metadata is a hint, not a contract: Spark keeps it
  * through filters, renames and unions that no longer match it, and a
  * wrong hint costs only speed, never a row (see `IntervalJoin`'s binned
  * plan).
  */
object QuantileWindows {

  private val GridLo = "graft.grid.lo"
  private val GridHi = "graft.grid.hi"
  private val GridN = "graft.grid.n"

  private def gridMetadata(lo: Long, hi: Long, n: Long): Metadata =
    new MetadataBuilder().putLong(GridLo, lo).putLong(GridHi, hi).putLong(GridN, n).build()

  /** The `(lo, hi, n)` grid hint on `df`'s column `name`, if it carries one. */
  private[graft] def gridOf(df: DataFrame, name: String): Option[(Long, Long, Long)] = {
    val m = df.schema(name).metadata
    if (Seq(GridLo, GridHi, GridN).forall(m.contains))
      scala.util.Try((m.getLong(GridLo), m.getLong(GridHi), m.getLong(GridN))).toOption
    else None
  }

  /** n windows covering [lo, hi). `minDuration` is accepted-and-ignored like
    * the reference's dead `min_duration` parameter (quirk 2, SURVEY §2.1). */
  def quantileWindows(
      spark: SparkSession,
      n: Long,
      lo: Long,
      hi: Long,
      spancol: String = "span",
      label: String = "index",
      minDuration: Option[Long] = None): DataFrame = {
    require(n > 0, s"quantile_windows requires n > 0, got $n")
    require(hi >= lo, s"quantile_windows requires a non-empty span, got [$lo, $hi)")
    val w = hi - lo
    val q = w / n
    val r = w % n
    // boundary(i) = lo + i*q + (i*r) div n  — exact integer math, see scaladoc.
    def boundary(i: String) =
      s"${lo}L + ($i) * ${q}L + (($i) * ${r}L) div ${n}L"
    spark.range(n).select(
      (col("id") + 1L).as(label),
      expr(s"named_struct('start', ${boundary("id")}, 'stop', ${boundary("id + 1")})")
        .as(spancol, gridMetadata(lo, hi, n)))
  }

  /** DataFrame method: derive the covering span from `df`'s interval column
    * (reference `src/DataFrameIntervals.jl:376-378`). Empty input → empty
    * output frame with the right schema (documented divergence from the
    * reference's `missing` scalar, quirk 4 SURVEY §2.1). `minDuration` is
    * accepted and ignored like the reference's dead parameter. */
  def quantileWindows(n: Long, df: DataFrame, spancol: String, label: String): DataFrame =
    quantileWindows(n, df, spancol, label, None)

  def quantileWindows(
      n: Long,
      df: DataFrame,
      spancol: String,
      label: String,
      minDuration: Option[Long]): DataFrame = {
    def windows(ticks: DataFrame) = IntervalCols.coveringSpan(ticks, spancol) match {
      case Some((lo, hi)) =>
        quantileWindows(df.sparkSession, n, lo, hi, spancol, label, minDuration)
      case None =>
        quantileWindows(df.sparkSession, n, 0L, 0L, spancol, label).limit(0)
    }
    IntervalCols.timestampEndpointType(df, spancol) match {
      case Some(tsType) =>
        // timestamp-struct span: window in exact long-µs ticks, convert the
        // output back to timestamps (the reference's `backto` contract —
        // NTZ spans come back as NTZ, TZ spans as TZ)
        val ntz = tsType == org.apache.spark.sql.types.TimestampNTZType
        val wins = windows(df.select(
          IntervalCols.microsFromTimestampStruct(col(spancol), ntz).as(spancol)))
        // the grid hint stays in µs ticks, the join's internal tick space
        wins.select(col(label), IntervalCols.timestampStructFromMicros(col(spancol), ntz)
          .as(spancol, wins.schema(spancol).metadata))
      case None => windows(df)
    }
  }

  def quantileWindows(n: Long, df: DataFrame, spancol: String): DataFrame =
    quantileWindows(n, df, spancol, "index")

  /** Reference's `label = sym => iterable` form: a custom label column with
    * caller-provided values — one per window, of ANY literal-able type (the
    * reference accepts an arbitrary iterable, e.g. an integer range,
    * `src/DataFrameIntervals.jl:331-334`): strings, ints/longs, doubles,
    * booleans, … anything `lit` can lift. The window arithmetic is shared
    * with [[quantileWindows]]; only the label projection differs. */
  def quantileWindowsLabeled(
      n: Int,
      df: DataFrame,
      spancol: String,
      label: (String, Seq[Any])): DataFrame = {
    val (name, values) = label
    require(values.length == n, s"label values (${values.length}) must match n ($n)")
    quantileWindows(n.toLong, df, spancol, "__idx")
      .withColumn(name, element_at(array(values.map(lit): _*), col("__idx").cast("int")))
      .drop("__idx")
      .select(col(name), col(spancol))
  }
}
