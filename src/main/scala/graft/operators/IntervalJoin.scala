package graft.operators

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.intervals.BoundedIntervals
import graft.intervals.IntervalCols._

/** Interval overlap join (reference I1–I3, `src/DataFrameIntervals.jl:97-180`):
  * one output row per pair (l, r) whose half-open intervals overlap, plus an
  * appended intersection column named after the left frame's `on` column.
  *
  * ## Physical strategies (SURVEY §4.3)
  *
  * `l.start < r.stop AND r.start < l.stop` has no equi-key, so stock Spark
  * plans it as BroadcastNestedLoopJoin (fine when one side is small) or a
  * cartesian product (fatal for big×big).
  *
  *  - [[Strategy.Range]] — emit the raw theta join and let Catalyst pick
  *    (auto-broadcasts the small side). Correct for all inputs.
  *  - [[Strategy.Binned]] — the scale path: each interval explodes to the
  *    fixed-width time bins it overlaps, the join becomes a shuffled
  *    **equi-join on bin** with the overlap predicate as residual, and each
  *    matching pair is kept exactly once (only in the bin containing
  *    `greatest(l.start, r.start)` — no distinct needed). This is the classic
  *    interval-binning MapReduce pattern; it turns an O(n·m) nested loop into
  *    a sort-merge join that partitions across a cluster.
  *  - [[Strategy.Sweep]] — range-partitioned plane sweep ([[SweepJoin]]);
  *    half-open inner joins only.
  *  - [[Strategy.Auto]] — for an inner join, Binned on the windows' own
  *    grid when either `on` column carries a [[QuantileWindows]] grid hint
  *    (outer joins keep the pick below: the binned outer plan's matched-flag
  *    window shuffle made them slower than the broadcast nested loop against
  *    a small window frame); else Range when the
  *    smaller side is small in both bytes and estimated rows
  *    (`maxRangeRows`), else Sweep for half-open inner joins and Binned
  *    otherwise; always Range without an integral tick space (floating or
  *    non-integral bounded endpoints).
  *
  * The binned plan's cells come from, in order: an explicit `binWidth`
  * (cells `x div binWidth`); the grid hint `{lo, hi, n}` that
  * `quantileWindows` puts on its span column (column metadata keys
  * `graft.grid.lo`, `graft.grid.hi`, `graft.grid.n`; cells of the window
  * width from `lo`); else one cheap stats pass over both `on` columns
  * (column-pruned scan), wide enough that no interval explodes to more than
  * 1024 bins and the total bin count stays near 2^20 (fixed constants). The
  * first two run no job at build time; pass `binWidth` when the time scale
  * is known. The grid hint is a hint, not a contract: a frame that no longer
  * matches it (filtered, relabelled, unioned with a shifted grid) still
  * joins exactly, only slower (see `binPlan`).
  *
  * ## One pipeline for every interval form
  *
  * Half-open intervals (integral, floating or timestamp endpoints) and
  * bounded `struct<start,stop,lclosed,rclosed>` intervals run through the
  * same steps: validate, project to positional temp columns, pick a
  * strategy, join, select the output; they share one binned plan. The form
  * (`Form`) decides only the `on` projection and NULL guard, the overlap
  * predicate, each side's bin array, the intersection and `backto`
  * expressions, and which strategies it rejects.
  *
  * ## Semantics carried over from the reference (SURVEY §2.1)
  *
  *  - `keepleft`/`keepright` flags → left/right/full outer joins; the other
  *    side's columns and the intersection column become NULL
  *    (`src/DataFrameIntervals.jl:126-128,163-173`). Unlike the reference,
  *    unmatched rows are kept even when the opposite side is empty — true
  *    outer semantics (documented divergence; the reference silently drops
  *    them, quirk at `:144-145,158`).
  *  - `renamecols`/`renameon` column renaming, clash guard, `makeunique`
  *    (`src/DataFrameIntervals.jl:67-95,113-124`).
  *  - NULL `on` values rejected with the reference's error message — but as a
  *    plan-time `raise_error` guard rather than an eager scan (`:136-141`).
  *  - Output column order: left columns, right columns, intersection last
  *    (`:175-179`). Row order is NOT preserved (distributed execution);
  *    compare order-insensitively.
  */
object IntervalJoin {

  sealed trait Strategy
  object Strategy {
    case object Auto   extends Strategy
    case object Range  extends Strategy
    case object Binned extends Strategy
    /** v3: range-partitioned per-partition plane sweep ([[SweepJoin]]) —
      * quantile-balanced partitions, stop-ordered active lists, streamed
      * output. Inner joins only; outer variants fall back to Binned. */
    case object Sweep  extends Strategy
  }

  /** Reference-style suffix renaming (`renamecols = "_l" => "_r"`). */
  def suffixes(l: String, r: String): (String => String, String => String) =
    (_ + l, _ + r)

  final case class Options(
      renamecols: (String => String, String => String) = (identity, identity),
      renameon: (String => String, String => String) = (_ + "_left", _ + "_right"),
      makeunique: Boolean = false,
      keepleft: Boolean = false,
      keepright: Boolean = false,
      strategy: Strategy = Strategy.Auto,
      binWidth: Option[Long] = None,
      checkMissing: Boolean = true,
      /** Auto picks the broadcast range join only when the smaller side's
        * estimated ROW count stays under this. Broadcast-small-in-bytes is
        * the right gate for a hash join but the wrong one for a theta join:
        * a BNLJ evaluates smallRows × bigRows predicate pairs, so a 10 MB /
        * 100 k-row side against a same-sized stream side is 10^10 pair
        * evaluations — minutes, while the binned/sweep paths do it in
        * seconds. A genuinely small window frame (10^2-10^4 rows) against
        * an arbitrarily big side remains the broadcast shape: the big side
        * never shuffles, which is the correct 100 TB trade. */
      maxRangeRows: Long = 10000L,
      /** Sweep fat-tail guard: intervals LONGER than this route to
        * broadcast side-joins instead of replicating across every range
        * partition they span (SweepJoin's long/short split). None = auto:
        * long means "would replicate to more than 16 range partitions"
        * (length > that many typical range widths, where the range count
        * is one per core, more past ~1M sampled rows per core); when no
        * sampled row exceeds the bound — every short-span fixture — the
        * split never engages and the plan is the pure sweep, unchanged. */
      sweepLongThreshold: Option[Long] = None,
      /** If the long mass exceeds this row count, broadcasting it would be
        * worse than replicating it — fall back to the unsplit sweep. The
        * long-mass branches are broadcast nested-loop joins with a pure
        * range predicate, so this cap bounds COMPUTE (long rows × stream
        * rows predicate evaluations), not just broadcast memory: at the
        * old 2 M default the BNLJ itself was already the catastrophic
        * regime long before the memory bound engaged. 50 k longs against
        * even a 10 M-row stream side is ~5·10^11 cheap comparisons spread
        * over the cluster — near the practical ceiling. */
      sweepMaxBroadcastRows: Long = 50000L)

  def intervalJoin(left: DataFrame, right: DataFrame, on: String): DataFrame =
    intervalJoin(left, right, on -> on, Options())

  def intervalJoin(left: DataFrame, right: DataFrame, on: String, opts: Options): DataFrame =
    intervalJoin(left, right, on -> on, opts)

  def intervalJoin(left: DataFrame, right: DataFrame, on: (String, String)): DataFrame =
    intervalJoin(left, right, on, Options())

  /** Point-in-interval ("stab") join: one output row per (point, interval)
    * pair with the point inside the half-open interval. Points lift to
    * degenerate one-tick spans — in an integral tick space
    * `t ∈ [s, e)` ⇔ `[t, t+1) overlaps [s, e)` exactly — and run through
    * [[intervalJoin]], so every physical strategy (broadcast range, binned
    * equi-join, sweep) applies unchanged; a point explodes to exactly one
    * bin on the binned path. Output: the point frame's columns then the
    * interval frame's columns under the usual rename contract, with the
    * synthetic span and the (redundant, point-valued) intersection dropped.
    * Timestamp points pair with timestamp-struct intervals on the µs tick
    * space the join already uses; floating endpoints have no tick below
    * every other value, so they are rejected — quantize first. */
  def stabJoin(points: DataFrame, intervals: DataFrame, on: (String, String),
      opts: Options = Options()): DataFrame = {
    val (ptName, ivName) = on
    require(points.columns.contains(ptName), s"points frame has no column `$ptName`")
    val tmp = "__stab_span"
    require(!points.columns.contains(tmp), s"points frame may not contain `$tmp`")
    val lifted = points.schema(ptName).dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        // t = Long.MaxValue has no successor tick: t+1 wraps to a reversed
        // span the strategies silently drop — raise instead of losing the
        // point (smaller integral types can never reach the edge)
        val pt = col(ptName).cast("long")
        val next = when(pt === lit(Long.MaxValue), raise_error(concat(
          lit("stab_join: point column `" + ptName + "` holds 9223372036854775807 " +
            "(Long.MaxValue), which cannot lift to a [t, t+1) span — " +
            "exclude or re-encode that tick"))).cast("long"))
          .otherwise(pt + lit(1L))
        points.withColumn(tmp, interval(pt, next))
      case TimestampType | TimestampNTZType =>
        points.withColumn(tmp, struct(col(ptName).as("start"),
          (col(ptName) + expr("INTERVAL 1 MICROSECOND")).as("stop")))
      case other => throw new IllegalArgumentException(
        s"stab_join requires an integral or timestamp point column; `$ptName` is " +
          s"${other.simpleString} — quantize floating points to integer ticks first.")
    }
    // Auto resolves to Binned here, not the general join's broadcast-range
    // pick: a broadcast theta join scans EVERY interval per point (points ×
    // intervals predicate evals — quadratic even when the interval side
    // fits in a broadcast), while the binned equi-join hashes each point
    // into exactly one bin for near-constant per-point work. The general
    // join's trade (small side broadcast, big side unshuffled) loses here
    // because the probe is linear, not hashed.
    val stabOpts =
      if (opts.strategy == Strategy.Auto) opts.copy(strategy = Strategy.Binned)
      else opts
    val j = intervalJoin(lifted, intervals, tmp -> ivName, stabOpts)
    // left `on` keeps its renamed slot and the intersection takes the left
    // name itself (the reference's contract) — both are the degenerate span
    j.drop(opts.renameon._1(tmp)).drop(tmp)
  }

  def intervalJoin(left: DataFrame, right: DataFrame, on: (String, String), opts: Options): DataFrame = {
    val (lOnName, rOnName) = on
    require(left.columns.contains(lOnName), s"left frame has no column `$lOnName`")
    require(right.columns.contains(rOnName), s"right frame has no column `$rOnName`")
    checkOnColumn(left, lOnName, "left")
    checkOnColumn(right, rOnName, "right")
    val form =
      if (isBounded(left, lOnName) || isBounded(right, rOnName)) boundedForm(left, right, on, opts)
      else halfOpenForm(left, right, on, opts)
    val finalNames = finalNamesFor(left, right, on, opts)

    // Rename ALL columns to positional temp names before the join — kills
    // self-join ambiguity and duplicate-name issues in one move; the final
    // select restores the reference's naming contract.
    val lTmp = left.columns.indices.map(i => s"__l$i")
    val rTmp = right.columns.indices.map(i => s"__r$i")
    val lOnT = s"__l${left.columns.indexOf(lOnName)}"
    val rOnT = s"__r${right.columns.indexOf(rOnName)}"
    def project(df: DataFrame, tmp: Seq[String], onT: String, isLeft: Boolean) =
      df.select(df.columns.zip(tmp).map { case (c, t) =>
        (if (t == onT) form.project(col(c), isLeft) else col(c)).as(t)
      }: _*)
    val l2 = project(left, lTmp, lOnT, isLeft = true)
    val r2 = project(right, rTmp, rOnT, isLeft = false)

    val joinType = (opts.keepleft, opts.keepright) match {
      case (false, false) => "inner"
      case (true, false)  => "left_outer"
      case (false, true)  => "right_outer"
      case (true, true)   => "full_outer"
    }

    // quantileWindows' grid on either side: an inner join bins on it — no
    // stats pass, and no nested loop of every span against every window
    val grid = QuantileWindows.gridOf(left, lOnName)
      .orElse(QuantileWindows.gridOf(right, rOnName)).flatMap(gridCell)
    val strategy = opts.strategy match {
      case Strategy.Auto if joinType == "inner" && form.binnable && grid.isDefined =>
        Strategy.Binned
      case Strategy.Auto if !form.binnable || rangeJoinViable(l2, r2, opts) => Strategy.Range
      // big-big: the per-partition sweep beats the binned equi-join on
      // inner joins (measured 1.4x at 29 M pairs, 2.8x at 500 M — and the
      // gap WIDENS with scale); outer variants run on the binned path
      case Strategy.Auto if joinType == "inner" && form.sweepable => Strategy.Sweep
      case Strategy.Auto => Strategy.Binned
      case s => s
    }

    def cell = opts.binWidth.map(widthCell).orElse(grid)
      .orElse(statsCell(l2, r2, lOnT, rOnT))
    val joined = strategy match {
      case Strategy.Sweep if joinType == "inner" =>
        SweepJoin.sweepInner(l2, r2, lOnT, rOnT, opts)
      case Strategy.Binned if joinType == "inner" =>
        binnedInner(l2, r2, lOnT, rOnT, form, cell)
      case Strategy.Binned | Strategy.Sweep =>
        binnedOuter(l2, r2, lOnT, rOnT, form, joinType, opts, cell)
      case _ =>
        // Theta join; Catalyst broadcasts the small side (BNLJ) — right for
        // a small frame without a grid hint.
        l2.join(r2, form.overlap(col(lOnT), col(rOnT)), joinType)
    }

    // Output intersection column keeps the LEFT frame's `on` name (ref :76).
    val outCols = (lTmp ++ rTmp).zip(finalNames).map { case (t, f) =>
      (if (t == lOnT) form.backto(col(t), isLeft = true)
       else if (t == rOnT) form.backto(col(t), isLeft = false)
       else col(t)).as(f)
    } :+ form.intersect(col(lOnT), col(rOnT)).as(lOnName)
    joined.select(outCols: _*)
  }

  /** What the interval form decides in the one join pipeline; validation of
    * the form's own inputs happens when it is built. Columns passed in are
    * the projected temp `on` columns, except for `project`'s input. */
  private trait Form {
    /** The form has an exact integral tick space, which the binned path needs. */
    def binnable: Boolean
    def sweepable: Boolean
    /** Input `on` column → its internal join representation, NULL-guarded. */
    def project(c: Column, isLeft: Boolean): Column
    /** The Range join condition. */
    def overlap(l: Column, r: Column): Column
    /** The binned join's residual: only non-empty intervals receive bins. */
    def binnedOverlap(l: Column, r: Column): Column = overlap(l, r)
    /** The side's bins run to an INCLUSIVE stop (a closed stop can still
      * touch-match inside its own bin), and a closed-closed point gets its
      * one bin; otherwise the stop bin is exclusive. */
    def closedBins(isLeft: Boolean): Boolean
    /** Output form of a side's `on` column (the reference's `backto`). */
    def backto(c: Column, isLeft: Boolean): Column
    /** The appended intersection column, NULL for null-extended rows. */
    def intersect(l: Column, r: Column): Column
  }

  /** Half-open intervals. Timestamp-struct intervals are supported
    * natively: converted to exact long-µs ticks for the join, converted back
    * on output (the reference's `backto` contract — results keep the input
    * representation). Mixed long/timestamp sides are ambiguous (whose unit
    * is the long?) → error. */
  private def halfOpenForm(left: DataFrame, right: DataFrame, on: (String, String),
      opts: Options): Form = {
    val (lOnName, rOnName) = on
    val lTsType = timestampEndpointType(left, lOnName)
    val rTsType = timestampEndpointType(right, rOnName)
    if (lTsType != rTsType)
      throw new IllegalArgumentException(
        "interval_join requires both `on` columns in the same representation: " +
          s"left `$lOnName` is ${lTsType.map(_.simpleString).getOrElse("long")}-based but right " +
          s"`$rOnName` is ${rTsType.map(_.simpleString).getOrElse("long")}-based; convert one side " +
          "(IntervalCols.microsFromTimestampStruct / timestampStructFromMicros).")
    val ts = lTsType.isDefined
    val ntz = lTsType.contains(TimestampNTZType)
    // non-timestamp endpoints: integral types widen to long ticks internally
    // and are restored on output (`backto`); floating endpoints (reference
    // generic ordered `T`, src/DataFrameIntervals.jl:31) widen to double and
    // are range-join-only — floats have no exact tick space for the
    // binned/sweep integer math
    val (lIntType, rIntType) =
      if (ts) (None, None)
      else (Some(endpointType(left, lOnName, "left")),
        Some(endpointType(right, rOnName, "right")))
    val isFloat = lIntType.exists(isFloating) || rIntType.exists(isFloating)
    if (isFloat && !(lIntType ++ rIntType).forall(isFloating))
      throw new IllegalArgumentException(
        "interval_join cannot mix floating and integral interval endpoints across sides " +
          s"(left `$lOnName` is ${lIntType.get.simpleString}, right `$rOnName` is " +
          s"${rIntType.get.simpleString}); cast one side explicitly.")
    if (isFloat && (opts.strategy == Strategy.Binned || opts.strategy == Strategy.Sweep))
      throw new IllegalArgumentException(
        s"the ${opts.strategy} strategy requires integral or timestamp interval endpoints " +
          "(exact tick space); floating endpoints run on Strategy.Range — quantize the " +
          "endpoints to integer ticks to use the binned/sweep scale paths.")
    // the intersection mixes both sides' values -> the wider integral type
    val isectType = for (a <- lIntType; b <- rIntType)
      yield if (a.defaultSize >= b.defaultSize) a else b
    def back(c: Column, intType: Option[DataType]): Column =
      if (ts) timestampStructFromMicros(c, ntz)
      else intType match {
        case Some(dt) if dt != LongType =>
          when(c.isNull, lit(null)).otherwise(
            struct(c.getField("start").cast(dt).as("start"),
              c.getField("stop").cast(dt).as("stop")))
        case _ => c
      }
    new Form {
      val binnable = !isFloat
      val sweepable = true
      def project(c: Column, isLeft: Boolean) = {
        val norm =
          if (opts.checkMissing) rejectNull(c, if (isLeft) "left" else "right")
          else normalize(c)
        val internal = internalTypeOf(if (isLeft) lIntType else rIntType)
        if (ts) microsFromTimestampStruct(norm, ntz)
        else if (internal.isDefined)
          when(norm.isNull, lit(null)).otherwise(
            interval(norm.getField("start").cast(internal.get),
              norm.getField("stop").cast(internal.get)))
        else norm
      }
      def overlap(l: Column, r: Column) = overlaps(l, r)
      // Raw overlap predicate (no degenerate-interval conjuncts): only rows
      // with start < stop receive bins at all, so the extra checks that
      // `overlaps` needs on the Range path are already guaranteed here —
      // two fewer comparisons per candidate pair in the hot loop.
      override def binnedOverlap(l: Column, r: Column) =
        start(l) < stop(r) && start(r) < stop(l)
      def closedBins(isLeft: Boolean) = false
      def backto(c: Column, isLeft: Boolean) = back(c, if (isLeft) lIntType else rIntType)
      def intersect(l: Column, r: Column) = back(intersection(l, r), isectType)
    }
  }

  /** Bounded intervals (struct<start,stop,lclosed,rclosed> — the
    * reference's generic `Interval{T,L,R}`, src/DataFrameIntervals.jl:31-35,
    * closed-closed example README.md:29) on at least one side; a plain
    * half-open side is lifted to Closed-Open. No tick conversion — the
    * predicates are pure comparisons, so any atomic orderable endpoint type
    * works on the Range path (ints, floats, timestamps, dates...), it only
    * has to agree across all four endpoints; the binned path needs integral
    * endpoints. The joined output column follows the reference's
    * `backto`-to-left contract: bounded (with merged flags) when the LEFT
    * side is bounded, plain start/stop when the left side is a half-open
    * struct joined against a bounded right. */
  private def boundedForm(left: DataFrame, right: DataFrame, on: (String, String),
      opts: Options): Form = {
    val (lOnName, rOnName) = on
    val lB = isBounded(left, lOnName)
    val rB = isBounded(right, rOnName)
    def epTypes(df: DataFrame, name: String) = {
      val s = df.schema(name).dataType.asInstanceOf[StructType]
      (s("start").dataType, s("stop").dataType)
    }
    val (ls, le) = epTypes(left, lOnName)
    val (rs, re) = epTypes(right, rOnName)
    if (!(ls == le && rs == re && ls == rs))
      throw new IllegalArgumentException(
        "bounded interval join requires ONE endpoint type across all four endpoints; got " +
          s"left struct<start:${ls.simpleString}, stop:${le.simpleString}>, " +
          s"right struct<start:${rs.simpleString}, stop:${re.simpleString}>")
    for ((df, name, bounded) <- Seq((left, lOnName, lB), (right, rOnName, rB)) if bounded) {
      val s = df.schema(name).dataType.asInstanceOf[StructType]
      val bad = Seq("lclosed", "rclosed").filter(f => s(f).dataType != BooleanType)
      if (bad.nonEmpty)
        throw new IllegalArgumentException(
          s"bounded interval column `$name`: ${bad.mkString(", ")} must be boolean")
    }
    val integral = Seq[DataType](ByteType, ShortType, IntegerType, LongType).contains(ls)
    def rejectStrategy(reason: String): Nothing = throw new IllegalArgumentException(
      s"the ${opts.strategy} strategy cannot run this bounded interval join ($reason); " +
        "bounded joins run on Strategy.Range, or Strategy.Binned with integral endpoints.")
    opts.strategy match {
      case Strategy.Sweep => rejectStrategy("the sweep assumes half-open tick intervals")
      case Strategy.Binned if !integral => rejectStrategy("no integral tick space to bin")
      case _ =>
    }
    def reorder(c: Column, bounded: Boolean): Column =
      if (bounded)
        BoundedIntervals.bounded(c.getField("start"), c.getField("stop"),
          c.getField("lclosed"), c.getField("rclosed"))
      else normalize(c)
    // NULL-preserving lift: a bare fromHalfOpen would wrap an outer join's
    // unmatched-side NULL as struct(NULL,NULL,true,false) — non-NULL, so it
    // would slip past intersectBounded's NULL guard and greatest/least would
    // SKIP the null endpoints, fabricating an intersection equal to the
    // matched side's own interval instead of NULL
    def lifted(c: Column, bounded: Boolean): Column =
      if (bounded) c
      else when(c.isNull, lit(null)).otherwise(BoundedIntervals.fromHalfOpen(c))
    new Form {
      val binnable = integral
      val sweepable = false
      def project(c: Column, isLeft: Boolean) = {
        val bounded = if (isLeft) lB else rB
        if (!opts.checkMissing) reorder(c, bounded)
        else when(c.isNull || c.getField("start").isNull || c.getField("stop").isNull ||
            (if (bounded) c.getField("lclosed").isNull || c.getField("rclosed").isNull
             else lit(false)),
          raise_error(lit(s"There are missing values in the ${if (isLeft) "left" else "right"} " +
            "table of `interval_join`.")))
          .otherwise(reorder(c, bounded))
      }
      def overlap(l: Column, r: Column) =
        BoundedIntervals.overlapsBounded(lifted(l, lB), lifted(r, rB))
      def closedBins(isLeft: Boolean) = if (isLeft) lB else rB
      def backto(c: Column, isLeft: Boolean) = c
      def intersect(l: Column, r: Column) = {
        val isect = BoundedIntervals.intersectBounded(lifted(l, lB), lifted(r, rB))
        if (lB) isect
        else when(isect.isNull, lit(null)).otherwise(
          interval(isect.getField("start"), isect.getField("stop")))
      }
    }
  }

  /** Bin-width floors of the binned plan: no interval explodes to more than
    * `MaxBinsPerRow` bins, and the total bin count stays within `TargetBins`
    * so per-bin membership is never too fine-grained. */
  private val TargetBins = 1L << 20
  private val MaxBinsPerRow = 1024L

  /** A binned plan's cell function: SQL over a long tick → the tick's cell,
    * in exact 64-bit integer arithmetic (SQL `div`), never through Double —
    * epoch-ns magnitudes (~1.7e18) exceed Double's 53-bit mantissa. */
  private type Cell = String => String

  /** An explicit `binWidth`: cells `x div w`, a grid anchored at 0.
    * Truncating division is monotone, so negative ticks join exactly too. */
  private def widthCell(w: Long): Cell = {
    require(w > 0, s"binWidth must be positive, got $w")
    x => s"$x div ${w}L"
  }

  /** A [[QuantileWindows]] grid `(lo, hi, n)`: cells of the window width
    * `w = (hi - lo) / n` from `lo`, every tick below `lo` in cell -1 and every
    * tick from `hi` on in cell `ceil((hi - lo) / w)`. The clamp keeps
    * `x - lo` inside [0, hi - lo), so nothing overflows, and no row explodes
    * to more than `ceil((hi - lo) / w) + 2` cells; `w` is floored like the
    * stats path's so that count stays within `TargetBins`. None when the grid
    * has no positive span or more windows than ticks (`w == 0`): Auto then
    * decides as it would without the hint. */
  private def gridCell(grid: (Long, Long, Long)): Option[Cell] = {
    val (lo, hi, n) = grid
    val span = hi - lo // wraps negative when hi - lo overflows
    if (n <= 0 || hi <= lo || span <= 0 || span / n == 0) None
    else {
      val w = math.max(span / n, ceilDiv(span, TargetBins))
      val top = ceilDiv(span, w)
      Some(x => s"case when $x < ${lo}L then -1L when $x >= ${hi}L then ${top}L " +
        s"else ($x - ${lo}L) div ${w}L end")
    }
  }

  /** One cheap stats pass picks the bin width and anchors cells at the
    * smallest start (offsets are non-negative, so `div` == floor). None when
    * there are no intervals at all (both sides empty) — callers fall back to
    * a plain theta join, which is free there. */
  private def statsCell(l2: DataFrame, r2: DataFrame, lOnT: String, rOnT: String): Option[Cell] = {
    def endpoints(df: DataFrame, onT: String) =
      df.select(col(s"$onT.start").cast("long").as("s"), col(s"$onT.stop").cast("long").as("e"))
    val stats = endpoints(l2, lOnT).unionAll(endpoints(r2, rOnT))
      .agg(min("s"), max("e"), max(col("e") - col("s")), avg(col("e") - col("s"))).head()
    if (stats.isNullAt(0)) return None
    val lo = stats.getLong(0)
    val hi = stats.getLong(1)
    val maxLen = math.max(stats.getLong(2), 1L)
    val avgLen = math.max(math.ceil(stats.getDouble(3)).toLong, 1L)
    val span = math.max(hi - lo, 1L)
    // Bin width ~ the average interval length: each interval then explodes
    // to ~2 bins, so candidate work per bin stays near-linear in the output
    // (w = maxLen/64 was measured 17x slower at sf0.1 — 33x row replication
    // makes per-bin work quadratic), within the MaxBinsPerRow/TargetBins floors.
    val w = Seq(avgLen, ceilDiv(maxLen, MaxBinsPerRow), ceilDiv(span, TargetBins), 1L).max
    Some(x => s"($x - ${lo}L) div ${w}L")
  }

  /** Shared setup for the binned strategies: both sides explode to the
    * cells they overlap, and the returned condition is the cell equi-key +
    * overlap residual + first-overlap-cell dedup.
    *
    * Exactness holds for ANY monotone (non-decreasing) `cell`, which is why
    * a wrong grid hint costs only speed. A side's row explodes to every cell
    * from `cell(start)` to `cell(last tick)`. A matching pair is kept only in
    * `cell(greatest(l.start, r.start))`: that point lies in both intervals,
    * so by monotonicity its cell is in both rows' cell ranges — the pair
    * meets there — and the residual's equality to one value rejects every
    * other cell the two rows share, so the pair is counted exactly once with
    * no `distinct`. Nothing about the cells has to match the data.
    *
    * `outer = true` switches to `explode_outer` (rows with zero bins survive
    * with a NULL bin so outer variants can keep them) and stamps each side's
    * own first bin (`__lbin0`/`__rbin0`) for null-extension dedup. */
  private def binPlan(l2: DataFrame, r2: DataFrame, lOnT: String, rOnT: String,
      form: Form, cell: Cell, outer: Boolean): (DataFrame, DataFrame, Column) = {
    // The cast widens narrower bounded endpoints; on long ticks the
    // optimizer removes it.
    def binOf(xSql: String) = cell(s"(cast(($xSql) as bigint))")
    // Empty intervals overlap nothing: give them an empty bin array instead
    // of letting `sequence` count DOWN and explode one corrupt row into up
    // to TargetBins rows. Non-empty per BoundedIntervals.nonEmpty on a
    // closed-bin side ([a,a] closed-closed is a point).
    def binsOf(onT: String, closed: Boolean) = expr(
      if (closed)
        s"case when ($onT.start) < ($onT.stop) " +
          s"or (($onT.start) = ($onT.stop) and ($onT.lclosed) and ($onT.rclosed)) " +
          s"then sequence(${binOf(s"$onT.start")}, ${binOf(s"$onT.stop")}) " +
          "else cast(array() as array<bigint>) end"
      else
        s"case when ($onT.start) < ($onT.stop) " +
          s"then sequence(${binOf(s"$onT.start")}, ${binOf(s"$onT.stop - 1")}) " +
          "else cast(array() as array<bigint>) end")
    def withBins(df: DataFrame, onT: String, closed: Boolean, binCol: String, bin0: String) = {
      val exploded = df.withColumn(binCol,
        if (outer) explode_outer(binsOf(onT, closed)) else explode(binsOf(onT, closed)))
      if (outer) exploded.withColumn(bin0, expr(binOf(s"$onT.start"))) else exploded
    }
    val lB = withBins(l2, lOnT, form.closedBins(isLeft = true), "__lbin", "__lbin0")
    val rB = withBins(r2, rOnT, form.closedBins(isLeft = false), "__rbin", "__rbin0")
    // Keep each matching pair only in the bin holding greatest(l.start,
    // r.start): dedup folded into the join residual, no `distinct` shuffle.
    val cond = col("__lbin") === col("__rbin") && form.binnedOverlap(col(lOnT), col(rOnT)) &&
      col("__lbin") === expr(binOf(s"greatest($lOnT.start, $rOnT.start)"))
    (lB, rB, cond)
  }

  /** Binned equi-join on overlapping fixed-width time buckets. See scaladoc. */
  private def binnedInner(l2: DataFrame, r2: DataFrame, lOnT: String, rOnT: String,
      form: Form, cell: Option[Cell]): DataFrame =
    cell.map(binPlan(l2, r2, lOnT, rOnT, form, _, outer = false)) match {
      case None             => l2.join(r2, form.overlap(col(lOnT), col(rOnT)), "inner")
      case Some((lB, rB, c)) => lB.join(rB, c, "inner").drop("__lbin", "__rbin")
    }

  /** Outer variants at scale: ONE binned outer join, then window-computed
    * matched flags decide which null-extended rows survive.
    *
    * Row identity comes from `monotonically_increasing_id` stamped before the
    * bin explode. The id column feeds only window partition keys inside this
    * single linear plan — it appears exactly ONCE in the DAG, so the two-
    * subtree id-drift hazard (re-evaluating a non-deterministic id under a
    * complement anti-join) cannot arise. An original row matched in any bin
    * has `max(match flag) = 1` across its exploded copies; unmatched rows
    * keep exactly one null-extended copy (the one from the interval's first
    * bin, or the NULL bin of a zero-bin row). NULL-side ids in the window
    * keys are replaced by the other side's id negated, so unmatched rows
    * spread across partitions instead of piling into one NULL-key partition.
    * All shuffles are equi-partitioned (bins, then 8-byte ids) — no nested
    * loop anywhere. */
  private def binnedOuter(l2: DataFrame, r2: DataFrame, lOnT: String, rOnT: String,
      form: Form, joinType: String, opts: Options, cell: Option[Cell]): DataFrame = {
    val lId = l2.withColumn("__lid", monotonically_increasing_id())
    val rId = r2.withColumn("__rid", monotonically_increasing_id())
    cell.map(binPlan(lId, rId, lOnT, rOnT, form, _, outer = true)) match {
      case None =>
        l2.join(r2, form.overlap(col(lOnT), col(rOnT)), joinType)
      case Some((lB, rB, cond)) =>
        var flagged = lB.join(rB, cond, joinType)
        if (opts.keepleft)
          flagged = flagged.withColumn("__lmatch",
            max(when(col("__rid").isNotNull, 1).otherwise(0)).over(
              Window.partitionBy(coalesce(col("__lid"), lit(-1L) - col("__rid")))))
        if (opts.keepright)
          flagged = flagged.withColumn("__rmatch",
            max(when(col("__lid").isNotNull, 1).otherwise(0)).over(
              Window.partitionBy(coalesce(col("__rid"), lit(-1L) - col("__lid")))))
        val matchedPair = col("__lid").isNotNull && col("__rid").isNotNull
        val keepL =
          if (opts.keepleft)
            col("__rid").isNull && col("__lid").isNotNull && col("__lmatch") === 0 &&
              (col("__lbin") === col("__lbin0") || col("__lbin").isNull)
          else lit(false)
        val keepR =
          if (opts.keepright)
            col("__lid").isNull && col("__rid").isNotNull && col("__rmatch") === 0 &&
              (col("__rbin") === col("__rbin0") || col("__rbin").isNull)
          else lit(false)
        flagged.where(matchedPair || keepL || keepR)
          .select((l2.columns ++ r2.columns).map(col): _*)
    }
  }

  /** ceil(a / b) for a >= 1, b >= 1, without overflow near Long.MaxValue. */
  private def ceilDiv(a: Long, b: Long): Long = (a - 1) / b + 1

  /** Auto's gate for the broadcast range/theta join: one side must be
    * broadcastable in BYTES (Spark's own threshold — handles byte-string
    * confs) AND small in estimated ROWS (`Options.maxRangeRows`) — a BNLJ's
    * cost is the pair-count product, so bytes alone under-gates it (a
    * measured 50 k × 50 k self-join slipped under a 10 MB threshold and ran
    * a 2.5 G-pair nested loop ~9x slower than the binned path). Row counts
    * use Catalyst's estimate when known (generated ranges, CBO) and a
    * conservative sizeInBytes/64 otherwise — compressed parquet averages
    * well over 64 B/row uncompressed, so the estimate errs toward MORE rows,
    * i.e. toward the scale paths. */
  private def rangeJoinViable(l2: DataFrame, r2: DataFrame, opts: Options): Boolean = {
    val thresh = l2.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (thresh <= 0) return false
    val lStats = l2.queryExecution.optimizedPlan.stats
    val rStats = r2.queryExecution.optimizedPlan.stats
    def rows(s: org.apache.spark.sql.catalyst.plans.logical.Statistics): BigInt =
      s.rowCount.getOrElse(s.sizeInBytes / 64)
    val (smallStats, smallRows) =
      if (lStats.sizeInBytes <= rStats.sizeInBytes) (lStats, rows(lStats))
      else (rStats, rows(rStats))
    smallStats.sizeInBytes <= thresh && smallRows <= opts.maxRangeRows
  }

  /** The reference's output-naming contract: left columns then right columns, `on` columns renamed by
    * `renameon`, payload columns by `renamecols`, duplicates resolved by
    * `makeunique`, and nothing may clash with the joined output column
    * (named after the LEFT `on`, ref `src/DataFrameIntervals.jl:76,113-124`). */
  private def finalNamesFor(left: DataFrame, right: DataFrame,
      on: (String, String), opts: Options): Seq[String] = {
    val (lOnName, rOnName) = on
    val joinedOn = lOnName
    val lOnFinal = opts.renameon._1(lOnName)
    val rOnFinal = opts.renameon._2(rOnName)
    if (lOnFinal == joinedOn)
      throw new IllegalArgumentException(
        s"Interval join failed: left dataframe's `on` column has the final name `$lOnFinal` " +
          s"which clashes with the name of the joined output column `$joinedOn`; " +
          "pass a different `renameon`.")
    if (rOnFinal == joinedOn)
      throw new IllegalArgumentException(
        s"Interval join failed: right dataframe's `on` column has the final name `$rOnFinal` " +
          s"which clashes with the name of the joined output column `$joinedOn`; " +
          "pass a different `renameon`.")
    val lFinal = left.columns.map(c => if (c == lOnName) lOnFinal else opts.renamecols._1(c))
    val rFinal = right.columns.map(c => if (c == rOnName) rOnFinal else opts.renamecols._2(c))
    val finalNames = makeUnique(lFinal.toIndexedSeq ++ rFinal.toIndexedSeq, opts.makeunique)
    if (finalNames.contains(joinedOn))
      throw new IllegalArgumentException(
        s"Interval join failed: output column `$joinedOn` (the joined interval) clashes with " +
          "a renamed input column; rename the clashing column.")
    finalNames
  }

  /** A bounded interval column: struct carrying start/stop plus the
    * lclosed/rclosed bound flags ([[graft.intervals.BoundedIntervals]]). */
  private def isBounded(df: DataFrame, name: String): Boolean =
    df.schema(name).dataType match {
      case s: StructType =>
        Seq("start", "stop", "lclosed", "rclosed").forall(s.fieldNames.contains)
      case _ => false
    }

  /** Plan-time schema validation, mirroring the reference's eager adapter
    * dispatch errors (SURVEY §1.3): the `on` column must be a struct
    * carrying `start` and `stop` fields (either order). */
  private def checkOnColumn(df: DataFrame, name: String, side: String): Unit =
    df.schema(name).dataType match {
      case s: StructType
        if s.fieldNames.contains("start") && s.fieldNames.contains("stop") => ()
      case other => throw new IllegalArgumentException(
        s"the $side frame's `on` column `$name` must be a struct<start,stop> interval " +
          s"(use graft.intervals.IntervalCols.interval/intervalFromTimestamps to build one); " +
          s"got ${other.simpleString}")
    }

  /** Endpoint type of a non-timestamp interval column: integral types are
    * accepted on every strategy (narrower ones widen to long ticks
    * internally and come back in their own type — `backto`); floating types
    * are accepted on the Range strategy only (widened to double internally);
    * anything else is rejected up front rather than failing inside a stats
    * pass. */
  private def endpointType(df: DataFrame, name: String, side: String): DataType = {
    val s = df.schema(name).dataType.asInstanceOf[StructType]
    val ts = Seq("start", "stop").map(f => s(f).dataType)
    ts match {
      case Seq(a, b) if a == b && Seq[DataType](ByteType, ShortType,
        IntegerType, LongType, FloatType, DoubleType).contains(a) => a
      case other => throw new IllegalArgumentException(
        s"the $side frame's `on` column `$name` must have integral, floating or " +
          s"timestamp endpoints; got " +
          s"struct<start:${other.head.simpleString}, stop:${other.last.simpleString}>")
    }
  }

  private def isFloating(dt: DataType): Boolean = dt == FloatType || dt == DoubleType

  /** Internal join representation for a declared endpoint type: long ticks
    * for integral endpoints, double for floating ones; None = no conversion
    * needed. */
  private def internalTypeOf(declared: Option[DataType]): Option[DataType] =
    declared match {
      case Some(dt) if isFloating(dt) && dt != DoubleType => Some(DoubleType)
      case Some(dt) if !isFloating(dt) && dt != LongType  => Some(LongType)
      case _ => None
    }

  /** DataFrames.jl-style `makeunique`: duplicate names get `_1`, `_2`, ...
    * suffixes; without the flag duplicates are an error
    * (`src/DataFrameIntervals.jl:113-115`, `test/runtests.jl:70-74`). */
  private[graft] def makeUnique(names: Seq[String], allow: Boolean): Seq[String] = {
    val seen = mutable.HashSet.empty[String]
    names.map { n =>
      if (seen.add(n)) n
      else if (!allow)
        throw new IllegalArgumentException(
          s"Duplicate variable names: `$n`. Pass makeunique=true to make them unique using a suffix automatically.")
      else {
        var i = 1
        var cand = s"${n}_$i"
        while (!seen.add(cand)) { i += 1; cand = s"${n}_$i" }
        cand
      }
    }
  }
}
