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
  *    (a broadcast nested loop when one side is small). Correct for all
  *    inputs; the oracle the other strategies are checked against.
  *  - [[Strategy.Index]] — the small-side path ([[IntervalIndex]]): the
  *    smaller side (or the one under a `broadcast` hint) is collected once
  *    while the frame is built, its ticks sorted by start under an implicit
  *    augmented max-stop tree, and broadcast with its rows; a generator over
  *    the other side looks each row up in O(log m + k), in the scan's own
  *    stage. Every join type; the collect is capped by `maxRangeRows`.
  *  - [[Strategy.Binned]] — the scale path: each interval explodes to the
  *    fixed-width time bins it overlaps, the join becomes a shuffled
  *    **equi-join on bin** with the overlap predicate as residual, and each
  *    matching pair is kept exactly once (only in the bin containing
  *    `greatest(l.start, r.start)` — no distinct needed). This is the classic
  *    interval-binning MapReduce pattern; it turns an O(n·m) nested loop into
  *    a sort-merge join that partitions across a cluster.
  *  - [[Strategy.Sweep]] — range-partitioned plane sweep ([[SweepJoin]]);
  *    inner joins only.
  *  - [[Strategy.Auto]] — for an inner join, Binned on the windows' own
  *    grid when either `on` column carries a [[QuantileWindows]] grid hint;
  *    else Index when the side it would collect is small in both bytes
  *    (Spark's broadcast threshold) and estimated rows (`maxRangeRows`), and
  *    the collect finds at most `maxRangeRows` rows; else Sweep for inner
  *    joins and Binned otherwise. Endpoints with no long tick (strings,
  *    decimals wider than 18 digits) always run Range.
  *
  * The binned plan's cells come from, in order: an explicit `binWidth`
  * (cells `x div binWidth`); the grid hint `{lo, hi, n}` that
  * `quantileWindows` puts on its span column (column metadata keys
  * `graft.grid.lo`, `graft.grid.hi`, `graft.grid.n`; cells of the window
  * width from `lo`); else one cheap stats pass over both `on` columns
  * (column-pruned scan) picks a width, wide enough that no interval explodes
  * to more than 1024 bins and the total bin count stays near 2^20 (fixed
  * constants), and cells are `x div` that width. The
  * first two run no job at build time; pass `binWidth` when the time scale
  * is known. The grid hint is a hint, not a contract: a frame that no longer
  * matches it (filtered, relabelled, unioned with a shifted grid) still
  * joins exactly, only slower (see `binPlan`).
  *
  * ## One tick space for every interval form
  *
  * Every form — half-open intervals with integral, floating or timestamp
  * endpoints, and bounded `struct<start,stop,lclosed,rclosed>` intervals —
  * projects its `on` column to a half-open `struct<start:long, stop:long>`
  * of order-preserving ticks (`IntervalCols.tickOf`), and every strategy
  * joins on those ticks. The form (`Form`) decides only the projection, the
  * ticks, the output and, for bounded intervals, the exact overlap: Range
  * joins on it alone, and it filters the scale paths' tick candidates.
  * Endpoint types with no 64-bit order-preserving key (strings, decimals
  * wider than 18 digits) join on Range only.
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
    /** Broadcast interval index over the small side ([[IntervalIndex]]). */
    case object Index  extends Strategy
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
      /** The most rows the index strategy collects from its side. The
        * collect is a `limit` of one row more, so a side that is bigger
        * than its estimate costs one capped scan: Auto then falls back to
        * the scale path (Sweep for inner joins, Binned otherwise), and a
        * forced `Strategy.Index` fails. Auto also needs the side's
        * estimated rows under this before it tries (Catalyst's row count
        * when known, else a conservative sizeInBytes/64). */
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
    * [[intervalJoin]], so every physical strategy applies unchanged. Auto
    * probes an index when either side is small — ahead of a grid hint, as a
    * point's lookup costs O(log m) whatever the intervals' lengths — and
    * otherwise bins, where a point explodes to exactly one bin. Output:
    * the point frame's columns then the
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
    val j = join(lifted, intervals, tmp -> ivName, opts, points = true)
    // left `on` keeps its renamed slot and the intersection takes the left
    // name itself (the reference's contract) — both are the degenerate span
    j.drop(opts.renameon._1(tmp)).drop(tmp)
  }

  def intervalJoin(left: DataFrame, right: DataFrame, on: (String, String), opts: Options): DataFrame =
    join(left, right, on, opts, points = false)

  /** The one join pipeline; `points` marks a stab join's lifted points. */
  private def join(left: DataFrame, right: DataFrame, on: (String, String), opts: Options,
      points: Boolean): DataFrame = {
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
    // select restores the reference's naming contract. The `on` column
    // becomes its tick pair; a value its ticks do not invert rides beside
    // it as `__lv` / `__rv`.
    val lTmp = left.columns.indices.map(i => s"__l$i")
    val rTmp = right.columns.indices.map(i => s"__r$i")
    val lOnT = s"__l${left.columns.indexOf(lOnName)}"
    val rOnT = s"__r${right.columns.indexOf(rOnName)}"
    def project(df: DataFrame, tmp: Seq[String], onT: String, valueT: String, isLeft: Boolean) = {
      val projected = df.select(df.columns.zip(tmp).map { case (c, t) =>
        (if (t == onT) form.project(col(c), isLeft) else col(c)).as(t)
      }: _*)
      form.ticks.fold(projected)(ticks =>
        projected.withColumn(valueT, col(onT)).withColumn(onT, ticks(col(onT), isLeft)))
    }
    val l2 = project(left, lTmp, lOnT, "__lv", isLeft = true)
    val r2 = project(right, rTmp, rOnT, "__rv", isLeft = false)
    val (lVName, rVName) = if (form.ticks.isDefined) ("__lv", "__rv") else (lOnT, rOnT)
    val (lV, rV) = (col(lVName), col(rVName))
    // a residual alone is exact; its ticks only narrow the other strategies
    val residual = form.residual(lV, rV)
    val overlap = residual.getOrElse(overlaps(col(lOnT), col(rOnT)))

    val joinType = (opts.keepleft, opts.keepright) match {
      case (false, false) => "inner"
      case (true, false)  => "left_outer"
      case (false, true)  => "right_outer"
      case (true, true)   => "full_outer"
    }

    // endpoint types with no order-preserving long tick (strings, wide
    // decimals) share the one tick [0, 1): only the residual tells rows
    // apart, so any other strategy would compare every pair
    val endpoint = left.schema(lOnName).dataType.asInstanceOf[StructType]("start").dataType
    val keyed = tickOf(endpoint).isDefined
    // quantileWindows' grid on either side: an inner join bins on it — no
    // stats pass, and no lookup of every span in a window index
    val grid = QuantileWindows.gridOf(left, lOnName)
      .orElse(QuantileWindows.gridOf(right, rOnName)).flatMap(gridCell)
    val lSide = IntervalIndex.Side(l2, lOnT, lVName)
    val rSide = IntervalIndex.Side(r2, rOnT, rVName)
    lazy val indexLeft = IntervalIndex.indexesLeft(lSide, rSide)
    // big-big: the per-partition sweep beats the binned equi-join on inner
    // joins (measured 1.4x at 29 M pairs, 2.8x at 500 M — and the gap
    // WIDENS with scale); outer variants and stab joins bin
    val scalePath = if (joinType == "inner" && !points) Strategy.Sweep else Strategy.Binned
    val strategy = opts.strategy match {
      case Strategy.Index | Strategy.Binned | Strategy.Sweep if !keyed =>
        throw new IllegalArgumentException(
          s"the ${opts.strategy} strategy joins on order-preserving long ticks, and " +
            s"${endpoint.simpleString} interval endpoints have none; they join " +
            "on Strategy.Range — cast the endpoints to an integral, date, timestamp, floating " +
            "or decimal(18) type to use the other strategies.")
      case Strategy.Auto if !keyed => Strategy.Range
      case Strategy.Auto if joinType == "inner" && grid.isDefined && !points => Strategy.Binned
      case Strategy.Auto if smallEnough(if (indexLeft) l2 else r2, opts) => Strategy.Index
      case Strategy.Auto => scalePath
      case s => s
    }

    def cell = opts.binWidth.map(widthCell).orElse(grid)
      .orElse(statsCell(l2, r2, lOnT, rOnT))
    def run(strategy: Strategy): DataFrame = strategy match {
      case Strategy.Index =>
        IntervalIndex.join(lSide, rSide, residual, indexLeft, opts.keepleft, opts.keepright,
          opts.maxRangeRows).getOrElse {
          if (opts.strategy == Strategy.Index) throw new IllegalArgumentException(
            s"Strategy.Index collects at most maxRangeRows = ${opts.maxRangeRows} rows from " +
              s"the ${if (indexLeft) "left" else "right"} side, which has more; raise " +
              "maxRangeRows or use Strategy.Auto")
          run(scalePath)
        }
      case Strategy.Sweep if joinType == "inner" =>
        val swept = SweepJoin.sweepInner(l2, r2, lOnT, rOnT, opts)
        residual.fold(swept)(swept.where)
      case Strategy.Binned if joinType == "inner" =>
        binnedInner(l2, r2, lOnT, rOnT, overlap, residual, cell)
      case Strategy.Binned | Strategy.Sweep =>
        binnedOuter(l2, r2, lOnT, rOnT, overlap, residual, joinType, opts, cell)
      case _ =>
        // Theta join; Catalyst broadcasts the small side (BNLJ)
        l2.join(r2, overlap, joinType)
    }
    val joined = run(strategy)

    // Output intersection column keeps the LEFT frame's `on` name (ref :76).
    val outCols = (lTmp ++ rTmp).zip(finalNames).map { case (t, f) =>
      (if (t == lOnT) form.backto(lV, isLeft = true)
       else if (t == rOnT) form.backto(rV, isLeft = false)
       else col(t)).as(f)
    } :+ form.intersect(lV, rV).as(lOnName)
    joined.select(outCols: _*)
  }

  /** What an interval form decides in the one join pipeline; the form
    * validates its own inputs when it is built. */
  private trait Form {
    /** Input `on` column → its validated value, NULL for a NULL interval. */
    def project(c: Column, isLeft: Boolean): Column
    /** Projected value → its half-open `struct<start:long, stop:long>` tick
      * pair. None when the value already is that pair (integral and
      * timestamp half-open intervals); otherwise the value rides beside its
      * ticks, and `backto`, `intersect` and `residual` read it. */
    def ticks: Option[(Column, Boolean) => Column]
    /** The exact overlap of two riding values that the ticks only cover. */
    def residual(l: Column, r: Column): Option[Column] = None
    /** Output form of a side's value (the reference's `backto`). */
    def backto(v: Column, isLeft: Boolean): Column
    /** The appended intersection column, NULL for null-extended rows. */
    def intersect(l: Column, r: Column): Column
  }

  /** Half-open intervals. Integral endpoints widen to long ticks and
    * timestamp-struct intervals become exact long-µs ticks; both convert back
    * on output (the reference's `backto` contract — results keep the input
    * representation). Floating endpoints (reference generic ordered `T`,
    * src/DataFrameIntervals.jl:31) widen to double values that ride beside
    * their IEEE sortable-key ticks, which keep SQL order exactly. Mixed
    * long/timestamp sides are ambiguous (whose unit is the long?) → error. */
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
    val types = lTsType.fold(Seq(endpointType(left, lOnName, "left"),
      endpointType(right, rOnName, "right")))(t => Seq(t, t))
    val isFloat = types.exists(isFloating)
    if (isFloat && !types.forall(isFloating))
      throw new IllegalArgumentException(
        "interval_join cannot mix floating and integral interval endpoints across sides " +
          s"(left `$lOnName` is ${types(0).simpleString}, right `$rOnName` is " +
          s"${types(1).simpleString}); cast one side explicitly.")
    val wide = if (isFloat) DoubleType else LongType
    def side(isLeft: Boolean) = types(if (isLeft) 0 else 1)
    def back(c: Column, dt: DataType): Column =
      if (ts) timestampStructFromMicros(c, ntz)
      else if (dt != wide)
        when(c.isNull, lit(null)).otherwise(
          struct(c.getField("start").cast(dt).as("start"), c.getField("stop").cast(dt).as("stop")))
      else c
    new Form {
      def project(c: Column, isLeft: Boolean) = {
        val norm = validated(c, isLeft, opts, Seq("start", "stop"))
        if (ts) microsFromTimestampStruct(norm, ntz)
        else if (side(isLeft) != wide)
          when(norm.isNull, lit(null)).otherwise(
            interval(norm.getField("start").cast(wide), norm.getField("stop").cast(wide)))
        else norm
      }
      val ticks =
        if (isFloat) Some((v: Column, _: Boolean) => ticksOf(v, DoubleType)) else None
      def backto(c: Column, isLeft: Boolean) = back(c, side(isLeft))
      // the intersection mixes both sides' values -> the wider type
      def intersect(l: Column, r: Column) = back(intersection(l, r), types.maxBy(_.defaultSize))
    }
  }

  /** Bounded intervals (struct<start,stop,lclosed,rclosed> — the
    * reference's generic `Interval{T,L,R}`, src/DataFrameIntervals.jl:31-35,
    * closed-closed example README.md:29) on at least one side; a plain
    * half-open side is lifted to Closed-Open. Any atomic orderable endpoint
    * type works, as long as all four endpoints share it. Overlap is
    * continuous, as in the reference: open `(1, 3)` and `(2, 5)` share the
    * gap `(2, 3)`. One long tick per 64-bit key leaves no room for the gaps,
    * so the ticks only cover: `[key(start), key(stop))`, one tick longer at
    * a closed stop, with the exact overlap as the residual. A closed stop at
    * `Long.MaxValue` ends its ticks there and starts them at most at
    * `Long.MaxValue - 1`, so the point `[Long.MaxValue, Long.MaxValue]`
    * still meets every interval holding it. The output follows the
    * reference's `backto`-to-left contract: bounded (with merged flags) when
    * the LEFT side is bounded, plain start/stop otherwise. */
  private def boundedForm(left: DataFrame, right: DataFrame, on: (String, String),
      opts: Options): Form = {
    val (lOnName, rOnName) = on
    val lB = isBounded(left, lOnName)
    val rB = isBounded(right, rOnName)
    val Seq(ls, le, rs, re) = Seq(left -> lOnName, right -> rOnName).flatMap { case (df, n) =>
      Seq("start", "stop").map(df.schema(n).dataType.asInstanceOf[StructType](_).dataType)
    }
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
    val tick = tickOf(ls)
    // NULL-preserving lift: a bare fromHalfOpen would wrap an outer join's
    // unmatched-side NULL as struct(NULL,NULL,true,false) — non-NULL, so it
    // would slip past intersectBounded's NULL guard and greatest/least would
    // SKIP the null endpoints, fabricating an intersection equal to the
    // matched side's own interval instead of NULL
    def lifted(c: Column, bounded: Boolean): Column =
      if (bounded) c
      else when(c.isNull, lit(null)).otherwise(BoundedIntervals.fromHalfOpen(c))
    new Form {
      def project(c: Column, isLeft: Boolean) = validated(c, isLeft, opts,
        Seq("start", "stop") ++ (if (if (isLeft) lB else rB) Seq("lclosed", "rclosed") else Nil))
      val ticks = Some { (v: Column, isLeft: Boolean) =>
        when(v.isNull, lit(null)).otherwise(tick.fold(interval(lit(0L), lit(1L))) { key =>
          val (s, e) = (key(v.getField("start")), key(v.getField("stop")))
          if (!(if (isLeft) lB else rB)) interval(s, e)
          else {
            val rc = v.getField("rclosed")
            val top = rc && e === lit(Long.MaxValue)
            interval(when(top, least(s, lit(Long.MaxValue - 1))).otherwise(s),
              when(rc && !top, e + 1L).otherwise(e))
          }
        })
      }
      override def residual(l: Column, r: Column) =
        Some(BoundedIntervals.overlapsBounded(lifted(l, lB), lifted(r, rB)))
      def backto(c: Column, isLeft: Boolean) = c
      def intersect(l: Column, r: Column) = {
        val isect = BoundedIntervals.intersectBounded(lifted(l, lB), lifted(r, rB))
        if (lB) isect else when(isect.isNull, lit(null)).otherwise(normalize(isect))
      }
    }
  }

  /** A side's `on` column reduced to `fields`, in that order, NULL for a
    * NULL interval; with `checkMissing`, a NULL interval or field fails the
    * job with the reference's message instead. */
  private def validated(c: Column, isLeft: Boolean, opts: Options, fields: Seq[String]): Column =
    if (opts.checkMissing) rejectNull(c, if (isLeft) "left" else "right", fields)
    else when(c.isNull, lit(null)).otherwise(normalize(c, fields))

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

  /** One cheap stats pass picks the bin width; cells are [[widthCell]]'s
    * `x div w`. Lengths and the span are taken in `decimal(20,0)` and clamped
    * into `Long`, so no span, however wide, overflows (under ANSI mode a long
    * `e - s` over `[Long.MinValue, Long.MaxValue)` throws). None when there
    * are no intervals at all (both sides empty) — callers fall back to a plain
    * theta join, which is free there. */
  private def statsCell(l2: DataFrame, r2: DataFrame, lOnT: String, rOnT: String): Option[Cell] = {
    def endpoints(df: DataFrame, onT: String) =
      df.select(col(s"$onT.start").cast("long").as("s"), col(s"$onT.stop").cast("long").as("e"))
    def dec(c: String) = col(c).cast("decimal(20,0)")
    val len = dec("e") - dec("s")
    val stats = endpoints(l2, lOnT).unionAll(endpoints(r2, rOnT))
      .agg(max(len), avg(len), max(dec("e")) - min(dec("s"))).head()
    if (stats.isNullAt(0)) return None
    val Seq(maxLen, avgLen, span) = (0 to 2).map(i =>
      BigDecimal(stats.getDecimal(i)).setScale(0, BigDecimal.RoundingMode.CEILING)
        .max(BigDecimal(1)).min(BigDecimal(Long.MaxValue)).toLong)
    // Bin width ~ the average interval length: each interval then explodes
    // to ~2 bins, so candidate work per bin stays near-linear in the output
    // (w = maxLen/64 was measured 17x slower at sf0.1 — 33x row replication
    // makes per-bin work quadratic), within the MaxBinsPerRow/TargetBins floors.
    Some(widthCell(Seq(avgLen, ceilDiv(maxLen, MaxBinsPerRow), ceilDiv(span, TargetBins)).max))
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
      residual: Option[Column], cell: Cell, outer: Boolean): (DataFrame, DataFrame, Column) = {
    def binOf(xSql: String) = cell(s"($xSql)")
    // Empty intervals overlap nothing: give them an empty bin array instead
    // of letting `sequence` count DOWN and explode one corrupt row into up
    // to TargetBins rows.
    def binsOf(onT: String) = expr(
      s"case when ($onT.start) < ($onT.stop) " +
        s"then sequence(${binOf(s"$onT.start")}, ${binOf(s"$onT.stop - 1")}) " +
        "else cast(array() as array<bigint>) end")
    def withBins(df: DataFrame, onT: String, binCol: String, bin0: String) = {
      val exploded = df.withColumn(binCol,
        if (outer) explode_outer(binsOf(onT)) else explode(binsOf(onT)))
      if (outer) exploded.withColumn(bin0, expr(binOf(s"$onT.start"))) else exploded
    }
    val lB = withBins(l2, lOnT, "__lbin", "__lbin0")
    val rB = withBins(r2, rOnT, "__rbin", "__rbin0")
    // Raw tick overlap (no degenerate-interval conjuncts): only rows with
    // start < stop receive bins at all, so the extra checks that `overlaps`
    // needs on the Range path are already guaranteed here.
    val ticks = start(col(lOnT)) < stop(col(rOnT)) && start(col(rOnT)) < stop(col(lOnT))
    // Keep each matching pair only in the bin holding greatest(l.start,
    // r.start): dedup folded into the join residual, no `distinct` shuffle.
    val cond = col("__lbin") === col("__rbin") && residual.fold(ticks)(ticks && _) &&
      col("__lbin") === expr(binOf(s"greatest($lOnT.start, $rOnT.start)"))
    (lB, rB, cond)
  }

  /** Binned equi-join on overlapping fixed-width time buckets. See scaladoc. */
  private def binnedInner(l2: DataFrame, r2: DataFrame, lOnT: String, rOnT: String,
      overlap: Column, residual: Option[Column], cell: Option[Cell]): DataFrame =
    cell.map(binPlan(l2, r2, lOnT, rOnT, residual, _, outer = false)) match {
      case None             => l2.join(r2, overlap, "inner")
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
      overlap: Column, residual: Option[Column], joinType: String, opts: Options,
      cell: Option[Cell]): DataFrame = {
    val lId = l2.withColumn("__lid", monotonically_increasing_id())
    val rId = r2.withColumn("__rid", monotonically_increasing_id())
    cell.map(binPlan(lId, rId, lOnT, rOnT, residual, _, outer = true)) match {
      case None =>
        l2.join(r2, overlap, joinType)
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

  /** Auto's gate for the index join: the side it would collect must be
    * broadcastable in BYTES (Spark's own threshold — handles byte-string
    * confs) AND small in estimated ROWS (`Options.maxRangeRows`), so the
    * capped collect rarely finds more and falls back. Row counts use
    * Catalyst's estimate when known (generated ranges, CBO) and a
    * conservative sizeInBytes/64 otherwise — compressed parquet averages
    * well over 64 B/row uncompressed, so the estimate errs toward MORE rows,
    * i.e. toward the scale paths. Streaming sides have no estimate. */
  private def smallEnough(side: DataFrame, opts: Options): Boolean = {
    val thresh = side.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
    if (thresh <= 0 || side.isStreaming) return false
    val stats = side.queryExecution.optimizedPlan.stats
    stats.sizeInBytes <= thresh &&
      stats.rowCount.getOrElse(stats.sizeInBytes / 64) <= opts.maxRangeRows
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
    for ((side, onFinal) <- Seq("left" -> lOnFinal, "right" -> rOnFinal) if onFinal == joinedOn)
      throw new IllegalArgumentException(
        s"Interval join failed: $side dataframe's `on` column has the final name `$onFinal` " +
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

  /** Endpoint type of a non-timestamp half-open interval column: integral
    * types (long ticks, restored to their own type on output — `backto`) and
    * floating types (double values beside their sortable-key ticks) run on
    * every strategy; anything else is rejected up front rather than failing
    * inside a stats pass. */
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
