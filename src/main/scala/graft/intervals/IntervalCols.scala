package graft.intervals

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.UnscaledValue
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._
import graft.expressions.DoubleTickKey

/** Column-level algebra over half-open intervals.
  *
  * Canonical physical representation: `struct<start: long, stop: long>` in an
  * integer unit (canonically nanoseconds since epoch), half-open `[start, stop)`.
  * This mirrors the reference's `Interval{T,Closed,Open}` convention — the only
  * bound combination its test suite exercises end-to-end (reference
  * `src/DataFrameIntervals.jl:38-60`, `test/runtests.jl:19,77`).
  *
  * Everything here is a pure Catalyst `Column` expression — whole-stage
  * codegen'd, no UDFs, NULL-propagating like the reference's `intersect_`
  * (`src/DataFrameIntervals.jl:13-17`).
  */
object IntervalCols {

  /** Build a canonical interval struct from two endpoint columns. */
  def interval(start: Column, stop: Column): Column =
    struct(start.as("start"), stop.as("stop"))

  def start(i: Column): Column = i.getField("start")
  def stop(i: Column): Column  = i.getField("stop")

  /** Normalize any `struct` carrying `start`/`stop` fields (either field
    * order — the reference accepts `(:start,:stop)` and `(:stop,:start)`
    * NamedTuples, `src/DataFrameIntervals.jl:38-46`) to canonical field order.
    */
  def normalize(c: Column, fields: Seq[String] = Seq("start", "stop")): Column =
    struct(fields.map(f => c.getField(f).as(f)): _*)

  /** Interval from Spark `TimestampType` endpoints, converted to long ns
    * (µs precision ×1000 — TimestampType is µs; ns loss rules documented). */
  def intervalFromTimestamps(startTs: Column, stopTs: Column): Column =
    interval(unix_micros(startTs) * 1000L, unix_micros(stopTs) * 1000L)

  /** The common timestamp type of `df(name)`'s `start`/`stop` endpoints:
    * `Some(TimestampType)` (µs instants), `Some(TimestampNTZType)` (µs wall
    * clock), or None for long/other endpoints — the representations the
    * engine accepts natively (reference `backto` semantics: operator outputs
    * keep the input's representation, `src/DataFrameIntervals.jl:32-35,44-46`).
    * Mixed TZ/NTZ endpoints inside one struct are ambiguous → error. */
  def timestampEndpointType(df: DataFrame, name: String): Option[DataType] =
    df.schema(name).dataType match {
      case s: StructType if Seq("start", "stop").forall(s.fieldNames.contains) =>
        val ts = Seq("start", "stop").map(f => s(f).dataType).filter(t =>
          t == TimestampType || t == TimestampNTZType)
        ts match {
          case Seq(a, b) if a == b => Some(a)
          case Seq(_, _) => throw new IllegalArgumentException(
            s"interval column `$name` mixes TIMESTAMP and TIMESTAMP_NTZ endpoints; " +
              "use one timestamp type for both start and stop")
          case _ => None
        }
      case _ => None
    }

  /** µs-timestamp struct → long-µs tick struct (NULL-preserving). The
    * interval algebra is unit-agnostic, so timestamp intervals flow through
    * every operator as exact µs ticks — no ns multiplication/division that
    * would round-trip through lossy arithmetic. For NTZ endpoints the tick is
    * wall-clock µs since 1970-01-01 00:00 via `timestampdiff` — exact and
    * session-timezone-independent (a cast through TimestampType would shift
    * with the session zone). */
  def microsFromTimestampStruct(c: Column, ntz: Boolean): Column =
    ticksOf(c, if (ntz) TimestampNTZType else TimestampType)

  /** Order-preserving long tick of an endpoint of type `dt` — values
    * compare in Spark SQL as their ticks do: integral types widen, dates are
    * days, timestamps µs, floating values their IEEE sortable key
    * ([[DoubleTickKey]]), decimals of at most 18 digits their unscaled long.
    * None when `dt` has no 64-bit order-preserving key (strings, ...). */
  def tickOf(dt: DataType): Option[Column => Column] = dt match {
    case ByteType | ShortType | IntegerType | LongType => Some(_.cast(LongType))
    case DateType => Some(f => unix_date(f))
    case TimestampType => Some(f => unix_micros(f.cast("timestamp")))
    case TimestampNTZType => Some(ntzDiffMicros)
    case FloatType | DoubleType =>
      Some(f => Bridge.column(DoubleTickKey(Bridge.expression(f.cast(DoubleType)))))
    case d: DecimalType if d.precision <= 18 =>
      Some(f => Bridge.column(UnscaledValue(Bridge.expression(f))))
    case _ => None
  }

  /** An interval's endpoints as the ticks of their type `dt`, which must
    * have a key: `struct<start:long, stop:long>`, NULL for a NULL interval. */
  def ticksOf(c: Column, dt: DataType): Column = {
    val tick = tickOf(dt).get
    when(c.isNull, lit(null)).otherwise(interval(tick(start(c)), tick(stop(c))))
  }

  /** Long-µs tick struct → µs-timestamp struct (`backto` for timestamp
    * inputs; NTZ ticks go back to NTZ via `timestampadd`, preserving the
    * input representation). NULL-preserving: a NULL interval (e.g. an
    * unmatched outer-join row) stays NULL rather than becoming
    * struct(NULL, NULL). */
  def timestampStructFromMicros(c: Column, ntz: Boolean): Column = {
    def back(f: Column): Column =
      if (ntz) ntzAddMicros(f)
      else timestamp_micros(f)
    when(c.isNull, lit(null)).otherwise(
      struct(back(c.getField("start")).as("start"),
        back(c.getField("stop")).as("stop")))
  }

  private def epochNtz: Column = lit("1970-01-01 00:00:00").cast(TimestampNTZType)

  // timestampdiff/timestampadd have no Scala-functions API (the unit is a
  // parser keyword) — build the Catalyst expressions via the bridge shim
  private def ntzDiffMicros(f: Column): Column =
    Bridge.column(org.apache.spark.sql.catalyst.expressions.TimestampDiff("MICROSECOND",
      Bridge.expression(epochNtz), Bridge.expression(f)))

  private def ntzAddMicros(t: Column): Column =
    Bridge.column(org.apache.spark.sql.catalyst.expressions.TimestampAdd("MICROSECOND",
      Bridge.expression(t), Bridge.expression(epochNtz)))

  /** Half-open overlap: `[a,b) ∩ [c,d) ≠ ∅  ⇔  a < d && c < b && a < b && c < d`.
    * Touching intervals (`a.stop == b.start`) do NOT overlap — bound-sensitive
    * like the reference (quirk 5, SURVEY §2.1). Degenerate intervals with
    * `start >= stop` denote the EMPTY set and overlap nothing (the reference's
    * `Interval` constructor rejects reversed endpoints outright; a zero-width
    * Closed-Open interval is empty) — without the two extra conjuncts a
    * reversed interval nested inside another would spuriously "match". */
  def overlaps(l: Column, r: Column): Column =
    start(l) < stop(r) && start(r) < stop(l) &&
      start(l) < stop(l) && start(r) < stop(r)

  /** Scalar interval intersection (reference I4, `src/DataFrameIntervals.jl:13-17`):
    * NULL if either input is NULL. Spark's `greatest`/`least` skip NULLs, so the
    * NULL propagation is made explicit. */
  def intersection(l: Column, r: Column): Column =
    when(l.isNull || r.isNull, lit(null)).otherwise(
      interval(greatest(start(l), start(r)), least(stop(l), stop(r))))

  /** Allen's interval algebra: classify the relation of `l` to `r` as one
    * of the 13 base relations (Allen, CACM 1983) — `precedes`, `meets`,
    * `overlaps`, `finished_by`, `contains`, `starts`, `equals`,
    * `started_by`, `during`, `finishes`, `overlapped_by`, `met_by`,
    * `preceded_by`. Endpoint comparisons on the canonical half-open
    * structs; for NON-EMPTY intervals the 13 cases are exhaustive and
    * mutually exclusive, so the when-chain order is only an evaluation
    * order, never a semantics choice. Pure codegen'd Column — usable as a
    * post-join classifier at any scale. NULL endpoints (or either operand
    * NULL) yield NULL, matching the reference's NULL-propagating scalar
    * ops (reference `src/DataFrameIntervals.jl:13-17`). */
  def allenRelation(l: Column, r: Column): Column = {
    val (as_, ae) = (start(l), stop(l))
    val (bs, be)  = (start(r), stop(r))
    when(as_.isNull || ae.isNull || bs.isNull || be.isNull, lit(null).cast("string"))
      .when(ae < bs, "precedes")
      .when(ae === bs, "meets")
      .when(be < as_, "preceded_by")
      .when(be === as_, "met_by")
      .when(as_ === bs && ae === be, "equals")
      .when(as_ === bs && ae < be, "starts")
      .when(as_ === bs, "started_by")          // ae > be by elimination
      .when(ae === be && as_ > bs, "finishes")
      .when(ae === be, "finished_by")          // as < bs by elimination
      .when(as_ > bs && ae < be, "during")
      .when(as_ < bs && ae > be, "contains")
      .when(as_ < bs, "overlaps")              // bs < ae < be by elimination
      .otherwise("overlapped_by")              // bs < as < be < ae
  }

  /** Interval width in the underlying unit (ns). */
  def duration(i: Column): Column = stop(i) - start(i)

  /** Collect the covering span of `df`'s interval column to the driver
    * (2 longs — the only driver-side materialization in the library).
    * Returns None for an empty/all-null frame (the reference returns
    * `missing`, `src/DataFrameIntervals.jl:381-382`). */
  def coveringSpan(df: DataFrame, spancol: String): Option[(Long, Long)] = {
    val row = df.agg(min(start(col(spancol))), max(stop(col(spancol)))).head()
    if (row.isNullAt(0) || row.isNullAt(1)) None
    // getAs[Number]: integral endpoint types narrower than long also work
    else Some((row.getAs[Number](0).longValue(), row.getAs[Number](1).longValue()))
  }

  /** Runtime NULL guard: fails the job with the reference's error message the
    * moment a NULL interval flows through — a plan-time expression, so no
    * extra eager scan is needed (the reference does an eager missing-scan,
    * `src/DataFrameIntervals.jl:136-141`; at 100 TB an extra scan per join
    * is unacceptable, so we assert inline). */
  def rejectNull(c: Column, side: String, fields: Seq[String] = Seq("start", "stop")): Column =
    when(fields.map(c.getField(_).isNull).foldLeft(c.isNull)(_ || _),
      raise_error(lit(s"There are missing values in the $side table of `interval_join`.")))
      .otherwise(normalize(c, fields))
}
