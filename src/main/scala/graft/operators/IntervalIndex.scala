package graft.operators

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BasePredicate, BindReferences, Expression,
  Generator, GeneratorOuter, GenericInternalRow, JoinedRow, Predicate}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, LogicalPlan, Project, ResolvedHint}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** The broadcast interval index: one side of an interval join collected
  * once, its non-empty half-open `[start, stop)` ticks sorted by start, and
  * an implicit augmented interval tree over that array (the cgranges layout,
  * H. Li 2019): node `i` sits at level `k` = the number of trailing one bits
  * of `i`, its children are `i ± 2^(k-1)`, and `maxStop(i)` is the largest
  * stop in its subtree. A lookup costs O(log m + k) for m indexed spans and
  * k hits whatever the length distribution: one domain-long span raises the
  * max-stop of its ancestors only, so it cannot turn a lookup into a scan.
  *
  * `rows` are the side's collected rows, in collect order; the tree refers
  * to them by ordinal. Rows with a NULL or empty tick pair are kept in
  * `rows` (an outer join on this side emits them) but not in the tree. */
private[graft] final class IntervalIndex private (val rows: Array[InternalRow],
    starts: Array[Long], stops: Array[Long], ords: Array[Int]) extends Serializable {
  private val n = starts.length
  private val maxStop = stops.clone()
  /** Level of the root, 2^rootK - 1; -1 for an empty tree. */
  private val rootK: Int = {
    // bottom-up: `last` is the max stop of the in-range part of the subtree
    // whose root `lastI` is the rightmost node at the current level, which
    // stands in for a right child past the end of the array
    var lastI = (n - 1) & ~1
    var last = if (n > 0) maxStop(lastI) else Long.MinValue
    var k = 1
    while ((1L << k) <= n) {
      val x = 1 << (k - 1)
      var i = (x << 1) - 1
      while (i < n) {
        val r = if (i + x < n) maxStop(i + x) else last
        maxStop(i) = math.max(maxStop(i), math.max(maxStop(i - x), r))
        i += x << 2
      }
      lastI = if (((lastI >> k) & 1) == 1) lastI - x else lastI + x
      if (lastI < n && maxStop(lastI) > last) last = maxStop(lastI)
      k += 1
    }
    if (n == 0) -1 else k - 1
  }

  /** Calls `f` with the row ordinal of every indexed span that overlaps the
    * non-empty half-open `[qs, qe)`. */
  def foreachOverlap(qs: Long, qe: Long)(f: Int => Unit): Unit = if (rootK >= 0) {
    // a stack of (node, level, left subtree done) entries, at most two per level
    val node = new Array[Int](2 * rootK + 4)
    val level = new Array[Int](2 * rootK + 4)
    val leftDone = new Array[Boolean](2 * rootK + 4)
    var t = 0
    def push(i: Int, k: Int, done: Boolean): Unit = {
      node(t) = i; level(t) = k; leftDone(t) = done; t += 1
    }
    push((1 << rootK) - 1, rootK, done = false)
    while (t > 0) {
      t -= 1
      val i = node(t)
      val k = level(t)
      if (k <= 3) {
        // a small subtree: scan its span of the sorted array
        var j = i >> k << k
        val end = math.min(n, j + (1 << (k + 1)) - 1)
        while (j < end && starts(j) < qe) {
          if (qs < stops(j)) f(ords(j))
          j += 1
        }
      } else if (!leftDone(t)) {
        val left = i - (1 << (k - 1))
        push(i, k, done = true)
        if (left >= n || maxStop(left) > qs) push(left, k - 1, done = false)
      } else if (i < n && starts(i) < qe) {
        if (qs < stops(i)) f(ords(i))
        push(i + (1 << (k - 1)), k - 1, done = false)
      }
    }
  }
}

/** The probe of an index join, a generator over the streamed side: for each
  * streamed row, the indexed rows whose ticks overlap its tick pair
  * (`children(0)`) and, for a bounded form, whose riding value passes the
  * exact predicate `residual` with the streamed riding value (`children(1)`).
  * It emits the indexed rows themselves (`elementSchema` = the indexed
  * side's schema) or, with `ordinals`, only their ordinals in
  * `IntervalIndex.rows`. Under `GeneratorOuter`, a streamed row with no hit
  * gets one NULL-extended row. `residual` is bound to the pair row
  * `(left value, right value)`; `indexedValue` is the indexed riding value's
  * ordinal in its rows. */
private[graft] case class IntervalProbe(children: Seq[Expression],
    index: Broadcast[IntervalIndex], rowSchema: StructType, ordinals: Boolean,
    residual: Option[Expression], indexedValue: Int, indexedLeft: Boolean)
    extends Generator with CodegenFallback {

  override def prettyName: String = "interval_probe"
  override protected def stringArgs: Iterator[Any] = children.iterator

  override def elementSchema: StructType =
    if (ordinals) StructType(Seq(StructField(IntervalProbe.Ordinal, IntegerType, nullable = false)))
    else rowSchema

  @transient private lazy val exact: Option[BasePredicate] = residual.map { r =>
    val p = Predicate.create(r)
    p.initialize(0)
    p
  }
  @transient private lazy val pair = new GenericInternalRow(2)
  @transient private lazy val valueType = rowSchema(indexedValue).dataType
  @transient private lazy val idx = index.value

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val ticks = children.head.eval(input).asInstanceOf[InternalRow]
    if (ticks == null || ticks.isNullAt(0) || ticks.isNullAt(1)) return Nil
    val (qs, qe) = (ticks.getLong(0), ticks.getLong(1))
    if (qs >= qe) return Nil
    val hits = ArrayBuffer.empty[InternalRow]
    val streamedValue = if (exact.isDefined) children(1).eval(input) else null
    idx.foreachOverlap(qs, qe) { i =>
      val keep = exact.forall { p =>
        val v = idx.rows(i).get(indexedValue, valueType)
        pair.update(0, if (indexedLeft) v else streamedValue)
        pair.update(1, if (indexedLeft) streamedValue else v)
        p.eval(pair)
      }
      if (keep) hits += (if (ordinals) InternalRow(i) else idx.rows(i))
    }
    hits
  }

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): IntervalProbe =
    copy(children = newChildren)
}

private[graft] object IntervalProbe {
  val Ordinal = "__ord"
}

/** The index join: [[IntervalIndex]] over the collected side, probed by a
  * lazy [[IntervalProbe]] generator over the other (streamed) side. */
private[graft] object IntervalIndex {

  /** One side of the join: its frame, its tick-pair column and its riding
    * value column (the tick column itself when the form has none). */
  final case class Side(df: DataFrame, ticks: String, value: String)

  /** The index over `rows`, whose tick pair is the struct at `ticksOrdinal`
    * with `tickType` fields (long, or int for date days). */
  def apply(rows: Array[InternalRow], ticksOrdinal: Int, tickType: DataType): IntervalIndex = {
    val spans = rows.indices.flatMap { i =>
      val t = if (rows(i).isNullAt(ticksOrdinal)) null else rows(i).getStruct(ticksOrdinal, 2)
      if (t == null || t.isNullAt(0) || t.isNullAt(1)) None
      else {
        def tick(j: Int) = t.get(j, tickType).asInstanceOf[Number].longValue
        if (tick(0) < tick(1)) Some((tick(0), tick(1), i)) else None
      }
    }.sortBy(_._1)
    new IntervalIndex(rows, spans.map(_._1).toArray, spans.map(_._2).toArray, spans.map(_._3).toArray)
  }

  /** The side an index join collects (true = left): never a streaming
    * side; else a side under a `broadcast` hint when only one is; else the
    * smaller in Catalyst's estimated bytes, the right one on a tie. */
  def indexesLeft(left: Side, right: Side): Boolean = {
    def hinted(plan: LogicalPlan): Boolean = plan match {
      case h: ResolvedHint => h.hints.strategy.contains(BROADCAST)
      case Project(_, child) => hinted(child)
      case _ => false
    }
    if (left.df.isStreaming || right.df.isStreaming) right.df.isStreaming
    else (hinted(left.df.queryExecution.analyzed), hinted(right.df.queryExecution.analyzed)) match {
      case (l, r) if l != r => l
      case _ => sizeInBytes(left.df) < sizeInBytes(right.df)
    }
  }

  private def sizeInBytes(df: DataFrame): BigInt =
    df.queryExecution.optimizedPlan.stats.sizeInBytes

  /** Joins `left` and `right` through an index over one of them. The one
    * job this runs while the frame is built is the collect of the indexed
    * side, bounded by `maxRows + 1` rows in one task; None when the side
    * has more than `maxRows` rows. `residual` is the exact predicate over
    * `col(left.value)` and `col(right.value)`, if the ticks only cover it.
    * `keepLeft` / `keepRight` are the outer flags. Output: both sides'
    * columns by name. */
  def join(left: Side, right: Side, residual: Option[Column], indexLeft: Boolean,
      keepLeft: Boolean, keepRight: Boolean, maxRows: Long): Option[DataFrame] = {
    val (indexed, streamed) = if (indexLeft) (left, right) else (right, left)
    val schema = indexed.df.schema
    require(!schema.fieldNames.contains(IntervalProbe.Ordinal) &&
      !streamed.df.columns.contains(IntervalProbe.Ordinal),
      s"`${IntervalProbe.Ordinal}` is the index join's own column name")
    val cap = math.min(maxRows, Int.MaxValue - 1L).toInt
    // one partition: a limited collect over several would scan them in
    // several jobs (the first partition, then more)
    val rows = Bridge.collectInternal(indexed.df.coalesce(1).limit(cap + 1))
    if (rows.length > cap) return None

    val spark = indexed.df.sparkSession
    val ticksType = schema(indexed.ticks).dataType.asInstanceOf[StructType]
    val index = spark.sparkContext.broadcast(
      IntervalIndex(rows, schema.fieldIndex(indexed.ticks), ticksType("start").dataType))
    // the exact predicate, bound to the pair row (left value, right value)
    val bound = residual.map { r =>
      val pairSchema = StructType(Seq(left.df.schema(left.value), right.df.schema(right.value)))
      val plan = spark.createDataFrame(java.util.List.of[Row](), pairSchema).select(r)
        .queryExecution.analyzed.asInstanceOf[Project]
      BindReferences.bindReference(plan.projectList.head.children.head, plan.child.output)
    }
    // the probe reads long ticks (date ticks are int days)
    val streamedTicks = streamed.df.schema(streamed.ticks).dataType match {
      case t: StructType if t.forall(_.dataType == LongType) => col(streamed.ticks)
      case _ => col(streamed.ticks).cast("struct<start:bigint,stop:bigint>")
    }
    val probed = (streamedTicks +: bound.map(_ => col(streamed.value)).toSeq)
      .map(Bridge.expression)
    def probe(ordinals: Boolean) = IntervalProbe(probed, index, schema, ordinals, bound,
      schema.fieldIndex(indexed.value), indexLeft)

    val (keepStreamed, keepIndexed) = if (indexLeft) (keepRight, keepLeft) else (keepLeft, keepRight)
    val matched = streamed.df.select(col("*"),
      Bridge.column(if (keepStreamed) GeneratorOuter(probe(false)) else probe(false)))
    if (!keepIndexed) return Some(matched)
    // the indexed rows no streamed row matched, from a second probe pass
    // that reads only the streamed ticks (and value) and emits ordinals
    val hitOrdinals = streamed.df.select(Bridge.column(probe(true))).distinct()
    val collected = Bridge.localFrame(indexed.df,
      schema.add(IntervalProbe.Ordinal, IntegerType, nullable = false),
      rows.indices.map(i => new JoinedRow(rows(i), InternalRow(i)).copy()))
    val unmatched = collected.join(hitOrdinals, Seq(IntervalProbe.Ordinal), "left_anti")
      .select(streamed.df.schema.map(f => lit(null).cast(f.dataType).as(f.name)) ++
        schema.fieldNames.map(col): _*)
    Some(matched.unionByName(unmatched))
  }
}
