package graft.expressions

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo
import org.apache.spark.sql.graftbridge.Bridge

/** Column wrappers + SQL registration for the native expressions.
  *
  * Register on a `SparkSession.Builder`:
  * {{{ builder.withExtensions(new GraftExtensions) }}}
  * or via config: `spark.sql.extensions=graft.expressions.GraftExtensions`,
  * then `SELECT dot_product(a, b)`, `interval_overlaps(x, y)`,
  * `interval_intersect(x, y)` work from plain SQL.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  import GraftExtensions._

  override def apply(ext: SparkSessionExtensions): Unit =
    functions.foreach { case (name, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft", name),
        (exprs: Seq[Expression]) => builder(exprs)))
    }
}

object GraftExtensions {

  /** Codegen'd dot product as a Column (drop-in for the interpreted
    * zip_with/aggregate fold — same element order, same double math). */
  def dot_product(a: Column, b: Column): Column =
    Bridge.column(DotProduct(Bridge.expression(a), Bridge.expression(b)))

  /** Wrong-arity SQL calls must fail analysis with a clear message — a raw
    * `exprs(i)` would ignore extra arguments (silently wrong results) or
    * throw an opaque IndexOutOfBoundsException on too few. */
  private def arity(n: Int, name: String)(
      b: Seq[Expression] => Expression): Seq[Expression] => Expression =
    exprs => {
      if (exprs.length != n) throw new IllegalArgumentException(
        s"$name expects $n argument(s), got ${exprs.length}")
      b(exprs)
    }

  /** A Column-composed function lifted into a SQL expression builder via
    * the Bridge round-trip — the registered function expands to the SAME
    * expression tree the Scala API builds (codegen status included). */
  private def lift1(name: String, f: Column => Column): (String, Seq[Expression] => Expression) =
    name -> arity(1, name)(exprs => Bridge.resolvableExpression(f(Bridge.column(exprs(0)))))

  private def lift2(name: String, f: (Column, Column) => Column): (String, Seq[Expression] => Expression) =
    name -> arity(2, name)(exprs =>
      Bridge.resolvableExpression(f(Bridge.column(exprs(0)), Bridge.column(exprs(1)))))

  /** Same functions, resolvable from SQL text. Interval helpers compose
    * built-ins (already codegen'd); dot_product is the native expression;
    * the text/dedup scalars expand to their Column-path expression trees,
    * so SQL users get identical (oracle-parity) values. */
  val functions: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "dot_product" -> arity(2, "dot_product") { exprs => DotProduct(exprs(0), exprs(1)) },
    // Lifted from the Scala API so SQL and Scala agree on the edge cases:
    // `overlaps` carries the degenerate-interval guards (start >= stop =
    // empty set matches nothing) and `intersection` the explicit NULL
    // propagation (greatest/least alone would SKIP a NULL endpoint).
    lift2("interval_overlaps", graft.intervals.IntervalCols.overlaps),
    lift2("interval_intersect", graft.intervals.IntervalCols.intersection),
    lift1("interval_duration", graft.intervals.IntervalCols.duration),
    lift1("token_count", graft.functions.TextFunctions.tokenCount),
    lift1("bpe_token_count", graft.functions.TextFunctions.bpeTokenCount),
    lift1("token_hash", graft.functions.TextFunctions.tokenHash),
    lift1("lang_id", graft.functions.TextFunctions.langId),
    lift1("quality_score", graft.functions.TextFunctions.qualityScore),
    lift1("doc_fingerprint", graft.functions.TextFunctions.fingerprint),
    lift1("simhash32", graft.functions.Dedup.simhash32))
}
