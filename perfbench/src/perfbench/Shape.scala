package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQueryManager

/** The hooks a query reports its phases through. The untraced run passes
  * hooks that only run the body. */
trait Phases {
  /** Runs `body` as phase `name` (`build`, `plan` or `execute`). */
  def apply[T](name: String)(body: => T): T
  /** The query's batch plan, after execution. */
  def planned(qe: QueryExecution): Unit
  /** A streaming query the current phase started: its micro-batches belong
    * to this query. */
  def stream(runId: java.util.UUID): Unit
}

object Phases {
  val untraced: Phases = new Phases {
    def apply[T](name: String)(body: => T): T = body
    def planned(qe: QueryExecution): Unit = ()
    def stream(runId: java.util.UUID): Unit = ()
  }
}

/** One query shape of a workload: a call into the library's public API,
  * run until its result is fully materialized. */
trait Shape {
  def name: String
  /** Input rows (events, for a replay) one query processes. */
  def inputRows: Long
  /** Runs the query once and returns its output row count. */
  def run(p: Phases): Long
  /** The session whose streaming queries this shape starts, if any. */
  def streams: Option[StreamingQueryManager] = None
  /** Runs the query once for the warm-up: its row count, and the digest of
    * its rows when the shape has a reference to check them against. */
  def warmUp(): (Long, Option[Digest]) = (run(Phases.untraced), None)
}

/** A batch query: `build` calls the API (eager passes included), `plan`
  * forces the physical plan, `execute` materializes every row through
  * `toRdd` — `df.count()` would let Catalyst prune the projection. */
final class BatchShape(val name: String, val inputRows: Long, digestCols: Seq[String] = Nil)(
    build: => DataFrame) extends Shape {
  def run(p: Phases): Long = {
    val df = p("build")(build)
    val qe = df.queryExecution
    p("plan")(qe.executedPlan)
    val n = p("execute")(qe.toRdd.count())
    p.planned(qe)
    n
  }

  /** With `digestCols`, the warm-up digests those (long) columns of every
    * output row. */
  override def warmUp(): (Long, Option[Digest]) =
    if (digestCols.isEmpty) super.warmUp()
    else {
      val d = Digest.ofFrame(build.select(digestCols.map(org.apache.spark.sql.functions.col): _*))
      (d.rows, Some(d))
    }
}

/** A replay: `batches` go through a MemoryStream one micro-batch at a time
  * into the streaming operator `op`, whose append-mode output lands in a
  * memory sink. `build` starts the stream, `execute` feeds every batch,
  * stops the stream and materializes the sink.
  *
  * The stream runs in its own session with one shuffle partition per core:
  * state-store partitions are fixed at stream start, and Spark's default
  * of 200 would make every micro-batch schedule and commit 200 stateful
  * tasks. */
final class StreamShape(val name: String, parent: SparkSession,
    batches: Seq[Seq[(Long, Long, Long)]])(op: DataFrame => DataFrame) extends Shape {
  val inputRows: Long = batches.map(_.size.toLong).sum
  private val spark = parent.newSession()
  spark.conf.set("spark.sql.shuffle.partitions", Runtime.getRuntime.availableProcessors.toLong)
  override def streams: Option[StreamingQueryManager] = Some(spark.streams)
  private var runs = 0

  def run(p: Phases): Long = {
    import spark.implicits._
    runs += 1
    val sink = s"perfbench_${name}_$runs"
    val (in, q) = p("build") {
      val in = MemoryStream[(Long, Long, Long)](spark)
      val q = op(in.toDF()).writeStream.format("memory").queryName(sink)
        .outputMode("append").start()
      p.stream(q.runId)
      (in, q)
    }
    p("execute") {
      try batches.foreach { b => in.addData(b); q.processAllAvailable() }
      finally q.stop()
      val n = spark.table(sink).queryExecution.toRdd.count()
      spark.catalog.dropTempView(sink)
      n
    }
  }
}

/** What the warm-up saw: each shape's row count, which every timed query
  * must match, and the digests of the shapes that take one. */
final case class Warm(counts: Map[String, Long], digests: Map[String, Digest])

/** A check of the warm-up's results against a plain-Scala reference. */
final case class Check(name: String, run: Warm => (Boolean, String))

/** A workload's inputs, materialized, and the queries over them. */
final case class Prepared(shapes: IndexedSeq[Shape], checks: Seq[Check], inputs: Seq[(String, Digest)])

trait Workload {
  def name: String
  /** Generates the inputs from `seed`, writes them under `dir` and reads
    * them back as the frames the queries use. */
  def prepare(spark: SparkSession, seed: Long, dir: String): Prepared
}
