package perfbench

import org.apache.spark.sql.execution.QueryExecution

/** The per-layer metrics a traced run reports, and how it prints them. */
object Layers {

  /** Name and unit of every per-layer metric, in report order. Each value
    * is the median over the run's traced queries; a `streaming.*` value is
    * the median over the traced queries that ran micro-batches, 0 if none. */
  val metrics: Seq[(String, String)] = Seq(
    "operators.build_s" -> "s", "operators.build_jobs" -> "count",
    "catalyst.analysis_s" -> "s", "catalyst.optimization_s" -> "s", "catalyst.planning_s" -> "s",
    "codegen.compile_s" -> "s", "codegen.classes" -> "count",
    "scheduler.jobs" -> "count", "scheduler.stages" -> "count", "scheduler.tasks" -> "count",
    "scheduler.overhead_s" -> "s",
    "scan.read_rows" -> "count", "scan.read_bytes" -> "bytes",
    "exec.run_s" -> "s", "exec.cpu_s" -> "s", "exec.gc_s" -> "s",
    "exec.shuffle_write_bytes" -> "bytes", "exec.shuffle_write_records" -> "count",
    "exec.shuffle_read_bytes" -> "bytes", "exec.spill_bytes" -> "bytes",
    "exec.output_rows" -> "count", "exec.input_rows" -> "count", "exec.replication" -> "ratio",
    "streaming.batches" -> "count", "streaming.batch_s" -> "s", "streaming.wal_commit_s" -> "s",
    "streaming.state_commit_s" -> "s", "streaming.state_rows" -> "count",
    "span.build_self_s" -> "s", "span.plan_self_s" -> "s", "span.execute_self_s" -> "s",
    "trace.query_p50_s" -> "s", "trace.overhead_s" -> "s")

  /** The join operators in a query's final physical plan: `sweep` (the
    * plane sweep's per-partition map), `bnlj` (broadcast nested loop),
    * `binned` (an equi-join over exploded bins), or the raw join node names
    * otherwise; `none` when the plan joins nothing. */
  def joinPath(qe: QueryExecution): String = {
    val plan = qe.executedPlan.toString
    def has(node: String) = plan.contains(node)
    val equi = Seq("SortMergeJoin", "ShuffledHashJoin", "BroadcastHashJoin").filter(has)
    val found =
      (if (has("MapPartitions")) Seq("sweep") else Nil) ++
        (if (has("BroadcastNestedLoopJoin")) Seq("bnlj") else Nil) ++
        (if (has("CartesianProduct")) Seq("cartesian") else Nil) ++
        (if (equi.nonEmpty && has("Generate")) Seq("binned") else equi)
    if (found.isEmpty) "none" else found.mkString("+")
  }

  /** Prints every per-layer metric with its unit, the base of each ratio
    * and the layer shares of the median query; returns the metrics. */
  def report(records: Seq[Map[String, Double]], tracedP50: Double, untracedP50: Double,
      cores: Int, paths: Map[String, Int], unassignedJobs: Long,
      tracePath: String): Seq[(String, Double, String)] = {
    val streamed = records.filter(_("streaming.batches") > 0)
    def med(k: String) =
      if (!k.startsWith("streaming.")) Main.median(records.map(_(k)))
      else if (streamed.isEmpty) 0.0
      else Main.median(streamed.map(_(k)))
    val values = metrics.map {
      case ("trace.query_p50_s", u) => ("trace.query_p50_s", tracedP50, u)
      case ("trace.overhead_s", u) => ("trace.overhead_s", tracedP50 - untracedP50, u)
      case (n, u) => (n, med(n), u)
    }
    println(s"  traced queries: ${records.size} (${streamed.size} streaming); spans written to $tracePath")
    println(s"  join paths: ${paths.toSeq.sorted.map { case (p, n) => s"$p x$n" }.mkString(", ")}")
    println(s"  jobs outside any query: $unassignedJobs")
    values.foreach { case (n, v, u) => println(f"  ${n.padTo(28, ' ')} $v%.6g $u") }
    println(f"  bases: exec.replication = exec.shuffle_write_records ${med("exec.shuffle_write_records")}%.0f " +
      f"/ exec.input_rows ${med("exec.input_rows")}%.0f; trace.overhead_s = traced p50 $tracedP50%.4f s " +
      f"- untraced p50 $untracedP50%.4f s (same run, alternating rotations)")
    val q = med("query_s")
    val catalyst = med("catalyst.analysis_s") + med("catalyst.optimization_s") + med("catalyst.planning_s")
    val fixed = med("operators.build_s") + catalyst + med("codegen.compile_s") +
      med("scheduler.overhead_s") / cores
    println(f"  shares of the median query ($q%.4f s wall; task sums divided by $cores cores):")
    println(f"    build ${share(med("operators.build_s"), q)}, catalyst ${share(catalyst, q)}, " +
      f"codegen ${share(med("codegen.compile_s"), q)}, scheduler ${share(med("scheduler.overhead_s") / cores, q)}, " +
      f"exec ${share(med("exec.run_s") / cores, q)}; build+catalyst+codegen+scheduler ${share(fixed, q)}")
    println(f"    spans: build self ${share(med("span.build_self_s"), q)}, plan self ${share(med("span.plan_self_s"), q)}, " +
      f"execute self ${share(med("span.execute_self_s"), q)}; " +
      f"largest |query - build - plan - execute| ${records.map(r => math.abs(r("span.unaccounted_s"))).maxOption.getOrElse(0.0) * 1000}%.3f ms")
    if (records.exists(_("codegen.exact") == 0.0))
      println("  codegen.compile_s is estimated: the compile-time histogram has dropped samples")
    values
  }

  private def share(part: Double, whole: Double): String = f"${100 * part / whole}%.1f%%"
}
