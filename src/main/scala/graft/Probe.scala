package graft

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong
import scala.util.control.NonFatal
import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import Bench.{materialize, timed}

/** Dev probes over a query map, run on the shared [[Session.build]] session
  * so their numbers compare with Bench's conf-for-conf; the commands are in
  * `usage`. Wall-clock numbers are comparable only within one session (the
  * machine has roving slowdown bands); job/stage/task counts are structural
  * and immune to them. */
object Probe {
  type Queries = Map[String, (SparkSession, String) => DataFrame]

  def time(spark: SparkSession, queries: Queries, dir: String, names: Seq[String],
      reps: Int): Unit =
    for (name <- names; i <- 1 to reps) {
      val (_, sec) = timed(materialize(queries(name)(spark, dir)))
      println(f"PROBE $name rep$i $sec%.3f s")
    }

  /** Splits each run into construction, execution and the Catalyst phases
    * (analysis / optimization / planning) of its QueryPlanningTracker. */
  def phases(spark: SparkSession, queries: Queries, dir: String, name: String,
      reps: Int): Unit =
    for (i <- 1 to reps) {
      val (df, build) = timed(queries(name)(spark, dir))
      val (_, exec) = timed(materialize(df))
      val phases = df.queryExecution.tracker.phases
        .map { case (k, v) => s"$k=${v.durationMs}ms" }.mkString(" ")
      println(f"PHASE $name rep$i construct=$build%.3f exec=$exec%.3f  $phases")
    }

  final case class Counts(jobs: Long, stages: Long, tasks: Long)

  /** The Spark jobs, stages and tasks each run schedules, eager frame
    * construction included. */
  def jobs(spark: SparkSession, queries: Queries, dir: String, names: Seq[String],
      reps: Int): Seq[Counts] = {
    val jobs, stages, tasks = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); stages.addAndGet(j.stageInfos.size.toLong)
        tasks.addAndGet(j.stageInfos.map(_.numTasks.toLong).sum)
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    // the listener bus is async: drain it before resetting (no earlier
    // job's events may land in this run) and before reading
    try for (name <- names; rep <- 1 to reps) yield {
      GraftListenerBus.drain(sc)
      jobs.set(0); stages.set(0); tasks.set(0)
      val (_, sec) = timed(materialize(queries(name)(spark, dir)))
      GraftListenerBus.drain(sc)
      val c = Counts(jobs.get, stages.get, tasks.get)
      println(f"JOBS $name rep$rep jobs=${c.jobs} stages=${c.stages} tasks=${c.tasks} wall=$sec%.3f s")
      c
    } finally sc.removeSparkListener(listener)
  }

  /** Times `name` under each SQL-conf override set, round-robin over
    * `rounds` so slowdown bands hit every arm alike, after one untimed warm
    * run; each arm's overrides are undone after its run. */
  def confAb(spark: SparkSession, queries: Queries, dir: String, name: String,
      rounds: Int, sets: Seq[Seq[(String, String)]]): Unit = {
    val fn = queries(name)
    materialize(fn(spark, dir))
    val times = Array.fill(sets.length)(List.empty[Double])
    for (_ <- 1 to rounds; (ovr, i) <- sets.zipWithIndex) {
      val prev = ovr.map { case (k, _) => k -> spark.conf.getOption(k) }
      ovr.foreach { case (k, v) => spark.conf.set(k, v) }
      try times(i) ::= timed(materialize(fn(spark, dir)))._2
      finally prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    for ((ovr, i) <- sets.zipWithIndex) {
      val label =
        if (ovr.isEmpty) "default" else ovr.map { case (k, v) => s"$k=$v" }.mkString(";")
      val all = times(i).reverse.map(t => f"$t%.2f").mkString(",")
      println(f"AB $name min=${times(i).min}%.3f all=[$all]  $label")
    }
  }

  /** Writes each query's formatted plan to `out/<query>.txt` and returns
    * the queries that failed to plan. */
  def plans(spark: SparkSession, queries: Queries, dir: String, out: Path,
      names: Seq[String]): Seq[String] = {
    Files.createDirectories(out)
    names.filterNot { q =>
      try {
        val txt = queries(q)(spark, dir).queryExecution.explainString(FormattedMode)
        Files.writeString(out.resolve(s"$q.txt"), txt)
        println(s"PLAN $q ok (${txt.length} chars)")
        true
      } catch { case NonFatal(e) =>
        System.err.println(s"PLAN $q FAILED: $e")
        false
      }
    }
  }

  private val usage =
    """usage: runMain graft.Probe <command>, data dir from SPARK_GRAFT_SF_DIR
      |  time <query>... [reps]        wall seconds per run (2 reps)
      |  phases <query> [reps]         construction / Catalyst phases / execution (3 reps)
      |  jobs <query>...               jobs, stages and tasks per run (2 reps)
      |  conf-ab <query> <rounds> <set>...
      |      round-robin SQL-conf arms, per-arm minimum; a set is `k=v;k=v` or `default`
      |  plans <outDir> <query>...|all
      |      explain("formatted") (AQE initial plan) to <outDir>/<query>.txt;
      |      exits 1 naming the queries that fail to plan""".stripMargin

  def main(args: Array[String]): Unit = {
    val dir = sys.env.get("SPARK_GRAFT_SF_DIR")
    val qs = SparkEntry.queries
    // each command returns the queries it failed on; only `plans` catches
    val run: SparkSession => Seq[String] = (dir, args.toList) match {
      case (None, _) => System.err.println(usage); sys.exit(2)
      case (Some(d), "time" :: rest) if rest.nonEmpty =>
        val (names, reps) = rest.last.toIntOption.fold((rest, 2))((rest.init, _))
        s => { time(s, qs, d, names, reps); Nil }
      case (Some(d), "phases" :: name :: reps) =>
        s => { phases(s, qs, d, name, reps.headOption.fold(3)(_.toInt)); Nil }
      case (Some(d), "jobs" :: names) if names.nonEmpty =>
        s => { jobs(s, qs, d, names, 2); Nil }
      case (Some(d), "conf-ab" :: name :: rounds :: sets) if sets.nonEmpty =>
        val arms = sets.map { set =>
          if (set == "default") Nil
          else set.split(";").toSeq.map { kv => val Array(k, v) = kv.split("=", 2); (k, v) }
        }
        s => { confAb(s, qs, d, name, rounds.toInt, arms); Nil }
      case (Some(d), "plans" :: out :: names) if names.nonEmpty =>
        s => plans(s, qs, d, Paths.get(out), if (names == List("all")) qs.keys.toSeq else names)
      case _ => System.err.println(usage); sys.exit(2)
    }
    val spark = Session.build()
    val failed = try run(spark) finally spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"FAILED: ${failed.mkString(", ")}")
      sys.exit(1)
    }
  }
}
