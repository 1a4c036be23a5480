package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution

/** The benchmark: one JVM, `local[cores]`, one closed-loop client.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work-dir <dir>
  * }}}
  *
  * Set-up starts the session, generates the inputs from the seed and
  * materializes them [[SetupReps]] times, then runs every query shape once,
  * which warms the JVM and fixes each shape's expected row count. The timed
  * loop runs the shapes in whole rotations until `--seconds` have passed,
  * for at least [[MinRotations]] rotations and, untraced, at least [[MinQueries]]
  * successful queries. Every query must return its expected count; the
  * plain-Scala reference checks of the warm-up results run once. The last
  * stdout line is the JSON result.
  *
  * `--trace 1` alternates each shape between untraced and traced rotations:
  * traced queries run with the layer listeners registered and record spans
  * and counts, and the difference of the two typical query times is the
  * tracing overhead. */
object Main {
  /** How many times set-up prepares the inputs; `setup_s` uses the median. */
  val SetupReps = 3
  /** Fewest successful untraced queries a run measures: one more than the
    * ten samples the tail percentile needs beyond it. */
  val MinQueries = 11
  /** Fewest rotations a run measures: every shape then has a sample on each
    * side of the traced/untraced alternation. */
  val MinRotations = 2

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      workDir: String)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") match {
        case "0" => false
        case "1" => true
        case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
      }, m.getOrElse("work-dir", ".bench_build/perfbench"))
  }

  def main(argv: Array[String]): Unit = {
    val code =
      try run(parse(argv))
      catch {
        case e: Throwable =>
          System.err.println(s"perfbench: ${e.getMessage}")
          e.printStackTrace()
          2
      }
    System.exit(code)
  }

  def session(cores: Int, workDir: String): SparkSession = {
    val b = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      // what the library needs beyond Spark's defaults
      .config("spark.sql.session.timeZone", "UTC")
      // keep every file the run writes inside the work directory
      .config("spark.local.dir", s"$workDir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
      .config("spark.sql.streaming.forceDeleteTempCheckpointLocation", "true")
      .config("spark.ui.enabled", "false")
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def run(a: Args): Int = {
    val wl = Workloads.byName(a.workload).getOrElse(throw new IllegalArgumentException(
      s"unknown workload ${a.workload}; one of ${Workloads.all.map(_.name).mkString(", ")}"))
    val cores = Runtime.getRuntime.availableProcessors

    val t0 = System.nanoTime
    val spark = session(cores, a.workDir)
    val sessionS = secsSince(t0)
    val dataDir = new java.io.File(s"${a.workDir}/data/${wl.name}-${a.seed}")
    deleteTree(dataDir)

    // ---- set-up: materialize the inputs SetupReps times and keep the last;
    // then one warm-up rotation fixes each shape's expected row count
    val prepS = ArrayBuffer.empty[Double]
    var prepared: Prepared = null
    for (rep <- 0 until SetupReps) {
      val t = System.nanoTime
      prepared = wl.prepare(spark, a.seed, s"$dataDir/rep$rep")
      prepS += secsSince(t)
      if (rep > 0) deleteTree(new java.io.File(s"$dataDir/rep${rep - 1}"))
    }
    val tw = System.nanoTime
    val warmed = prepared.shapes.map(s => s.name -> s.warmUp())
    val warm = Warm(warmed.map { case (n, (c, _)) => n -> c }.toMap,
      warmed.collect { case (n, (_, Some(d))) => n -> d }.toMap)
    val expected = warm.counts
    val warmS = secsSince(tw)
    val setupS = sessionS + median(prepS.toSeq) + warmS
    val heap = new HeapPeak
    heap.sampleAfterGc()

    println(s"perfbench workload=${wl.name} seed=${a.seed} seconds=${a.seconds} trace=${if (a.trace) 1 else 0} " +
      s"cores=$cores shapes=${prepared.shapes.size}")
    prepared.inputs.foreach { case (n, d) => println(s"  input $n: $d") }
    println(f"  set-up: session $sessionS%.3f s, prepare ${prepS.map(s => f"$s%.3f").mkString(" / ")} s, " +
      f"warm-up $warmS%.3f s")

    // ---- timed loop: whole rotations until the time is up
    val sc = spark.sparkContext
    val listener = new LayerListener
    val log = new SpanLog
    val base = new Clock
    // successful query times by shape, untraced and traced
    val untraced = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
    val tracedTimes = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
    def latencies = untraced.values.flatten.toSeq
    val records = ArrayBuffer.empty[Map[String, Double]]
    val paths = mutable.Map.empty[String, Int]
    var attempted = 0
    var failed = 0
    var rowsDone = 0L
    val loopStart = System.nanoTime
    val deadline = loopStart + (a.seconds * 1e9).toLong
    // also at least MinRotations rotations, and untraced at least
    // MinQueries queries, so that the tail percentile exists
    var rotations = 0
    def short = rotations < MinRotations || (!a.trace && latencies.size < MinQueries)
    while (System.nanoTime < deadline ||
        (short && System.nanoTime < loopStart + 3 * (deadline - loopStart))) {
      prepared.shapes.zipWithIndex.foreach { case (shape, i) =>
        attempted += 1
        // each shape alternates between traced and untraced rotations
        val traced = a.trace && (i + rotations) % 2 == 1
        if (traced) {
          sc.addSparkListener(listener)
          shape.streams.foreach(_.addListener(listener.streaming))
        }
        val tp = if (traced) new TracedPhases(sc, base, attempted) else null
        val codegen0 = if (traced) CodegenSnapshot.now() else null
        val qs = base.nowMs
        val t = System.nanoTime
        val result =
          try Right(shape.run(if (traced) tp else Phases.untraced))
          catch { case e: Throwable => Left(e) }
        val dt = secsSince(t)
        val ok = result match {
          case Right(n) if n == expected(shape.name) => true
          case Right(n) =>
            System.err.println(s"perfbench: ${shape.name} returned $n rows, expected ${expected(shape.name)}")
            false
          case Left(e) =>
            System.err.println(s"perfbench: ${shape.name} failed: $e")
            false
        }
        if (!ok) failed += 1
        else {
          (if (traced) tracedTimes else untraced).getOrElseUpdate(shape.name, ArrayBuffer.empty) += dt
          rowsDone += shape.inputRows
        }
        if (traced) {
          val rec = tp.finish(listener, log, shape, qs, base.nowMs, result.getOrElse(-1L),
            CodegenSnapshot.now() - codegen0, ok)
          paths(tp.path) = paths.getOrElse(tp.path, 0) + 1
          if (ok) records += rec
          sc.removeSparkListener(listener)
          shape.streams.foreach(_.removeListener(listener.streaming))
        }
      }
      rotations += 1
    }
    val loopS = secsSince(loopStart)
    heap.sampleAfterGc()

    // ---- reference checks of the warm-up results, once per run
    prepared.checks.foreach { c =>
      attempted += 1
      val (ok, detail) =
        try c.run(warm) catch { case e: Throwable => (false, s"threw $e") }
      if (!ok) failed += 1
      println(s"  check ${if (ok) "ok  " else "FAIL"} ${c.name}: $detail")
    }
    spark.stop()
    deleteTree(dataDir)

    if (untraced.size > 1) println("  per-shape times (s): " + untraced.map { case (n, xs) =>
      s"$n " + xs.map(x => f"$x%.3f").mkString("/") }.mkString(", "))
    val failedRatio = failed.toDouble / attempted
    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) {
        val tail = Tail(latencies)
        println(f"  setup_s        $setupS%.4f s    (session + median of $SetupReps prepares + warm-up)")
        println(f"  query_p50_s    ${typical(untraced)}%.4f s    (n=${latencies.size}" +
          (if (untraced.size > 1) s", geometric mean of ${untraced.size} shape medians)" else ")"))
        println(f"  query_tail_s   ${tail.value}%.4f s    (p${tail.percentile}%.1f, n=${latencies.size}, ${tail.beyond} samples beyond)")
        println(f"  rows_per_s     ${rowsDone / loopS}%.1f 1/s  ($rowsDone input rows in $loopS%.2f s)")
        println(f"  failed_ratio   $failedRatio%.4f      ($failed failed / $attempted attempted)")
        println(f"  heap_peak_mb   ${heap.peakMb}%.1f MB")
        Seq(("setup_s", setupS, "s"), ("query_p50_s", typical(untraced), "s"),
          ("query_tail_s", tail.value, "s"), ("rows_per_s", rowsDone / loopS, "1/s"),
          ("heap_peak_mb", heap.peakMb, "MB"))
      } else {
        val tracePath = java.nio.file.Paths.get(s"${a.workDir}/trace-${wl.name}-${a.seed}.json")
        log.writeJson(tracePath)
        Layers.report(records.toSeq, typical(tracedTimes), typical(untraced),
          cores, paths.toMap, listener.unassignedJobs, tracePath.toString)
      }
    val json = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${jsonNumber(v)}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, "metrics": $json}""")
    if (failed == 0) 0 else 1
  }

  def jsonNumber(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def secsSince(t: Long): Double = (System.nanoTime - t) / 1e9

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  /** The median query time: of a one-shape workload, the median of its
    * samples; of a rotation, the geometric mean of each shape's median. A
    * pooled median of distinct shapes would sit at whichever shape holds the
    * middle rank and jump when two shapes trade places. */
  def typical(byShape: collection.Map[String, ArrayBuffer[Double]]): Double =
    if (byShape.isEmpty) Double.NaN
    else math.exp(byShape.values.map(xs => math.log(median(xs.toSeq))).sum / byShape.size)

  /** The highest percentile of `xs` that still has at least ten samples
    * above it; with ten or fewer samples, the smallest. */
  final case class Tail(value: Double, percentile: Double, beyond: Int)
  object Tail {
    def apply(xs: Seq[Double]): Tail =
      if (xs.isEmpty) Tail(Double.NaN, 0.0, 0)
      else {
        val s = xs.sorted
        val r = math.max(0, s.length - 11)
        Tail(s(r), 100.0 * (r + 1) / s.length, s.length - r - 1)
      }
  }

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** Epoch milliseconds with sub-millisecond resolution, from `nanoTime`. */
final class Clock {
  private val epochMs = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime
  def nowMs: Double = epochMs + (System.nanoTime - nano0) / 1e6
}

/** Highest old-generation heap use after a full collection, as the
  * collector reports it (`MemoryPoolMXBean.getCollectionUsage`), over the
  * points the run samples: after set-up and after the timed loop. Only full
  * collections count: what a young or mixed collection leaves behind
  * depends on when it ran. */
final class HeapPeak {
  private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(p =>
    p.getType == MemoryType.HEAP && p.isCollectionUsageThresholdSupported &&
      (p.getName.contains("Old") || p.getName.contains("Tenured"))).toSeq
  private var peak = 0L
  def sampleAfterGc(): Unit = {
    System.gc()
    pools.foreach(p => Option(p.getCollectionUsage).foreach(u => peak = math.max(peak, u.getUsed)))
  }
  def peakMb: Double = peak / (1024.0 * 1024.0)
}

/** Phase hooks of one traced query: each phase runs under its own job
  * group, so the listener can file its jobs, stages and tasks. */
final class TracedPhases(sc: org.apache.spark.SparkContext, clock: Clock, qid: Int)
    extends Phases {
  private val phases = mutable.LinkedHashMap.empty[String, (Double, Double)]
  private val streamGroups = ArrayBuffer.empty[String]
  private var qe: Option[QueryExecution] = None
  var path = "none"

  private def group(phase: String) = s"perfbench-q$qid-$phase"

  def apply[T](name: String)(body: => T): T = {
    sc.setJobGroup(group(name), s"perfbench query $qid $name")
    val t0 = clock.nowMs
    try body
    finally {
      phases(name) = (t0, clock.nowMs)
      sc.clearJobGroup()
    }
  }

  def planned(q: QueryExecution): Unit = { qe = Some(q); path = Layers.joinPath(q) }
  def stream(runId: java.util.UUID): Unit = streamGroups += runId.toString

  /** Waits for the query's events, records its spans and returns its
    * per-layer values. */
  def finish(listener: LayerListener, log: SpanLog, shape: Shape, startMs: Double,
      endMs: Double, rows: Long, codegen: CodegenSnapshot, ok: Boolean): Map[String, Double] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    val q = log.add(-1, qid, shape.name, startMs, endMs,
      Map("ok" -> ok.toString, "rows" -> rows.toString, "path" -> path))
    val ids = phases.map { case (n, (s, e)) => n -> log.add(q, qid, n, s, e) }
    def parentAt(ms: Double): Int = phases.collectFirst {
      case (n, (s, e)) if ms >= s && ms <= e => ids(n)
    }.getOrElse(ids.getOrElse("plan", q))
    qe.foreach(_.tracker.phases.foreach { case (n, p) =>
      log.add(parentAt(p.startTimeMs.toDouble), qid, s"catalyst.$n", p.startTimeMs, p.endTimeMs)
    })
    val jobSpan = mutable.Map.empty[String, Int]
    val events = Iterator.continually(listener.events.poll()).takeWhile(_ != null).toSeq
    val mine = (phases.keys.map(group) ++ streamGroups).toSet
    events.filter(e => mine(e._1)).sortBy(!_._2.startsWith("job")).foreach {
      case (g, name, s, e, attrs) =>
        val parent =
          if (name.startsWith("stage")) jobSpan.getOrElse(attrs("job"), ids.getOrElse("execute", q))
          else if (g == group("build")) ids("build")
          else ids.getOrElse("execute", q)
        val id = log.add(parent, qid, name, s.toDouble, e.toDouble, attrs)
        if (name.startsWith("job")) jobSpan(attrs("job")) = id
    }
    val build = listener.take(Seq(group("build")))
    val all = listener.take(mine)
    all += build
    def dur(n: String) = phases.get(n).map { case (s, e) => (e - s) / 1000.0 }.getOrElse(0.0)
    def self(n: String) = ids.get(n).map(i => log.selfS(log(i))).getOrElse(0.0)
    val tracker = qe.map(_.tracker.phases).getOrElse(Map.empty)
    def cat(n: String) = tracker.get(n).map(_.durationMs / 1000.0).getOrElse(0.0)
    Map(
      "query_s" -> (endMs - startMs) / 1000.0,
      "operators.build_s" -> dur("build"),
      "operators.build_jobs" -> build.jobs.toDouble,
      "catalyst.analysis_s" -> cat("analysis"),
      "catalyst.optimization_s" -> cat("optimization"),
      "catalyst.planning_s" -> cat("planning"),
      "codegen.compile_s" -> codegen.compileMs / 1000.0,
      "codegen.classes" -> codegen.classes.toDouble,
      "scheduler.jobs" -> all.jobs.toDouble,
      "scheduler.stages" -> all.stages.toDouble,
      "scheduler.tasks" -> all.tasks.toDouble,
      "scheduler.overhead_s" -> (all.taskWallMs - all.runMs) / 1000.0,
      "scan.read_rows" -> all.readRows.toDouble,
      "scan.read_bytes" -> all.readBytes.toDouble,
      "exec.run_s" -> all.runMs / 1000.0,
      "exec.cpu_s" -> all.cpuNs / 1e9,
      "exec.gc_s" -> all.gcMs / 1000.0,
      "exec.shuffle_write_bytes" -> all.shuffleWriteBytes.toDouble,
      "exec.shuffle_write_records" -> all.shuffleWriteRecords.toDouble,
      "exec.shuffle_read_bytes" -> all.shuffleReadBytes.toDouble,
      "exec.spill_bytes" -> all.spillBytes.toDouble,
      "exec.output_rows" -> rows.toDouble,
      "exec.input_rows" -> shape.inputRows.toDouble,
      "exec.replication" -> all.shuffleWriteRecords.toDouble / shape.inputRows,
      "streaming.batches" -> all.batches.toDouble,
      "streaming.batch_s" -> (if (all.batches == 0) 0.0 else all.batchMs / 1000.0 / all.batches),
      "streaming.wal_commit_s" -> all.walMs / 1000.0,
      "streaming.state_commit_s" -> all.stateCommitMs / 1000.0,
      "streaming.state_rows" -> all.stateRows.toDouble,
      "span.build_self_s" -> self("build"),
      "span.plan_self_s" -> self("plan"),
      "span.execute_self_s" -> self("execute"),
      "span.unaccounted_s" -> ((endMs - startMs) / 1000.0 - dur("build") - dur("plan") - dur("execute")),
      "codegen.exact" -> (if (codegen.exact) 1.0 else 0.0))
  }
}
