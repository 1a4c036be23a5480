package perfbench

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.metrics.source.CodegenMetrics

/** One traced interval. `parent` is -1 for a query span. Times are epoch
  * milliseconds (fractional for spans the benchmark times itself). */
final case class Span(id: Int, parent: Int, query: Int, name: String,
    startMs: Double, endMs: Double, attrs: Map[String, String] = Map.empty) {
  def durS: Double = (endMs - startMs) / 1000.0
}

/** Counts Spark reports for the jobs of one job group. A query's jobs carry
  * the group its phase set; a streaming query's micro-batch jobs carry its
  * run id, which the engine sets as their group. */
final class GroupCounts {
  var jobs, stages, tasks = 0L
  var taskWallMs, runMs, cpuNs, gcMs = 0L
  var shuffleWriteBytes, shuffleWriteRecords, shuffleReadBytes, spillBytes = 0L
  var readRows, readBytes = 0L
  var batches = 0L
  var batchMs, walMs, stateCommitMs, stateRows = 0L

  def +=(o: GroupCounts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskWallMs += o.taskWallMs; runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleWriteBytes += o.shuffleWriteBytes; shuffleWriteRecords += o.shuffleWriteRecords
    shuffleReadBytes += o.shuffleReadBytes; spillBytes += o.spillBytes
    readRows += o.readRows; readBytes += o.readBytes
    batches += o.batches; batchMs += o.batchMs; walMs += o.walMs
    stateCommitMs += o.stateCommitMs; stateRows += o.stateRows
  }
}

/** Spark and streaming listener that files jobs, stages, tasks and
  * micro-batch progress under their job group, and records a span for
  * every job and stage. Registered only in the traced part of a run. */
final class LayerListener extends SparkListener {
  private val groups = new ConcurrentHashMap[String, GroupCounts]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, Long]()
  /** (group, name, start ms, end ms, attrs) of finished jobs and stages. */
  val events = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, Long, Long, Map[String, String])]()
  /** Jobs whose group the benchmark did not set. */
  @volatile var unassignedJobs = 0L

  private def counts(g: String): GroupCounts = groups.computeIfAbsent(g, _ => new GroupCounts)

  /** Removes and returns the summed counts of `gs`. */
  def take(gs: Iterable[String]): GroupCounts = {
    val sum = new GroupCounts
    gs.foreach(g => Option(groups.remove(g)).foreach(sum += _))
    sum
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g match {
      case Some(group) =>
        jobGroup.put(e.jobId, group)
        jobStart.put(e.jobId, e.time)
        e.stageIds.foreach { s => stageGroup.put(s, group); stageJob.put(s, e.jobId) }
        counts(group).synchronized { counts(group).jobs += 1 }
      case None => unassignedJobs += 1
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobGroup.remove(e.jobId)).foreach { g =>
      events.add((g, s"job ${e.jobId}", jobStart.remove(e.jobId), e.time,
        Map("job" -> e.jobId.toString)))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    Option(stageGroup.get(info.stageId)).foreach { g =>
      val c = counts(g)
      c.synchronized { c.stages += 1 }
      for (s <- info.submissionTime; f <- info.completionTime)
        events.add((g, s"stage ${info.stageId}", s, f, Map(
          "stage" -> info.stageId.toString, "job" -> stageJob.get(info.stageId).toString,
          "tasks" -> info.numTasks.toString)))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(e.stageId)).foreach { g =>
      val c = counts(g)
      val m = e.taskMetrics
      c.synchronized {
        c.tasks += 1
        c.taskWallMs += e.taskInfo.duration
        if (m != null) {
          c.runMs += m.executorRunTime
          c.cpuNs += m.executorCpuTime
          c.gcMs += m.jvmGCTime
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
          c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.readRows += m.inputMetrics.recordsRead
          c.readBytes += m.inputMetrics.bytesRead
        }
      }
    }

  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val c = counts(p.runId.toString)
      def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      c.synchronized {
        c.batches += 1
        c.batchMs += ms("triggerExecution")
        c.walMs += ms("walCommit") + ms("commitOffsets")
        c.stateCommitMs += p.stateOperators.map(_.commitTimeMs).sum
        // rows held in state after the batch; the last batch's value stays
        c.stateRows = p.stateOperators.map(_.numRowsTotal).sum
      }
    }
  }
}

/** Cumulative codegen counters of this JVM: compilations, and their summed
  * time while the compile-time histogram still holds every sample. */
final case class CodegenSnapshot(classes: Long, compileMs: Double, exact: Boolean) {
  def -(o: CodegenSnapshot): CodegenSnapshot =
    CodegenSnapshot(classes - o.classes, compileMs - o.compileMs, exact && o.exact)
}

object CodegenSnapshot {
  /** Samples a codahale histogram keeps before it starts to drop some. */
  private val ReservoirSize = 1028

  def now(): CodegenSnapshot = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val n = h.getCount
    val snap = h.getSnapshot
    if (n <= ReservoirSize) CodegenSnapshot(n, snap.getValues.map(_.toDouble).sum, exact = true)
    else CodegenSnapshot(n, snap.getMean * n, exact = false)
  }
}

/** Spans of a run, kept in memory and written out as JSON at the end. */
final class SpanLog {
  private val spans = ArrayBuffer.empty[Span]
  def add(parent: Int, query: Int, name: String, startMs: Double, endMs: Double,
      attrs: Map[String, String] = Map.empty): Int = {
    val id = spans.length
    spans += Span(id, parent, query, name, startMs, endMs, attrs)
    id
  }
  def apply(id: Int): Span = spans(id)

  /** Duration of `s` not covered by any of its children. */
  def selfS(s: Span): Double = {
    val kids = spans.iterator.filter(_.parent == s.id)
      .map(k => (math.max(k.startMs, s.startMs), math.min(k.endMs, s.endMs)))
      .filter { case (a, b) => b > a }.toSeq.sortBy(_._1)
    var covered = 0.0
    var end = Double.NegativeInfinity
    kids.foreach { case (a, b) =>
      if (a >= end) { covered += b - a; end = b }
      else if (b > end) { covered += b - end; end = b }
    }
    s.durS - covered / 1000.0
  }

  def writeJson(path: java.nio.file.Path): Unit = {
    def q(s: String) = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
    val body = spans.iterator.map { s =>
      val attrs = s.attrs.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString(", ")
      f"""  {"id": ${s.id}, "parent": ${s.parent}, "query": ${s.query}, "name": ${q(s.name)}, """ +
        f""""start_ms": ${s.startMs}%.3f, "end_ms": ${s.endMs}%.3f, "self_s": ${selfS(s)}%.6f, "attrs": {$attrs}}"""
    }.mkString("[\n", ",\n", "\n]\n")
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, body.getBytes("UTF-8"))
  }
}
