package graft
import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, SparkSession}
object Bench {
  /** Materializes every output row in full — a plain df.count() lets
    * Catalyst prune the projection, hiding the cost of queries whose work
    * IS the projected expressions. */
  private[graft] def materialize(df: DataFrame): Long = df.queryExecution.toRdd.count()

  /** `body`'s value and its wall seconds. */
  private[graft] def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Runs every query `reps` times at `dir` and returns the per-query MIN
    * seconds of the queries that never threw, plus the names of those that
    * did: a failed query gets no timing at all. */
  private[graft] def timeQueries(spark: SparkSession,
      queries: Map[String, (SparkSession, String) => DataFrame], dir: String,
      reps: Int): (Map[String, Double], Seq[String]) = {
    val best = mutable.HashMap.empty[String, Double]
    val failed = mutable.LinkedHashSet.empty[String]
    for (_ <- 1 to reps; (name, fn) <- queries if !failed(name)) {
      try {
        val (_, sec) = timed(materialize(fn(spark, dir)))
        best(name) = best.get(name).fold(sec)(math.min(_, sec))
      } catch {
        case NonFatal(e) =>
          System.err.println(s"[bench] $name failed: $e")
          failed += name
          best -= name
      }
    }
    (best.toMap, failed.toSeq)
  }

  private def f3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)
  private def f2(v: Double): String = "%.2f".formatLocal(java.util.Locale.ROOT, v)

  /** The machine line, the last line of Bench's stdout. The harness that
    * records a run keeps only the LAST 2000 characters of stdout and parses
    * this line out of that window, and sbt appends its own `[success] Total
    * time` line after it, so the full 220-entry map can never fit (rounds
    * 1-11 all recorded parsed=null). It carries the total plus the SLOWEST
    * queries — the ones any regression check cares about — by full name
    * at 2 dp, growing the list only while the line stays under 1500
    * chars. n_queries/queries_shown make the truncation explicit;
    * BENCH_DETAIL.json holds the full split. Failed queries are listed by
    * full name. */
  private[graft] def machineLine(results: Map[String, Double], failed: Seq[String],
      reps: Int, sfDir: String): String = {
    val slowest = results.toSeq.sortBy { case (n, v) => (-v, n) }
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    def mkLine(k: Int): String = {
      val qs = slowest.take(k).map { case (n, v) => "\"" + n + "\":" + f2(v) }
        .mkString("{", ",", "}")
      s"""{"metric":"total","value":${f3(results.values.sum)},"unit":"sec","agg":"min-of-$reps-passes","n_queries":${results.size},"failed":$failedJson,"queries_shown":$k,"queries":$qs,"sf":"$sfDir"}"""
    }
    var k = math.min(40, slowest.size)
    while (k > 0 && mkLine(k).length > 1500) k -= 1
    mkLine(k)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.build()
    // Steady-state measurement: run the FULL query set once at the smallest
    // SF first. The plan shapes are identical across SFs, so this warms every
    // cold path the measured run would otherwise absorb into whichever query
    // happens to go first — janino codegen, the parquet reader, shuffle
    // machinery, and the sweep join's object serializer (r3 recorded the
    // map-order-first query at 3.5x its steady-state cost purely from this).
    // The DuckDB baseline numbers are likewise warm-engine measurements.
    // sf0.01 over sf0.001 when available: the sweep join's hot loops need
    // enough rows for JIT tiering to reach steady state (measured at sf0.1:
    // 21 s cold, 4.9 s after one at-scale run, 1.1 s from the third on —
    // a sf0.001 warm-up alone leaves the first measured pass 4x inflated).
    val warmDir = {
      val parent = new java.io.File(sfDir).getParentFile
      Seq("sf0.01", "sf0.001")
        .map(new java.io.File(parent, _))
        .find(d => d.isDirectory && d.getPath != new java.io.File(sfDir).getPath)
        .map(_.getPath).getOrElse(sfDir)
    }
    val (_, warmFailed) = timeQueries(spark, SparkEntry.queries, warmDir, 1)
    // Per-query MIN over full suite passes: the recording VM shows roving
    // multi-second slowdown bands (hypervisor noise NOT visible as steal —
    // r4's artifact recorded 2-10x inflation on whichever queries a band
    // happened to cover). Passes decorrelate: a band minutes long hits
    // DIFFERENT queries in each pass, so the per-query min is the
    // steady-state cost — the same warm-engine regime the DuckDB baseline
    // numbers were recorded in.
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val (timed, passFailed) = timeQueries(spark, SparkEntry.queries, sfDir, reps)
    // a query that failed in any pass, warm-up included, is reported under
    // "failed" and left out of the timings and the total
    val failed = (warmFailed ++ passFailed).distinct.sorted
    val results = timed -- failed
    val longLine = results.map { case (k, v) => "\"" + k + "\":" + f3(v) }
      .mkString("{", ",", "}")
    println(s"""{"detail":"full-name per-query seconds","queries":$longLine}""")
    // The suite outgrew the 2000-char stdout window (the per-query
    // map alone passed 1800 chars at 140+ queries, so the machine line
    // shows only the slowest) — persist the full per-query split where
    // truncation can't reach it. BASELINE.md cites this file.
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("BENCH_DETAIL.json"),
      s"""{"sf":"$sfDir","agg":"min-of-$reps-passes","total_sec":${f3(results.values.sum)},"queries":$longLine}""" + "\n")
    catch { case NonFatal(e) =>
      System.err.println(s"[bench] BENCH_DETAIL.json not written: $e") }
    println(machineLine(results, failed, reps, sfDir))
    spark.stop()
    if (failed.nonEmpty) sys.exit(1)
  }
}
