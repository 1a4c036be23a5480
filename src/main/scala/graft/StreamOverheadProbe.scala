package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev probe: decompose a streaming-replay query's wall time into fixture
  * collect, query start, per-batch processing, and stop — across shuffle
  * partition counts, no-data-micro-batch handling, and operator shapes
  * (q175 merge / q176 gaps). Measurement only; not a query path. */
object StreamOverheadProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val sp = Session.build()
    import sp.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = sp.sqlContext

    def t[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"STEP $label ${(System.nanoTime() - t0) / 1e9}%.3f s"); r
    }

    val verbose = sys.env.get("SPARK_GRAFT_PROBE_VERBOSE").contains("1")
    if (verbose)
      sp.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = {
          val p = e.progress
          println(s"PROGRESS batch=${p.batchId} rows=${p.numInputRows} " +
            s"durations=${p.durationMs}")
        }
      })

    // fixture (q175/q176's): order spans, 3 batches + flush
    val startNs = unix_micros(col("o_orderdate").cast("timestamp")) * 1000L
    val rows = t("fixture-collect") {
      sp.read.parquet(s"$sfDir/orders.parquet").select(
          col("o_custkey").cast("long").as("k"), startNs.as("s"),
          (startNs + (pmod(col("o_orderkey"), lit(30L)) + 1L)
            * lit(86400000000000L)).as("e"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    }
    val cut1 = 757382400L * 1000000000L
    val cut2 = 820454400L * 1000000000L
    val far = rows.map(_._3).max + 86400000000000L
    val batches = Seq(
      rows.filter(_._2 < cut1),
      rows.filter(r => r._2 >= cut1 && r._2 < cut2),
      rows.filter(_._2 >= cut2),
      Seq((-1L, far, far)))

    def streamSpans(df: DataFrame): DataFrame =
      df.select(col("_1").as("k"),
        struct(col("_2").as("start"), col("_3").as("stop")).as("span"),
        timestamp_micros(expr("_2 div 1000")).as("ts"))

    /** One replay arm. shape: "merge" (q175) or "gaps" (q176).
      * noData=false disables no-data micro-batches and appends one explicit
      * EMPTY batch so the final watermark pass still emits (the candidate
      * optimization: intermediate no-data batches are pure per-batch
      * state-store commits; final output set is watermark-determined and
      * identical). Returns the sink row count for cross-arm equality. */
    def replay(parts: String, noData: Boolean, shape: String,
        bs: Seq[Seq[(Long, Long, Long)]], tag: String): Long = {
      val prevParts = sp.conf.get("spark.sql.shuffle.partitions")
      val prevNd = sp.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
      sp.conf.set("spark.sql.shuffle.partitions", parts)
      sp.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", noData.toString)
      try {
        val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, Long, Long)]
        val name = s"probe_${tag.replace("-", "_")}"
        val built = shape match {
          case "merge" => graft.streaming.StreamingIntervalOps.mergeIntervalsStream(
            streamSpans(in.toDF()), Seq("k"), "span", "ts", "1 second")
          case "gaps" => graft.streaming.StreamingIntervalOps.gapsStream(
            streamSpans(in.toDF()), Seq("k"), "span", "ts", "1 second")
        }
        val q = t(s"$tag-start") {
          built.writeStream.format("memory").queryName(name)
            .outputMode("append").start()
        }
        try {
          bs.zipWithIndex.foreach { case (b, i) =>
            t(s"$tag-batch$i(n=${b.size})") { in.addData(b); q.processAllAvailable() }
          }
          if (!noData)
            t(s"$tag-flushbatch") {
              in.addData(Seq.empty[(Long, Long, Long)]); q.processAllAvailable()
            }
        } finally t(s"$tag-stop") { q.stop() }
        val n = sp.table(name).count()
        sp.sql(s"DROP TABLE IF EXISTS $name")
        n
      } finally {
        sp.conf.set("spark.sql.shuffle.partitions", prevParts)
        sp.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", prevNd)
      }
    }

    // round-robin arms x2 (first rep pays codegen; second is steady state)
    val arms = Seq(
      ("merge", "8", true), ("merge", "2", true), ("merge", "2", false),
      ("merge", "1", false),
      ("gaps", "8", true), ("gaps", "2", true), ("gaps", "2", false),
      ("gaps", "1", false))
    for (rep <- 1 to 2; (shape, parts, nd) <- arms) {
      val t0 = System.nanoTime()
      val n = replay(parts, nd, shape, batches, s"$shape-p$parts-nd$nd-rep$rep")
      println(f"TOTAL shape=$shape parts=$parts noData=$nd rep=$rep " +
        f"${(System.nanoTime() - t0) / 1e9}%.3f s rows=$n")
    }
    sp.stop()
  }
}
