package graft

import java.nio.file.Files
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

class ProbeSpec extends SparkSuite {

  private def queries(qs: (String, (SparkSession, String) => DataFrame)*): Probe.Queries =
    qs.toMap

  test("jobs reads its counts after the listener bus drains: a no-shuffle query is 1 job, 1 stage on every rep") {
    // a slow listener ahead in the same queue makes the bus lag behind the
    // query by longer than the query itself takes
    val lag = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = Thread.sleep(400)
    }
    spark.sparkContext.addSparkListener(lag)
    val counts =
      try Probe.jobs(spark,
        queries("narrow" -> ((s, _) => s.range(1000).selectExpr("id * 2 AS x"))),
        "unused", Seq("narrow"), reps = 20)
      finally spark.sparkContext.removeSparkListener(lag)
    assert(counts.size == 20)
    assert(counts.forall(c => c.jobs == 1 && c.stages == 1), counts)
  }

  test("plans lists a query that fails to plan and still writes the others") {
    withTempDir("graft_plans") { dir =>
      val out = java.nio.file.Paths.get(dir)
      val failed = Probe.plans(spark,
        queries(
          "ok" -> ((s, _) => s.range(3).toDF()),
          "throws" -> ((_, _) => throw new IllegalStateException("boom"))),
        "unused", out, Seq("ok", "throws"))
      assert(failed == Seq("throws"))
      assert(Files.exists(out.resolve("ok.txt")))
      assert(!Files.exists(out.resolve("throws.txt")))
    }
  }

  test("time, phases and conf-ab run a query map and leave the session conf as they found it") {
    val qs = queries("q" -> ((s, _) => s.range(100).groupBy(col("id") % 3).count()))
    val parts = spark.conf.get("spark.sql.shuffle.partitions")
    val unsetKey = "spark.sql.graft.probeSpecUnset"
    Probe.time(spark, qs, "unused", Seq("q"), reps = 1)
    Probe.phases(spark, qs, "unused", "q", reps = 1)
    Probe.confAb(spark, qs, "unused", "q", rounds = 2,
      Seq(Nil, Seq("spark.sql.shuffle.partitions" -> "3", unsetKey -> "x")))
    assert(spark.conf.get("spark.sql.shuffle.partitions") == parts)
    assert(spark.conf.getOption(unsetKey).isEmpty)
  }
}
