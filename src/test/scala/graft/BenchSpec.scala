package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{lit, raise_error}

class BenchSpec extends SparkSuite {

  test("a query that throws is reported as failed and gets no timing") {
    val queries = Map[String, (SparkSession, String) => DataFrame](
      "ok" -> ((s, _) => s.range(3).toDF()),
      "throws_at_build" -> ((_, _) => throw new IllegalStateException("boom")),
      "throws_at_run" -> ((s, _) => s.range(3).select(raise_error(lit("boom")))))
    val (timed, failed) = Bench.timeQueries(spark, queries, "unused", reps = 2)
    assert(failed.toSet == Set("throws_at_build", "throws_at_run"))
    assert(timed.keySet == Set("ok"))
  }
}
