package graft

import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
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

  test("the machine line keys by full name and survives the last 2000 chars of sbt stdout") {
    val results = (1 to 220).map(i => f"q$i%03d_synthetic_full_query_name_$i" -> (0.01 + i * 0.037)).toMap
    val line = Bench.machineLine(results, Seq("q999_failed_query"), reps = 3, sfDir = "/data/sf0.1")
    val detail = results.map { case (k, v) => s""""$k":$v""" }.mkString("{\"queries\":{", ",", "}}")
    val stdout = Seq(detail, line,
      "[success] Total time: 312 s (05:12), completed Oct 18, 2026, 7:10:00 AM").mkString("", "\n", "\n")
    val window = stdout.takeRight(2000)
    assert(window.split("\n").filter(_.startsWith("{\"metric\"")).toSeq == Seq(line))

    val json = new ObjectMapper().readTree(line)
    val shown = json.get("queries").fieldNames().asScala.toSeq
    assert(json.get("n_queries").asInt == 220)
    assert(json.get("queries_shown").asInt == shown.size)
    assert(shown.size >= 20, s"only ${shown.size} queries fit")
    assert(shown == results.toSeq.sortBy(-_._2).map(_._1).take(shown.size))
    assert(json.get("failed").elements().asScala.map(_.asText).toSeq == Seq("q999_failed_query"))
  }
}
