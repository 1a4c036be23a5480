package graft

import graft.queries.QueryDef

/** Driver-contract smoke: entry() yields rows; every registered query runs
  * at sf0.001; the registry declares each name once, with its oracle. */
class EntrySmokeSpec extends SparkSuite {

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("all queries execute at sf0.001") {
    val failures = SparkEntry.queries.flatMap { case (name, fn) =>
      try { fn(spark, "/root/testdata/sf0.001").count(); None }
      catch { case e: Throwable => Some(s"$name: ${e.getMessage.take(120)}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("registry: names are unique, every oracle SQL is non-blank") {
    val names = SparkEntry.registry.map(_.name)
    assert(names.distinct.size == names.size)
    assert(SparkEntry.queries.keySet == names.toSet && SparkEntry.oracleSql.keySet == names.toSet)
    val blank = SparkEntry.oracleSql.collect { case (n, sql) if sql.trim.isEmpty => n }
    assert(blank.isEmpty, s"blank oracle SQL: $blank")
    val d = QueryDef("q_dup", (sp, _) => sp.range(1).toDF(), "SELECT 1")
    val e = intercept[IllegalArgumentException](SparkEntry.byName(Seq(d, d))(_.oracleSql))
    assert(e.getMessage.contains("q_dup"))
  }
}
