package graft.operators

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.types._
import graft.SparkSuite
import graft.operators.IntervalJoin.{Options, Strategy}

/** The plane sweep's result and its range count depend on the data and the
  * cores only: not on `spark.sql.shuffle.partitions`, and not on AQE. */
class SweepConfigInvarianceSpec extends SparkSuite with AdaptiveSparkPlanHelper {

  private def spans(seed: Long): IndexedSeq[(Long, Long)] = {
    val rng = new scala.util.Random(seed)
    IndexedSeq.fill(2000) {
      val s = (rng.nextDouble() * 1e6).toLong
      (s, s + 1 + rng.nextInt(2000))
    }
  }

  private def toDF(xs: IndexedSeq[(Long, Long)], tag: String) = {
    val schema = StructType(Seq(
      StructField(s"id_$tag", LongType, nullable = false),
      StructField("span", spanSchema, nullable = true)))
    val rows = xs.zipWithIndex.map { case ((s, e), i) => Row(i.toLong, Row(s, e)) }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
  }

  test("sweep pairs and range count are the same under shuffle.partitions 1, 4, 200 and AQE off") {
    val (ls, rs) = (spans(7L), spans(8L))
    val (l, r) = (toDF(ls, "l"), toDF(rs, "r"))
    val expected = (for {
      (a, i) <- ls.zipWithIndex; (b, j) <- rs.zipWithIndex
      if a._1 < b._2 && b._1 < a._2
    } yield (i.toLong, j.toLong)).toSet
    val arms = Seq(
      Seq("spark.sql.shuffle.partitions" -> "1"),
      Seq("spark.sql.shuffle.partitions" -> "4"),
      Seq("spark.sql.shuffle.partitions" -> "200"),
      Seq("spark.sql.adaptive.enabled" -> "false"))
    val keys = arms.flatten.map(_._1).distinct
    val before = keys.map(k => k -> spark.conf.getOption(k))
    val results = arms.map { arm =>
      arm.foreach { case (k, v) => spark.conf.set(k, v) }
      try {
        val df = IntervalJoin.intervalJoin(l, r, "span", Options(strategy = Strategy.Sweep))
          .select("id_l", "id_r")
        val pairs = df.collect().map(x => (x.getLong(0), x.getLong(1))).toSet
        // the range shuffle: hashpartitioning(pid, N)
        val ranges = collect(df.queryExecution.executedPlan) {
          case e: ShuffleExchangeExec => e.outputPartitioning
        }.collect {
          case HashPartitioning(Seq(a: AttributeReference), n) if a.name == "pid" => n
        }
        (arm, pairs, ranges)
      } finally before.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    assert(expected.nonEmpty)
    results.foreach { case (arm, pairs, ranges) =>
      assert(pairs == expected, s"pairs under $arm")
      assert(ranges == Seq(spark.sparkContext.defaultParallelism), s"range exchange under $arm")
    }
    before.foreach { case (k, v) => assert(spark.conf.getOption(k) == v, k) }
  }

  test("range count: never below the cores, grows once the sample passes cores x RowsPerRange rows") {
    val per = SweepJoin.RowsPerRange
    for (cores <- Seq(1, 4, 32); rows <- Seq(0L, 1L, per, cores * per))
      assert(SweepJoin.rangeCount(rows, cores) == cores, s"rows=$rows cores=$cores")
    assert(SweepJoin.rangeCount(4 * per + 1, 4) == 5)
    assert(SweepJoin.rangeCount(40 * per, 4) == 40)
    assert(SweepJoin.rangeCount(40 * per + 1, 4) == 41)
  }

  test("auto long threshold: 16 typical widths of the range count in use") {
    // 1000 short spans over [0, 1e5) plus one 60 k giant
    val sample = Array.tabulate(1000)(i => (i * 100L, i * 100L + 10)) :+ ((0L, 60000L))
    def threshold(ranges: Int) =
      SweepJoin.autoLongThreshold(sample, SweepJoin.partitionBounds(sample.map(_._1), ranges))
    // 4 ranges of ~25 k: the giant spans 3 of them, nothing is long
    assert(threshold(4) == Long.MaxValue)
    // 128 ranges of ~780: the giant would replicate ~77x, so it is long
    assert(threshold(128) == 16 * (99900L / 128))
  }
}
