package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The shared [[Session.build]] session + the reference-shaped fixture
  * (FIXTURES.md F1):
  * 100 contiguous spans with Gamma(3,2)-second durations, label ∈ a..d,
  * x ~ U(0,1). Deterministic; exact values need not match Julia's RNG —
  * every reference assertion is an invariant or self-equivalence
  * (SURVEY §5), not a golden value.
  */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = Session.build()

  /** A fresh temp directory for `body`, removed with its contents after. */
  def withTempDir[A](prefix: String)(body: String => A): A = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    try body(dir.toString)
    finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  def spanSchema: StructType = StructType(Seq(
    StructField("start", LongType, nullable = false),
    StructField("stop", LongType, nullable = false)))

  /** 100 contiguous [start, stop) spans in ns; stop(i) == start(i+1). */
  def fixture(seed: Long = 20220601L, n: Int = 100): DataFrame = {
    val rng = new scala.util.Random(seed)
    def gamma32(): Double = // Gamma(shape=3, scale=2) = sum of 3 Exp(2)
      -2.0 * math.log(rng.nextDouble() * rng.nextDouble() * rng.nextDouble())
    val durs = Array.fill(n + 1)(gamma32())
    val times = durs.scanLeft(0.0)(_ + _).map(s => (s * 1e9).toLong)
    val labels = "abcd"
    val rows = (0 until n).map { i =>
      Row(labels(rng.nextInt(4)).toString, rng.nextDouble(), Row(times(i), times(i + 1)))
    }
    val schema = StructType(Seq(
      StructField("label", StringType, nullable = false),
      StructField("x", DoubleType, nullable = false),
      StructField("span", spanSchema, nullable = true)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
  }

  def collectSorted(df: DataFrame): Seq[Seq[Any]] = {
    val cols = df.columns.sorted
    df.selectExpr(cols.map(c => s"`$c`"): _*).collect()
      .map(_.toSeq.map {
        case r: Row => r.toSeq.toString
        case x => x
      }.toSeq)
      .toSeq.sortBy(_.mkString("|"))
  }

  def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    assert(a.columns.sorted.toSeq == b.columns.sorted.toSeq,
      s"column sets differ: ${a.columns.toSeq} vs ${b.columns.toSeq}")
    assert(collectSorted(a) == collectSorted(b))
  }
}
