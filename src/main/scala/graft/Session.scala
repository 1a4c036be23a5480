package graft
import org.apache.spark.sql.SparkSession

/** The one SparkSession configuration every main and the test suite share:
  * Bench, Verify, the probes and the specs run conf-for-conf alike, so the
  * oracle gate checks the configuration that is benchmarked. */
object Session {
  /** Local cores: `SPARK_GRAFT_CPUS`, else the host's available processors. */
  private def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors().toString)

  def build(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      // Shuffles START wide and AQE coalesces them down to the advisory
      // target: small inputs still end at a handful of partitions, while
      // a 64x input keeps enough width that hash aggregates stop
      // spilling — the q78/q84 probe at 64x measured 9.4x growth for 4x
      // data through a fixed 32-wide shuffle, ~4x with the wide start.
      // 128 (not 512): the wide start is not free locally — each map
      // task writes that many shuffle partitions, and at 512 the
      // many-small-query suite paid ~13 s total (~0.1 s/query); 128
      // keeps ~1.4 M rows/partition at the 64x probe (in-memory hash
      // agg) at a quarter of that overhead. The production posture: let
      // AQE pick the width at runtime instead of pinning it to cores.
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "128")
      // Codegen class cache (STATIC conf, default 100 entries): the suite
      // generates well over 100 distinct wholestage classes per pass, so
      // the LRU thrashed and passes 2..N re-compiled (janino) nearly every
      // stage they had already compiled. Scale-independent: any workload
      // with >100 distinct plan shapes wants this; memory cost is weak-ref
      // class metadata only.
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
