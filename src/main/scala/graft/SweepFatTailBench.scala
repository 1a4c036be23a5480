package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev probe: the SweepJoin long/short split on an ADVERSARIAL fat-tail
  * fixture — mostly short spans plus a 0.5% sprinkle of half-domain
  * giants, joined against a small tiling window set (the biosignal/session
  * shape the reference's home domain produces, which the suite's
  * short-span fixtures never exercise).
  *
  * Runs at 512 range partitions (cluster-emulating: a giant here
  * replicates ~256-512x in the unsplit sweep — at local[32]'s default 32
  * partitions the degradation is capped at 32x and barely measurable,
  * which is exactly why the suite never caught it) and prints one JSON
  * line per (factor, mode): split (auto threshold) vs unsplit (threshold
  * = Long.MaxValue, the pre-round-13 behavior).
  *
  * `runMain graft.SweepFatTailBench [factors]`, factors default "1,4,16".
  */
object SweepFatTailBench {
  def main(args: Array[String]): Unit = {
    val factors = args.headOption.getOrElse("1,4,16")
      .split(",").toSeq.map(_.trim.toInt)
    val spark = Session.build()
    spark.conf.set("spark.sql.shuffle.partitions", 512) // cluster-like range count
    spark.sparkContext.setLogLevel("ERROR")
    import graft.operators.IntervalJoin
    import graft.operators.IntervalJoin.{Options, Strategy}

    val D = 1000000000L // span domain [0, D)

    // deterministic fat-tail fixture: hash-derived, no RNG state. Giants
    // start inside the window slab, so each one MATCHES (a handful of
    // windows) — yet spans ~half the domain, so the unsplit sweep
    // replicates it across ~half the range partitions where nothing joins
    // it: pure wasted shuffle+sort, the degradation mode the split bounds.
    def fatTail(nShort: Long, nGiant: Long): DataFrame = {
      val shorts = spark.range(nShort).select(col("id"),
        pmod(xxhash64(col("id"), lit("s")), lit(D - 200L)).as("s"),
        (pmod(xxhash64(col("id"), lit("l")), lit(100L)) + 1L).as("len"))
      val giants = spark.range(nGiant).select((col("id") + nShort).as("id"),
        pmod(xxhash64(col("id"), lit("gs")), lit(D / 50L)).as("s"),
        (lit(D / 2L) + pmod(xxhash64(col("id"), lit("gl")), lit(D / 4L))).as("len"))
      shorts.unionAll(giants).select(col("id"),
        struct(col("s").as("start"),
          least(col("s") + col("len"), lit(D)).as("stop")).as("span"))
    }
    // 200 windows tiling only the first 2% of the domain — the join
    // partners are sparse, so giant replication outside the slab buys
    // nothing (sessions-vs-one-audit-window, the production shape)
    val windows = graft.operators.QuantileWindows
      .quantileWindows(spark, 200, 0L, D / 50L, "span", "idx")

    def run(left: DataFrame, opts: Options): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = IntervalJoin.intervalJoin(left, windows, "span", opts)
        .queryExecution.toRdd.count()
      ((System.nanoTime() - t0) / 1e9, n)
    }

    for (f <- factors) {
      // 5% domain-length giants: at 512 ranges each replicates ~256-384x,
      // so the unsplit sweep shuffles ~16x its input — the catastrophic
      // regime the guard exists for
      val left = fatTail(1000000L * f, 50000L * f)
      val modes = Seq(
        "split_auto" -> Options(strategy = Strategy.Sweep),
        "unsplit" -> Options(strategy = Strategy.Sweep,
          sweepLongThreshold = Some(Long.MaxValue)))
      for ((name, opts) <- modes) {
        run(left, opts) // warm (codegen, scan)
        val (t1, n1) = run(left, opts)
        val (t2, n2) = run(left, opts)
        require(n1 == n2)
        val best = math.min(t1, t2)
        println(f"""{"fixture":"sweep_fat_tail","factor":$f,"mode":"$name","sec":$best%.2f,"pairs":$n1}""")
      }
    }
    spark.stop()
  }
}
