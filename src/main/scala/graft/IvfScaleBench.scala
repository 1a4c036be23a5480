package graft

import org.apache.spark.sql.functions._

import graft.functions.Similarity

/** The corpus-scaled IVF evidence (VERDICT-r9 #4): q181's oracle row fixes
  * nLists = 16 (the SQL-replayable anchored quantizer), so its 16× curve is
  * 16× by construction — each list grows with the corpus. The PRODUCTION
  * posture scales nLists with the corpus (`ivfTrain` k-means centroids,
  * corpus/nLists ≈ constant), keeping per-query candidate work flat. This
  * main measures both regimes on the same scaled dirs and prints one JSON
  * line per (dir, regime): query latency (min over reps, warm-first) and
  * the EXACT candidate-pair count of the probe join — the quantity the
  * regimes differ in.
  *
  * The query set is FIXED across scales (original-copy ids only), so
  * per-query work is directly comparable; the scaled corpus is
  * ScaleUpBench's id-offset copies (identical vectors, 16× multiplicity —
  * k-means with 16× centroids subdivides the same vector space 16× finer,
  * the realistic "corpus grew, retrain the coarse quantizer" shape).
  */
object IvfScaleBench {
  def main(args: Array[String]): Unit = {
    val srcDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "16").toInt
    val outDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR",
      s"/tmp/graft_scale$factor")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val baseLists = 16
    val nProbe = 4
    val spark = Session.build()
    ScaleUpBench.buildScaled(spark, srcDir, outDir, factor)

    def run(dir: String, fac: Int, regime: String): Unit = {
      // three sizings: fixed (q181's SQL-replayable config — candidate work
      // grows with the corpus), sqrt (the classic production rule,
      // nLists ∝ √N — assignment and candidate work grow together as √f),
      // linear (nLists ∝ N — candidates flat, but the per-row assignment
      // is O(nLists·dim) and becomes the bottleneck)
      val nLists = regime match {
        case "scaled_linear" => baseLists * fac
        case "scaled_sqrt"   => baseLists * math.round(math.sqrt(fac)).toInt
        case _               => baseLists
      }
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
      // fixed query set: original-copy ids only (copy 0 is the identity
      // remap), every 50th — identical queries at every scale
      val q = e.where(pmod(col("vec_id"), lit(50L)) === 0L &&
        col("vec_id") < 100000000L)
      val index = Similarity.ivfTrain(e, nLists = nLists)
      // candidate work: exact row count of the probe join (the pre-rank
      // candidate set) — the quantity nLists scaling is supposed to hold flat
      val cand = e.withColumn("list_id", Similarity.ivfListId(col("embedding"), index))
        .join(broadcast(q.select(col("vec_id").as("q_id"),
          explode(Similarity.ivfProbeLists(col("embedding"), index, nProbe))
            .as("list_id"))), Seq("list_id"))
        .count()
      val nq = q.count()
      val times = (1 to reps + 1).map { _ =>
        val t0 = System.nanoTime()
        Similarity.ivfTopK(e, q, 10, index, nProbe = nProbe)
          .queryExecution.toRdd.count()
        (System.nanoTime() - t0) / 1e9
      }.drop(1) // first pass is the warm-up
      def f(v: Double) = "%.2f".formatLocal(java.util.Locale.ROOT, v)
      println(s"""{"bench":"ivf_scale","dir":"$dir","factor":$fac,""" +
        s""""regime":"$regime","n_lists":$nLists,"n_probe":$nProbe,""" +
        s""""n_queries":$nq,"candidates":$cand,""" +
        s""""cand_per_query":${f(cand.toDouble / nq)},""" +
        s""""sec":${f(times.min)}}""")
    }

    run(srcDir, 1, "fixed")
    run(outDir, factor, "fixed")
    run(outDir, factor, "scaled_sqrt")
    run(outDir, factor, "scaled_linear")
    spark.stop()
  }
}
