package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Scale guards over every SparkEntry query plan: the properties that keep
  * a plan viable at 100 TB — no cartesian product ever, nested-loop joins
  * only where a broadcast-small side makes them the intended strategy,
  * column pruning reaching the parquet scan, filters pushed down. These are
  * assertions on the PLAN, not the result, so a future "simplification"
  * that silently degrades the strategy fails CI rather than the cluster. */
class PlanShapeSpec extends SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  /** queries whose plan legitimately contains a BroadcastNestedLoopJoin at
    * this SF: outer interval joins against a tiny window frame, and joins
    * against a tiny frame without a grid hint (Auto strategy broadcasts;
    * flips to the binned equi-join when both sides are big — pinned by
    * IntervalJoinSpec's Auto test), and the two deliberate all-pairs
    * brute-force baselines. Inner joins against `quantileWindows` frames bin
    * on the windows' grid and must not appear here. */
  private val bnljOk = Set(
    "q03_interval_join_left", "q04_interval_join_right", "q05_interval_join_full",
    // windows expanded by d: a recomputed span column carries no grid hint
    "q101_near_join",
    // the same tiny sparse-window broadcast, anti (keepleft) variant
    "q118_interval_anti",
    "q15_ann_brute", "q30_embed_neardup_baseline",
    // single-row corpus-count broadcast (tf-idf idf factor / surprisal N /
    // the HLL estimate row x exact-distinct row / BM25's (N, avgdl) row)
    "q42_tfidf_top", "q59_unigram_surprisal", "q72_hll_distinct", "q74_bm25",
    // q72's estimate-row x exact-distinct-row cross on the streamed
    // register snapshot
    "q196_stream_hll",
    // single-row threshold broadcast into the sketch gate + exact cut
    "q77_heavy_hitters",
    // single-row ring-size (max idx + 1) broadcast cross into the
    // modular-offset pairing
    "q90_negative_pairs",
    // single-row basket-count broadcast cross into the support/lift math
    // (q42's idiom); the pair join itself is the basket equi-join
    "q131_assoc_rules",
    // single-row broadcast crosses of the same idiom: node-count N
    // (pagerank), corpus token total (source mix), group sizes (n_a, n_b)
    // (KS test), corpus unigram total (KL), censoring horizon max(t)
    // (survival)
    "q124_pagerank_step", "q129_source_mix", "q130_ks_test",
    "q132_kl_divergence", "q134_survival",
    // q126's edge list comes from the activity band join, whose single-row
    // fixed-point total broadcast is the q95 idiom; the wedge/closing joins
    // themselves are equi-joins
    "q126_triangles",
    // DOULION sample over the same band graph: identical single-row
    // (n_nodes, n_edges, n_triangles) broadcast crosses; the coin filter
    // and the wedge/closing joins are equi-joins
    "q180_triangles_approx",
    // PageRank loop: per-iteration single-row N broadcast cross (the q124
    // idiom, once per layer); contributions/sinks are equi-joins
    "q178_pagerank",
    // inherits q78's single-row (N, avgdl) broadcast cross; both ranker
    // halves (index probe, IVF cell probe) are equi-joins
    "q181_hybrid_rrf_ivf",
    // single-row (n_pos, n_neg) / basket-count broadcast crosses; the
    // data-sized sides are aggregates and equi-joins
    "q142_roc_auc", "q145_copurchase",
    // the 2|qs|-row rank-probe frame broadcast range-joined into the
    // running-count frame — bounded by the quantile list, never data-sized
    "q147_exact_quantiles",
    // (q137_label_agreement left this list in round 8: its neighbor pass is
    // now ivfTopK over a hash-sampled query side — list-id equi-join, no NLJ)
    // generalized joins (bounded day ticks, float spans) against the tiny
    // nation/region window frames: Auto broadcasts the small side
    "q52_interval_join_bounded", "q53_interval_join_float",
    // coverage join against the 500-row generated window frame (same Auto
    // broadcast as q02; flips to binned when both sides are big)
    "q83_window_coverage",
    // inherits q74's single-row (N, avgdl) broadcast cross and q15's
    // declared brute-force baseline — the fuse itself is an equi-join
    "q84_hybrid_rrf",
    // single-row (lo[], hi[]) per-dim stats broadcast cross into the
    // codegen'd quantization transform — the corpus itself never shuffles
    "q95_sq8",
    // label-prototype all-pairs theta join: one row per label survives the
    // centroid aggregate, so the side is broadcast-sized BY CONSTRUCTION
    "q115_label_centroids",
    // the 2^p-row register range broadcast-crossed with the distinct-key
    // frame to materialize absent registers (q72's single-row idiom, per
    // group) — 64 rows here, bounded by the sketch width at any scale
    "q136_hll_grouped",
    // inherits q15's declared brute-force baseline (the recall audit's
    // ground truth) — the LSH side and the hit-intersection are equi-joins
    "q152_ann_recall",
    // single-row (n, r, c) grand-total broadcast cross into the
    // expected-count math (q42's idiom); margins join the vocab-bounded
    // cell frame
    "q153_chi2",
    // same contingency plan with three single-row broadcast crosses
    // (total, H(a), H(b))
    "q158_mutual_info",
    // single-row pooled (theta, xbar) broadcast cross into the arm frame
    "q161_cuped",
    // single-row n_ref x n_cur broadcast cross anchoring the bin frame
    "q164_psi",
    // single-row reference-LM (N, V) broadcast cross into the per-term
    // smoothing math (q59's idiom with the reference/target split)
    "q185_cross_surprisal")

  test("no query plans a CartesianProduct; BNLJ only where broadcast-small is intended") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val plan = fn(spark, dir).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$name plans a cartesian product")
      if (!bnljOk(name))
        assert(!plan.contains("NestedLoop"), s"$name unexpectedly plans a nested-loop join")
    }
  }

  private def scanSchemas(df: org.apache.spark.sql.DataFrame): Seq[Seq[String]] = {
    val plan = df.queryExecution.executedPlan
    val inner = plan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p                        => p
    }
    inner.collect { case f: FileSourceScanExec => f.requiredSchema.fieldNames.toSeq }
  }

  test("column pruning reaches the parquet scan (narrow ReadSchema)") {
    // q10 computes five text features: the documents scan must read ONLY
    // (doc_id, text), however many columns the table carries
    val q10 = SparkEntry.queries("q10_text_stats")(spark, dir)
    val s10 = scanSchemas(q10)
    assert(s10.nonEmpty && s10.forall(_.toSet.subsetOf(Set("doc_id", "text"))), s10.toString)
    // q21 (top order per customer): three columns of orders, nothing else
    val q21 = SparkEntry.queries("q21_delegated_window")(spark, dir)
    val s21 = scanSchemas(q21)
    assert(s21.nonEmpty &&
      s21.forall(_.toSet.subsetOf(Set("o_custkey", "o_orderkey", "o_totalprice"))), s21.toString)
  }

  test("packing/chunking/corpus-stats plans keep their scale shape") {
    // q57 chunking is embarrassingly parallel: the explode must fuse into
    // the scan stage with NO shuffle at all
    val q57 = SparkEntry.queries("q57_chunk_overlap")(spark, dir)
    assert(!q57.queryExecution.executedPlan.toString.contains("Exchange"),
      "chunkByTokens must not shuffle")
    // q56 packing pays exactly ONE shuffle (the per-bucket window partition)
    val q56 = SparkEntry.queries("q56_pack_stream")(spark, dir)
    val ex56 = "Exchange".r.findAllIn(
      q56.queryExecution.executedPlan.toString).size
    assert(ex56 == 1, s"packStream should shuffle exactly once, saw $ex56")
    // q58 top-k must partial-aggregate map-side (shuffles (ngram, count)
    // pairs, not exploded rows) and take the top k via per-partition heaps,
    // never a global sort
    val p58 = SparkEntry.queries("q58_top_ngrams")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(p58.contains("partial_count"), "topNgrams lost its map-side combine")
    assert(p58.contains("TakeOrderedAndProject"), s"topNgrams should plan top-k, got:\n$p58")
  }

  test("global shuffle / budget cap never plan a single-partition window") {
    // the bucket-offset prefix sum exists precisely to avoid the one-task
    // global sort a bare sum(...) OVER (ORDER BY ...) would plan: the
    // window must stay partitioned (hash exchange), never SinglePartition
    for (q <- Seq("q66_global_shuffle", "q67_budget_cap")) {
      val plan = SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString
      assert(plan.contains("Window"), s"$q lost its window")
      assert(!plan.contains("SinglePartition"),
        s"$q serializes through one task:\n$plan")
    }
  }

  test("round-7 queries keep their scale shape") {
    // q79/q76 fixed-N takes: WindowGroupLimit bounds the per-stratum
    // shuffle to n rows per map partition — losing it means shuffling the
    // corpus
    for (q <- Seq("q76_stratified_take", "q79_weighted_take")) {
      val plan = SparkEntry.queries(q)(spark, dir).queryExecution.executedPlan.toString
      assert(plan.contains("WindowGroupLimit"), s"$q lost its partial top-n:\n$plan")
    }
    // q80 classifier scoring is a pure per-row fold: no shuffle at all
    val p80 = SparkEntry.queries("q80_quality_classifier")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!p80.contains("Exchange"), s"hashedLinearScore must not shuffle:\n$p80")
    // q81 gram counting must partial-aggregate map-side (boilerplate grams
    // collapse before the shuffle)
    val p81 = SparkEntry.queries("q81_dup_span_fraction")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(p81.contains("partial_count"), "dupSpanFraction lost its map-side combine")
    // q82 cell pair scan is an equi-join on the cell id, never a broadcast
    // all-pairs loop; assignment folds anchors with zero extra Exchange
    val p82 = SparkEntry.queries("q82_semantic_dedup")(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!p82.contains("NestedLoop") && !p82.contains("CartesianProduct"),
      s"semanticDedup pair scan degenerated:\n$p82")
  }

  test("no query returns a top-level array/map/struct column") {
    // The driver's oracle gate canonicalizes result rows with pandas
    // sort_values over ALL columns; an array<...>/map/struct output column
    // raises "unhashable type: numpy.ndarray" there before any comparison
    // runs (r07: q95/q100/q128). Serialize non-scalar outputs to canonical
    // strings (sort_array + array_join, or fixed-point joins) per the
    // q51/q95 rule before they leave SparkEntry.
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    SparkEntry.queries.foreach { case (name, fn) =>
      val bad = fn(spark, dir).schema.fields.collect {
        case f if f.dataType.isInstanceOf[ArrayType] ||
          f.dataType.isInstanceOf[MapType] ||
          f.dataType.isInstanceOf[StructType] => s"${f.name}:${f.dataType.simpleString}"
      }
      assert(bad.isEmpty,
        s"$name returns non-atomic top-level column(s) ${bad.mkString(", ")} — " +
          "the driver's pandas sort cannot canonicalize these; serialize them")
    }
  }

  test("predicate pushdown reaches the parquet scan") {
    val q19 = SparkEntry.queries("q19_asof")(spark, dir)
    val plan = q19.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("event_type"),
      "expected the event_type filter pushed into the events scan")
  }
}
