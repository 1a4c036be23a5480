package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkEntry.datasetStamp
import graft.functions.{Dedup, Similarity, TextFunctions => TF}
import QueryFixtures._

/** Vector queries: exact and approximate nearest neighbours (LSH, IVF),
  * quantization, k-means, hybrid retrieval and embedding dedup. */
private[graft] object VectorQueries {

  /** DuckDB rendering of [[Similarity.lshCode]]: sign-projection bucket code
    * over literal hyperplanes (deterministic library constants — embedding
    * them makes the LSH bucketing itself oracle-replayable). Scala's
    * `Double.toString` is shortest-round-trip, so the literals parse back to
    * the identical doubles; the per-plane dot products are the same
    * sequential folds on both engines, so the sign tests agree bitwise. */
  private def signCodeSql(v: String, planes: Seq[Seq[Double]]): String =
    planes.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN list_dot_product($v, [${p.mkString(", ")}]) > 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString("(", "\n         + ", ")")

  val defs: Seq[QueryDef] = Seq(
    // Similarity: exact brute-force cosine top-10 for query vectors
    QueryDef("q15_ann_brute", (sp, dir) => {
      val e = table(sp, dir, "embeddings")
      val q = e.where(pmod(col("vec_id"), lit(100L)) === 0L)
      Similarity.bruteForceTopK(e, q, 10)
    },
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id % 100 = 0),
        |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (SELECT q_id, vec_id,
        |             round(list_dot_product(v, qv)
        |                   / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 4) AS sim
        |      FROM c, q WHERE vec_id <> q_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank FROM s)
        |SELECT q_id, vec_id, sim, rank FROM r WHERE rank <= 10""".stripMargin),

    // Similarity: LSH-bucketed approximate top-10 — the planes are
    // deterministic library constants, so the DuckDB oracle replays the
    // sign-projection bucketing exactly (plane literals embedded in the SQL)
    QueryDef("q16_ann_lsh", (sp, dir) => {
      val e = table(sp, dir, "embeddings")
      val q = e.where(pmod(col("vec_id"), lit(100L)) === 0L)
      Similarity.lshTopK(e, q, 10, Similarity.randomPlanes(8, 64))
    }, {
      val code = (v: String) => signCodeSql(v, Similarity.randomPlanes(8, 64))
      s"""WITH q0 AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
         |            FROM embeddings WHERE vec_id % 100 = 0),
         |c0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |q AS (SELECT q_id, qv, ${code("qv")} AS code FROM q0),
         |c AS (SELECT vec_id, v, ${code("v")} AS code FROM c0),
         |s AS (SELECT q_id, vec_id,
         |             round(list_dot_product(v, qv)
         |                   / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 4) AS sim
         |      FROM c JOIN q USING (code) WHERE vec_id <> q_id),
         |r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank FROM s)
         |SELECT q_id, vec_id, sim, rank FROM r WHERE rank <= 10""".stripMargin
    }),

    // Similarity: IVF top-10 at FULL probe (nProbe = nLists): every list is
    // probed, so the candidate set is the whole corpus and the result must
    // EQUAL brute force — which makes the train/assign/probe/rerank
    // machinery oracle-checkable (centroid-detail-independent). The
    // approximate regime (nProbe < nLists) is pinned by SimilaritySpec's
    // recall test.
    QueryDef("q27_ann_ivf", (sp, dir) => {
      val e = table(sp, dir, "embeddings")
      val q = e.where(pmod(col("vec_id"), lit(100L)) === 0L)
      Similarity.ivfTopK(e, q, 10, Similarity.ivfTrain(e, nLists = 16), nProbe = 16)
    },
      """WITH q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        |           FROM embeddings WHERE vec_id % 100 = 0),
        |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (SELECT q_id, vec_id,
        |             round(list_dot_product(v, qv)
        |                   / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 4) AS sim
        |      FROM c, q WHERE vec_id <> q_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank FROM s)
        |SELECT q_id, vec_id, sim, rank FROM r WHERE rank <= 10""".stripMargin),

    // Dedup: exact embedding-cosine near-dup pairs. DECLARED BASELINE:
    // all-pairs by construction (the exactness oracle for q31's LSH path,
    // which is the plan that ships at scale) — never run this on a big
    // corpus.
    QueryDef("q30_embed_neardup_baseline", (sp, dir) =>
      Similarity.cosineNearDupPairs(table(sp, dir, "embeddings"), 0.4),
      """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |s AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |              round(list_dot_product(a.v, b.v)
        |                    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 4) AS sim
        |       FROM c a JOIN c b ON a.vec_id < b.vec_id)
        |SELECT id_a, id_b, sim FROM s WHERE sim >= 0.4""".stripMargin),

    // Dedup: multi-table LSH embedding near-dup — deterministic plane
    // constants again make the bucketing + verified cosine fully
    // oracle-checkable (and the output remains a subset of q30's exact set)
    QueryDef("q31_embed_neardup_lsh", (sp, dir) =>
      Similarity.lshNearDupPairs(table(sp, dir, "embeddings"), 0.4, dim = 64), {
      // Multi-table sign-projection LSH near-dup, plane constants embedded;
      // the OR over table codes reproduces "collides in at least one table"
      val codes = (0 until 4).map(t =>
        s"${signCodeSql("v", Similarity.randomPlanes(4, 64, 7L + t))} AS c$t")
        .mkString(",\n       ")
      s"""WITH c AS (SELECT CAST(vec_id AS BIGINT) AS id,
         |                  CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |n AS (SELECT id, v, sqrt(list_dot_product(v, v)) AS nrm,
         |       $codes
         |      FROM c),
         |p AS (SELECT a.id AS id_a, b.id AS id_b,
         |             round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 4) AS sim
         |      FROM n a JOIN n b
         |        ON a.id < b.id
         |       AND (a.c0 = b.c0 OR a.c1 = b.c1 OR a.c2 = b.c2 OR a.c3 = b.c3))
         |SELECT id_a, id_b, sim FROM p WHERE sim >= 0.4""".stripMargin
    }),

    // Similarity: IVF at its real approximate operating point (nProbe 4 of
    // 16 lists — the regime a user would run; q27 is the same machinery at
    // full probe, where the oracle can require equality with brute force).
    // The coarse quantizer here is the DETERMINISTIC hashAnchors one (the
    // q82 oracle idiom), so assignment + probe-list restriction + rerank
    // all replay exactly in SQL — q61 gets the full three-gate oracle.
    // The k-means (ivfTrain) quantizer at the same operating point stays
    // pinned by SimilaritySpec's recall test.
    QueryDef("q61_ann_ivf_probe", (sp, dir) => {
      val e = table(sp, dir, "embeddings")
      val q = e.where(pmod(col("vec_id"), lit(100L)) === 0L)
      Similarity.ivfTopKAnchored(e, q, 10,
        Similarity.hashAnchors(e, 16, salt = "q61"), nProbe = 4)
    },
      // hashAnchors selection replayed (q82's idiom), corpus cell assignment
      // = argmax rounded cosine (row_number replay of the fold's rule),
      // query probe lists = top-4 anchors by cosine DISTANCE 1.0 - round(s,4)
      // (the -0.0-free form the Spark side sorts by), candidate equi-join on
      // the cell, exact rerank. nProbe=4 of 16 — the true approximate
      // regime, now with a full three-gate oracle.
      s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |anch AS (
        |  SELECT vec_id AS aid, v FROM (
        |    SELECT vec_id, v,
        |           ${hSql("'q61:' || CAST(vec_id AS VARCHAR)")} AS hk
        |    FROM c) ORDER BY hk, vec_id LIMIT 16),
        |csims AS (
        |  SELECT c.vec_id AS id, a.aid,
        |         round(list_dot_product(c.v, a.v)
        |               / (sqrt(list_dot_product(c.v, c.v))
        |                  * sqrt(list_dot_product(a.v, a.v))), 4) AS s
        |  FROM c CROSS JOIN anch a),
        |cellq AS (
        |  SELECT id, aid AS cell FROM (
        |    SELECT id, aid,
        |           row_number() OVER (PARTITION BY id ORDER BY s DESC, aid) AS rn
        |    FROM csims) WHERE rn = 1),
        |qs AS (SELECT vec_id AS q_id, v AS qv FROM c WHERE vec_id % 100 = 0),
        |qsims AS (
        |  SELECT q.q_id, a.aid,
        |         1.0 - round(list_dot_product(q.qv, a.v)
        |               / (sqrt(list_dot_product(q.qv, q.qv))
        |                  * sqrt(list_dot_product(a.v, a.v))), 4) AS d
        |  FROM qs q CROSS JOIN anch a),
        |probe AS (
        |  SELECT q_id, aid AS cell FROM (
        |    SELECT q_id, aid,
        |           row_number() OVER (PARTITION BY q_id ORDER BY d, aid) AS rn
        |    FROM qsims) WHERE rn <= 4),
        |s AS (
        |  SELECT p.q_id, cq.id AS vec_id,
        |         round(list_dot_product(cv.v, qv2.v)
        |               / (sqrt(list_dot_product(cv.v, cv.v))
        |                  * sqrt(list_dot_product(qv2.v, qv2.v))), 4) AS sim
        |  FROM probe p JOIN cellq cq ON cq.cell = p.cell
        |  JOIN c cv ON cv.vec_id = cq.id
        |  JOIN c qv2 ON qv2.vec_id = p.q_id
        |  WHERE cq.id <> p.q_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
        |                                   ORDER BY sim DESC, vec_id) AS rank
        |      FROM s)
        |SELECT q_id, vec_id, sim, rank FROM r WHERE rank <= 10""".stripMargin),

    // SemDeDup-shaped semantic dedup: 8 hash-selected anchors define the
    // cells (anchor literals folded into one codegen'd assignment — zero
    // shuffle), then within-cell cosine >= 0.4 drops the larger id.
    // Survivors + their cell, fully SQL-replayable.
    QueryDef("q82_semantic_dedup", (sp, dir) => {
      val e = table(sp, dir, "embeddings")
      val anchors = graft.functions.Similarity.hashAnchors(e, 8, salt = "q82")
      graft.functions.Similarity.semanticDedup(e, anchors, 0.4)
    },
      s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |anch AS (
        |  SELECT vec_id AS aid, v FROM (
        |    SELECT vec_id, v,
        |           ${hSql("'q82:' || CAST(vec_id AS VARCHAR)")} AS hk
        |    FROM c) ORDER BY hk, vec_id LIMIT 8),
        |sims AS (
        |  SELECT c.vec_id AS id, a.aid,
        |         round(list_dot_product(c.v, a.v)
        |               / (sqrt(list_dot_product(c.v, c.v))
        |                  * sqrt(list_dot_product(a.v, a.v))), 4) AS s
        |  FROM c CROSS JOIN anch a),
        |cellq AS (
        |  SELECT id, aid AS cell FROM (
        |    SELECT id, aid,
        |           row_number() OVER (PARTITION BY id ORDER BY s DESC, aid) AS rn
        |    FROM sims) WHERE rn = 1),
        |pairs AS (
        |  SELECT y.id AS id_b
        |  FROM cellq x JOIN cellq y ON x.cell = y.cell AND x.id < y.id
        |  JOIN c ca ON ca.vec_id = x.id
        |  JOIN c cb ON cb.vec_id = y.id
        |  WHERE round(list_dot_product(ca.v, cb.v)
        |              / (sqrt(list_dot_product(ca.v, ca.v))
        |                 * sqrt(list_dot_product(cb.v, cb.v))), 4) >= 0.4)
        |SELECT q.id AS vec_id, q.cell FROM cellq q
        |WHERE q.id NOT IN (SELECT id_b FROM pairs)""".stripMargin),

    // Hybrid retrieval: reciprocal-rank fusion of the BM25 lexical top-10
    // with the brute-force cosine top-10 over the same query ids —
    // rank-based, so no score calibration; the two-term sum is
    // engine-exact. Both inputs are k-bounded per query before the fuse.
    // The BM25 side goes through the PERSISTED index (shared with q78 and
    // bit-identical to the direct q74 path, so the oracle replay is
    // unchanged) — the shape a production hybrid stack runs, and it keeps
    // the corpus tokenize+aggregate out of every fusion query.
    QueryDef("q84_hybrid_rrf", (sp, dir) => {
      val d = table(sp, dir, "documents")
      val tbl = s"graft_bm25_idx_${datasetStamp(dir)}"
      if (!sp.catalog.tableExists(tbl))
        graft.functions.TfIdf.writeBm25Index(d, "doc_id", "text", tbl, nBuckets = 32)
      val q = d.where(pmod(col("doc_id"), lit(50L)) === 0L)
        .select(col("doc_id").as("qid"),
          array_join(slice(TF.tokens(lower(col("text"))), 1, 8), " ").as("qtext"))
      val bm = graft.functions.TfIdf.bm25AgainstIndex(q, "qid", "qtext", tbl, 10)
        .select(col("qid"), col("doc_id"), col("rank"))
      val e = table(sp, dir, "embeddings")
      val vq = e.where(pmod(col("vec_id"), lit(50L)) === 0L)
      val vec = graft.functions.Similarity.bruteForceTopK(e, vq, 10)
        .select(col("q_id").as("qid"), col("vec_id").as("doc_id"), col("rank"))
      graft.functions.TfIdf.rrfFuse(bm, vec, "qid", "doc_id", "rank", 10)
    },
      s"""WITH bm AS ($bm25ReplaySql),
        |vq AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
        |       FROM embeddings WHERE vec_id % 50 = 0),
        |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |vs AS (SELECT q_id, vec_id,
        |              round(list_dot_product(v, qv)
        |                    / (sqrt(list_dot_product(v, v))
        |                       * sqrt(list_dot_product(qv, qv))), 4) AS sim
        |       FROM c, vq WHERE vec_id <> q_id),
        |vr AS (SELECT q_id, vec_id,
        |              row_number() OVER (PARTITION BY q_id
        |                                 ORDER BY sim DESC, vec_id) AS rank
        |       FROM vs),
        |vec AS (SELECT q_id, vec_id, rank FROM vr WHERE rank <= 10),
        |f AS (SELECT coalesce(bm.qid, vec.q_id) AS qid,
        |             coalesce(bm.doc_id, vec.vec_id) AS doc_id,
        |             round(coalesce(1.0 / (60 + bm.rank), 0.0)
        |                   + coalesce(1.0 / (60 + vec.rank), 0.0), 6) AS rrf
        |      FROM bm FULL JOIN vec
        |        ON bm.qid = vec.q_id AND bm.doc_id = vec.vec_id),
        |rr AS (SELECT qid, doc_id, rrf,
        |              CAST(row_number() OVER (PARTITION BY qid
        |                ORDER BY rrf DESC, doc_id) AS BIGINT) AS rank
        |       FROM f)
        |SELECT qid, doc_id, rrf, rank FROM rr WHERE rank <= 10""".stripMargin),

    // One spherical k-means (Lloyd) iteration from deterministic hash
    // anchors: cosine-argmax assignment (zero-shuffle codegen'd fold) +
    // fixed-point centroid means (order-exact long sums). Chained, this is
    // the IVF coarse-quantizer trainer.
    // The centroid array serializes to comma-joined 6-dp fixed-point longs
    // (round(x*1e6) is exact on 6-dp-rounded doubles; BIGINT renders
    // identically in both engines, unlike double->string) — the oracle's pandas
    // sort cannot canonicalize array columns (q51 rule).
    QueryDef("q100_kmeans_step", (sp, dir) => {
      val e = table(sp, dir, "embeddings")
      val anchors = graft.functions.Similarity.hashAnchors(e, 6, salt = "q100")
      graft.functions.Similarity.kmeansStep(e, anchors)
        .select(col("cell"), col("n"),
          array_join(transform(col("centroid"),
            x => round(x * 1e6, 0).cast("long").cast("string")), ",")
            .as("centroid"))
    },
      s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |anch AS (
        |  SELECT vec_id AS aid, v FROM (
        |    SELECT vec_id, v,
        |           ${hSql("'q100:' || CAST(vec_id AS VARCHAR)")} AS hk
        |    FROM c) ORDER BY hk, vec_id LIMIT 6),
        |sims AS (
        |  SELECT c.vec_id AS id, a.aid,
        |         round(list_dot_product(c.v, a.v)
        |               / (sqrt(list_dot_product(c.v, c.v))
        |                  * sqrt(list_dot_product(a.v, a.v))), 4) AS s
        |  FROM c CROSS JOIN anch a),
        |cellq AS (
        |  SELECT id, aid AS cell FROM (
        |    SELECT id, aid,
        |           row_number() OVER (PARTITION BY id ORDER BY s DESC, aid) AS rn
        |    FROM sims) WHERE rn = 1),
        |el AS (
        |  SELECT q.cell, unnest(c.v) AS x, generate_subscripts(c.v, 1) AS i
        |  FROM cellq q JOIN c ON c.vec_id = q.id),
        |s AS (SELECT cell, i,
        |             CAST(sum(CAST(floor(x * 1000000.0) AS BIGINT)) AS BIGINT) AS fx,
        |             count(*) AS n
        |      FROM el GROUP BY cell, i)
        |SELECT cell, CAST(min(n) AS BIGINT) AS n,
        |       string_agg(CAST(CAST(round(round(CAST(fx AS DOUBLE) / 1000000.0 / n, 6)
        |                                  * 1000000.0) AS BIGINT) AS VARCHAR),
        |                  ',' ORDER BY i) AS centroid
        |FROM s GROUP BY cell""".stripMargin),

    // Per-label embedding prototypes + pairwise prototype cosine — the
    // class-similarity audit. Fixed-point centroid means (q100's rule),
    // then an all-pairs join over the handful of labels (broadcast-sized
    // BY CONSTRUCTION: one row per label survives the aggregate).
    QueryDef("q115_label_centroids", (sp, dir) => {
      val e = table(sp, dir, "embeddings")
        .select(col("label"), col("embedding").cast("array<double>").as("v"))
      val cent = e.select(col("label"), posexplode(col("v")).as(Seq("__d", "__x")))
        .groupBy("label", "__d")
        .agg(sum(floor(col("__x") * 1e6)).as("__fx"), count(lit(1)).as("__cnt"))
        .groupBy("label")
        .agg(transform(
          sort_array(collect_list(struct(col("__d"),
            round(col("__fx").cast("double") / 1e6 / col("__cnt"), 6).as("__c")))),
          x => x.getField("__c")).as("cv"))
      val a = cent.select(col("label").as("label_a"), col("cv").as("va"))
      val b = cent.select(col("label").as("label_b"), col("cv").as("vb"))
      a.join(b, col("label_a") < col("label_b"))
        .select(col("label_a"), col("label_b"),
          round(Similarity.dot(col("va"), col("vb")) /
            (sqrt(Similarity.dot(col("va"), col("va"))) *
              sqrt(Similarity.dot(col("vb"), col("vb")))), 4).as("cos"))
    },
      """WITH el AS (SELECT label, unnest(CAST(embedding AS DOUBLE[])) AS x,
        |                   generate_subscripts(embedding, 1) AS i
        |            FROM embeddings),
        |s AS (SELECT label, i,
        |             CAST(sum(CAST(floor(x * 1000000.0) AS BIGINT)) AS BIGINT) AS fx,
        |             count(*) AS n
        |      FROM el GROUP BY 1, 2),
        |c AS (SELECT label,
        |             list(round(CAST(fx AS DOUBLE) / 1000000.0 / n, 6) ORDER BY i)
        |               AS cv
        |      FROM s GROUP BY 1)
        |SELECT a.label AS label_a, b.label AS label_b,
        |       round(list_dot_product(a.cv, b.cv)
        |             / (sqrt(list_dot_product(a.cv, a.cv))
        |                * sqrt(list_dot_product(b.cv, b.cv))), 4) AS cos
        |FROM c a JOIN c b ON a.label < b.label""".stripMargin),

    // SQ8 scalar quantization of the embedding corpus: per-dim global
    // [min,max] -> int codes in [0,255] + squared reconstruction error.
    // Stats pass ships dim rows; the corpus itself never shuffles. The
    // code array serializes to a comma-joined string for the gate (the
    // oracle's pandas sort cannot canonicalize array columns — q51 rule).
    QueryDef("q95_sq8", (sp, dir) =>
      Similarity.scalarQuantize(table(sp, dir, "embeddings"),
        "vec_id", "embedding")
        .select(col("vec_id"),
          concat_ws(",", col("codes").cast("array<string>")).as("codes"),
          col("err")),
      """WITH el AS (SELECT vec_id, unnest(embedding) AS x,
        |                   generate_subscripts(embedding, 1) AS i
        |            FROM embeddings),
        |d AS (SELECT i, min(x) AS lo, max(x) AS hi FROM el GROUP BY i),
        |c AS (SELECT el.vec_id, el.i,
        |             CAST(el.x AS DOUBLE) AS xd,
        |             CAST(d.lo AS DOUBLE) AS lod,
        |             CAST(d.hi AS DOUBLE) AS hid,
        |             CASE WHEN CAST(d.hi AS DOUBLE) = CAST(d.lo AS DOUBLE) THEN 0
        |                  ELSE CAST(floor((CAST(el.x AS DOUBLE) - CAST(d.lo AS DOUBLE))
        |                                  * 255.0
        |                                  / (CAST(d.hi AS DOUBLE) - CAST(d.lo AS DOUBLE))
        |                                  + 0.5) AS BIGINT)
        |             END AS code
        |      FROM el JOIN d USING (i)),
        |r AS (SELECT vec_id, i, code,
        |             xd - (CASE WHEN hid = lod THEN lod
        |                        ELSE lod + CAST(code AS DOUBLE) * (hid - lod) / 255.0
        |                   END) AS dx
        |      FROM c)
        |SELECT vec_id,
        |       string_agg(CAST(code AS VARCHAR), ',' ORDER BY i) AS codes,
        |       round(list_reduce(list_prepend(0.0, list(dx * dx ORDER BY i)),
        |                         (a, b) -> a + b), 6) AS err
        |FROM r GROUP BY vec_id""".stripMargin),

    // Product quantization: 4 subspaces x 8 hash-selected codebook
    // entries — codes + summed sub-distance error, one codegen'd
    // projection (zero shuffle; anchors are driver-side literals).
    // Codes serialize comma-joined (the oracle's pandas-sort rule, see q95).
    QueryDef("q128_pq", (sp, dir) => {
      val emb = table(sp, dir, "embeddings")
      val anchors = Similarity.hashAnchors(emb, 8, "pq")
      Similarity.productQuantize(emb, anchors, 4)
        // concat_ws over a plain array cast, NOT transform(...): a lambda
        // blocks codegen CSE, so the collapsed projection recomputed every
        // per-subspace argmin tree inside it (measured +82% on this query)
        .select(col("vec_id"),
          concat_ws(",", col("codes").cast("array<string>")).as("codes"),
          col("err"))
    },
      """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
        |           FROM embeddings),
        |anch AS (SELECT e AS a,
        |                row_number() OVER (
        |                  ORDER BY ('0x' || substr(md5('pq:' ||
        |                              CAST(vec_id AS VARCHAR)), 1, 15))::BIGINT
        |                           % 1000000007, vec_id) - 1 AS j
        |         FROM v QUALIFY j < 8),
        |p AS (SELECT v.vec_id, anch.j, s.s,
        |             round(list_reduce(list_prepend(0.0,
        |               list_transform(range(16), d ->
        |                 (v.e[CAST(s.s*16 + d + 1 AS INT)]
        |                  - anch.a[CAST(s.s*16 + d + 1 AS INT)])
        |                 * (v.e[CAST(s.s*16 + d + 1 AS INT)]
        |                    - anch.a[CAST(s.s*16 + d + 1 AS INT)]))),
        |               (x, y) -> x + y), 4) AS dist
        |      FROM v, anch, range(4) s(s)),
        |b AS (SELECT vec_id, s, j, dist,
        |             row_number() OVER (PARTITION BY vec_id, s
        |                                ORDER BY dist, j) AS rn
        |      FROM p)
        |SELECT vec_id,
        |       string_agg(CAST(j AS VARCHAR), ',' ORDER BY s) AS codes,
        |       round(list_reduce(list_prepend(0.0, list(dist ORDER BY s)),
        |                         (x, y) -> x + y), 6) AS err
        |FROM b WHERE rn = 1 GROUP BY vec_id""".stripMargin),

    // kNN label-agreement audit (mislabeled-sample detector): fraction of
    // each vector's 5 nearest cosine neighbors sharing its label, computed
    // over a 10% HASH-SAMPLE of query vectors — the 100 TB shape (audits
    // run on a query sample; the corpus is the neighbor pool, never the
    // query side). Neighbors come from ivfTopK at FULL probe, which equals
    // the exact brute ranking (q27's trick) so the DuckDB oracle replays
    // it as brute over the sampled queries. At scale: nProbe < nLists.
    QueryDef("q137_label_agreement", (sp, dir) => {
      val e = table(sp, dir, "embeddings")
      val qs = graft.functions.Sampling.sampleByHash(e, "vec_id", 0.1, "q137")
      val nn = Similarity.ivfTopK(e, qs, 5,
          Similarity.ivfTrain(e, nLists = 16), nProbe = 16)
        .select(col("q_id"), col("vec_id").as("n_id"))
      val lab = table(sp, dir, "embeddings").select(col("vec_id"), col("label"))
      nn.join(lab.select(col("vec_id").as("q_id"), col("label").as("q_label")),
          "q_id")
        .join(lab.select(col("vec_id").as("n_id"), col("label").as("n_label")),
          "n_id")
        .groupBy(col("q_id"), col("q_label"))
        .agg(count(lit(1)).as("n_neighbors"),
          sum(when(col("n_label") === col("q_label"), 1L).otherwise(0L))
            .as("n_agree"))
        .select(col("q_id").as("vec_id"), col("q_label").as("label"),
          col("n_neighbors"), col("n_agree"),
          round(col("n_agree") / col("n_neighbors"), 6).as("agreement"))
    },
      s"""WITH c AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |qs AS (SELECT * FROM c
        |       WHERE ${hSql("'q137:' || CAST(vec_id AS VARCHAR)")} % 1000 < 100),
        |s AS (SELECT a.vec_id AS q_id, a.label AS q_label,
        |             b.vec_id, b.label AS n_label,
        |             round(list_dot_product(a.v, b.v)
        |                   / (sqrt(list_dot_product(a.v, a.v))
        |                      * sqrt(list_dot_product(b.v, b.v))), 4) AS sim
        |      FROM qs a JOIN c b ON a.vec_id <> b.vec_id),
        |r AS (SELECT *, row_number() OVER (PARTITION BY q_id
        |                                   ORDER BY sim DESC, vec_id) AS rank
        |      FROM s)
        |SELECT q_id AS vec_id, q_label AS label,
        |       count(*) AS n_neighbors,
        |       CAST(sum(CASE WHEN n_label = q_label THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_agree,
        |       round(CAST(sum(CASE WHEN n_label = q_label THEN 1 ELSE 0 END)
        |                  AS BIGINT) / count(*), 6) AS agreement
        |FROM r WHERE rank <= 5 GROUP BY 1, 2""".stripMargin),

    // ANN quality audit: recall@10 of the LSH bucketed path (q16's plan)
    // against the exact brute-force truth (q15's declared baseline role) —
    // the "are 8 planes enough for my corpus" pre-flight before shipping
    // the approximate path. Both sides are deterministic, so the oracle
    // replays the full composition; audits run on a query SAMPLE, which is
    // what keeps the brute side bounded at scale.
    QueryDef("q152_ann_recall", (sp, dir) => {
      val e = table(sp, dir, "embeddings")
      val q = e.where(pmod(col("vec_id"), lit(100L)) === 0L)
      val brute = Similarity.bruteForceTopK(e, q, 10).select("q_id", "vec_id")
      val approx = Similarity.lshTopK(e, q, 10, Similarity.randomPlanes(8, 64))
        .select("q_id", "vec_id")
      val hits = brute.join(approx, Seq("q_id", "vec_id"))
        .groupBy("q_id").agg(count(lit(1)).as("hits"))
      q.select(col("vec_id").as("q_id")).join(hits, Seq("q_id"), "left")
        .select(col("q_id"), coalesce(col("hits"), lit(0L)).as("hits"),
          round(coalesce(col("hits"), lit(0L)).cast("double") / lit(10.0), 6)
            .as("recall"))
    }, {
      // Full composition replay: q15's brute truth and q16's LSH ranking as
      // CTEs, intersected per query, missing queries kept at zero recall.
      val code = (v: String) => signCodeSql(v, Similarity.randomPlanes(8, 64))
      s"""WITH q0 AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
         |            FROM embeddings WHERE vec_id % 100 = 0),
         |c0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |bs AS (SELECT q_id, vec_id,
         |              round(list_dot_product(v, qv)
         |                    / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 4) AS sim
         |       FROM c0, q0 WHERE vec_id <> q_id),
         |br AS (SELECT q_id, vec_id FROM (
         |         SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank
         |         FROM bs) WHERE rank <= 10),
         |qc AS (SELECT q_id, qv, ${code("qv")} AS lcode FROM q0),
         |cc AS (SELECT vec_id, v, ${code("v")} AS lcode FROM c0),
         |ls AS (SELECT q_id, vec_id,
         |              round(list_dot_product(v, qv)
         |                    / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))), 4) AS sim
         |       FROM cc JOIN qc USING (lcode) WHERE vec_id <> q_id),
         |lr AS (SELECT q_id, vec_id FROM (
         |         SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rank
         |         FROM ls) WHERE rank <= 10),
         |h AS (SELECT q_id, CAST(count(*) AS BIGINT) AS hits
         |      FROM br JOIN lr USING (q_id, vec_id) GROUP BY 1)
         |SELECT q0.q_id, COALESCE(h.hits, 0) AS hits,
         |       round(CAST(COALESCE(h.hits, 0) AS DOUBLE) / 10, 6) AS recall
         |FROM q0 LEFT JOIN h USING (q_id)""".stripMargin
    }),

    // Hybrid retrieval AT SCALE: q84's shape with the vector half swapped
    // from the declared brute-force baseline to the IVF probe (anchored
    // deterministic quantizer, nProbe 4/16 — the q61 idiom), fused by RRF
    // against the persisted BM25 index. The 64x curve exposed q84's
    // vector half as its quadratic-by-design floor; this is the
    // production substitution, and unlike most ANN swaps it keeps the
    // full three-gate oracle. (nLists is fixed at 16 here for the oracle;
    // at 100 TB the quantizer is ivfTrain centroids scaled with the
    // corpus, same plan shape.)
    QueryDef("q181_hybrid_rrf_ivf", (sp, dir) => {
      val d = table(sp, dir, "documents")
      val tbl = s"graft_bm25_idx_${datasetStamp(dir)}"
      if (!sp.catalog.tableExists(tbl))
        graft.functions.TfIdf.writeBm25Index(d, "doc_id", "text", tbl, nBuckets = 32)
      val q = d.where(pmod(col("doc_id"), lit(50L)) === 0L)
        .select(col("doc_id").as("qid"),
          array_join(slice(TF.tokens(lower(col("text"))), 1, 8), " ").as("qtext"))
      val bm = graft.functions.TfIdf.bm25AgainstIndex(q, "qid", "qtext", tbl, 10)
        .select(col("qid"), col("doc_id"), col("rank"))
      val e = table(sp, dir, "embeddings")
      val vq = e.where(pmod(col("vec_id"), lit(50L)) === 0L)
      val vec = Similarity.ivfTopKAnchored(e, vq, 10,
          Similarity.hashAnchors(e, 16, salt = "q181"), nProbe = 4)
        .select(col("q_id").as("qid"), col("vec_id").as("doc_id"), col("rank"))
      graft.functions.TfIdf.rrfFuse(bm, vec, "qid", "doc_id", "rank", 10)
    },
      s"""WITH bm AS ($bm25ReplaySql),
        |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
        |anch AS (
        |  SELECT vec_id AS aid, v FROM (
        |    SELECT vec_id, v,
        |           ${hSql("'q181:' || CAST(vec_id AS VARCHAR)")} AS hk
        |    FROM c) ORDER BY hk, vec_id LIMIT 16),
        |csims AS (
        |  SELECT c.vec_id AS id, a.aid,
        |         round(list_dot_product(c.v, a.v)
        |               / (sqrt(list_dot_product(c.v, c.v))
        |                  * sqrt(list_dot_product(a.v, a.v))), 4) AS s
        |  FROM c CROSS JOIN anch a),
        |cellq AS (
        |  SELECT id, aid AS cell FROM (
        |    SELECT id, aid,
        |           row_number() OVER (PARTITION BY id ORDER BY s DESC, aid) AS rn
        |    FROM csims) WHERE rn = 1),
        |qs AS (SELECT vec_id AS q_id, v AS qv FROM c WHERE vec_id % 50 = 0),
        |qsims AS (
        |  SELECT q.q_id, a.aid,
        |         1.0 - round(list_dot_product(q.qv, a.v)
        |               / (sqrt(list_dot_product(q.qv, q.qv))
        |                  * sqrt(list_dot_product(a.v, a.v))), 4) AS d
        |  FROM qs q CROSS JOIN anch a),
        |probe AS (
        |  SELECT q_id, aid AS cell FROM (
        |    SELECT q_id, aid,
        |           row_number() OVER (PARTITION BY q_id ORDER BY d, aid) AS rn
        |    FROM qsims) WHERE rn <= 4),
        |vs AS (
        |  SELECT p.q_id, cq.id AS vec_id,
        |         round(list_dot_product(cv.v, qv2.v)
        |               / (sqrt(list_dot_product(cv.v, cv.v))
        |                  * sqrt(list_dot_product(qv2.v, qv2.v))), 4) AS sim
        |  FROM probe p JOIN cellq cq ON cq.cell = p.cell
        |  JOIN c cv ON cv.vec_id = cq.id
        |  JOIN c qv2 ON qv2.vec_id = p.q_id
        |  WHERE cq.id <> p.q_id),
        |vr AS (SELECT q_id, vec_id,
        |              row_number() OVER (PARTITION BY q_id
        |                                 ORDER BY sim DESC, vec_id) AS rank
        |       FROM vs),
        |vec AS (SELECT q_id, vec_id, rank FROM vr WHERE rank <= 10),
        |f AS (SELECT coalesce(bm.qid, vec.q_id) AS qid,
        |             coalesce(bm.doc_id, vec.vec_id) AS doc_id,
        |             round(coalesce(1.0 / (60 + bm.rank), 0.0)
        |                   + coalesce(1.0 / (60 + vec.rank), 0.0), 6) AS rrf
        |      FROM bm FULL JOIN vec
        |        ON bm.qid = vec.q_id AND bm.doc_id = vec.vec_id),
        |rr AS (SELECT qid, doc_id, rrf,
        |              CAST(row_number() OVER (PARTITION BY qid
        |                ORDER BY rrf DESC, doc_id) AS BIGINT) AS rank
        |       FROM f)
        |SELECT qid, doc_id, rrf, rank FROM rr WHERE rank <= 10""".stripMargin),

    // Full Lloyd LOOP over q100's single step: hash-seed 6 anchors, run
    // kmeansFit for 2 rounds (fixed-point 6 dp centroids, empty cells
    // carry the previous centroid), then one presentation step — in total
    // exactly 3 chained kmeansStep rounds, which the oracle replays as 3
    // SQL layers. Early convergence inside the fit cannot diverge from
    // the fixed-depth replay: an unchanged round is a fixed point, so
    // extra layers are the identity. Like q178/q179 this graduates the
    // kernel step to the convergence operator users actually run; unlike
    // them the loop state is k x dim driver-side literals, so lineage
    // depth stays constant with no checkpoint.
    QueryDef("q182_kmeans_fit", (sp, dir) => {
      val e = table(sp, dir, "embeddings")
      val (anch, _) = Similarity.kmeansFit(e, 6, maxIter = 2, salt = "q182")
      Similarity.kmeansStep(e, anch)
        .select(col("cell"), col("n"),
          array_join(transform(col("centroid"),
            x => round(x * 1e6, 0).cast("long").cast("string")), ",")
            .as("centroid"))
    }, {
      def stepSql(aTbl: String, cTbl: String) =
        s"""sims_$cTbl AS (
           |  SELECT c.vec_id AS id, a.aid,
           |         round(list_dot_product(c.v, a.v)
           |               / (sqrt(list_dot_product(c.v, c.v))
           |                  * sqrt(list_dot_product(a.v, a.v))), 4) AS s
           |  FROM c CROSS JOIN $aTbl a),
           |cell_$cTbl AS (
           |  SELECT id, aid AS cell FROM (
           |    SELECT id, aid,
           |           row_number() OVER (PARTITION BY id ORDER BY s DESC, aid) AS rn
           |    FROM sims_$cTbl) WHERE rn = 1),
           |el_$cTbl AS (
           |  SELECT q.cell, unnest(c.v) AS x, generate_subscripts(c.v, 1) AS i
           |  FROM cell_$cTbl q JOIN c ON c.vec_id = q.id),
           |$cTbl AS (
           |  SELECT cell, i,
           |         CAST(sum(CAST(floor(x * 1000000.0) AS BIGINT)) AS BIGINT) AS fx,
           |         count(*) AS n
           |  FROM el_$cTbl GROUP BY cell, i)""".stripMargin
      def carrySql(aPrev: String, cTbl: String, aNext: String) =
        s"""cent_$cTbl AS (
           |  SELECT cell AS aid,
           |         list(round(CAST(fx AS DOUBLE) / 1000000.0 / n, 6)
           |              ORDER BY i) AS v
           |  FROM $cTbl GROUP BY cell),
           |$aNext AS (
           |  SELECT p.aid, coalesce(cn.v, p.v) AS v
           |  FROM $aPrev p LEFT JOIN cent_$cTbl cn ON cn.aid = p.aid)""".stripMargin
      s"""WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |a0 AS (
         |  SELECT vec_id AS aid, v FROM (
         |    SELECT vec_id, v,
         |           ${hSql("'q182:' || CAST(vec_id AS VARCHAR)")} AS hk
         |    FROM c) ORDER BY hk, vec_id LIMIT 6),
         |${stepSql("a0", "c1")},
         |${carrySql("a0", "c1", "a1")},
         |${stepSql("a1", "c2")},
         |${carrySql("a1", "c2", "a2")},
         |${stepSql("a2", "c3")}
         |SELECT cell, CAST(min(n) AS BIGINT) AS n,
         |       string_agg(CAST(CAST(round(round(CAST(fx AS DOUBLE) / 1000000.0 / n, 6)
         |                                  * 1000000.0) AS BIGINT) AS VARCHAR),
         |                  ',' ORDER BY i) AS centroid
         |FROM c3 GROUP BY cell""".stripMargin
    }),

    // Embedding-space DECONTAMINATION — the vector sibling of q54/q189's
    // n-gram scrubs, catching paraphrased eval leakage exact grams miss:
    // the %37==5 slice plays the benchmark (collected driver-side, eval
    // sets are KB-scale), the rest is the corpus, and every corpus vector
    // whose best benchmark cosine (4 dp, ties to the smaller bench id)
    // reaches 0.3 is flagged with its match. Zero shuffle: the argmax is
    // one codegen'd fold over benchmark literals inside the corpus scan
    // (the fixture's embeddings are near-random — max cross-sim ~0.48 —
    // so 0.3 exercises a real flagged/unflagged split).
    QueryDef("q212_embed_decontaminate", (sp, dir) => {
      val e = table(sp, dir, "embeddings")
      // vec_id < 1e8 pins the benchmark to the ORIGINAL corpus copy: a
      // no-op at the gate SFs (all ids are < 1e8 there), and the honest
      // experimental design on the affine-scaled dirs — eval benchmarks
      // are FIXED while the corpus grows, so the 16x curve measures a
      // constant-size literal fold over 16x the scan.
      val bench = e.where(pmod(col("vec_id"), lit(37L)) === 5L &&
          col("vec_id") < 100000000L)
        .select(col("vec_id").cast("long"),
          col("embedding").cast("array<double>"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
        .toSeq.sortBy(_._1)
      Similarity.embedDecontaminate(
        e.where(pmod(col("vec_id"), lit(37L)) =!= 5L), bench, 0.3)
    },
      """WITH c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
        |           FROM embeddings),
        |b AS (SELECT vec_id AS bid, v FROM c
        |      WHERE vec_id % 37 = 5 AND vec_id < 100000000),
        |s AS (SELECT c.vec_id AS id, b.bid,
        |             round(list_dot_product(c.v, b.v)
        |                   / (sqrt(list_dot_product(c.v, c.v))
        |                      * sqrt(list_dot_product(b.v, b.v))), 4) AS s
        |      FROM c JOIN b ON c.vec_id % 37 <> 5),
        |best AS (SELECT id, bid, s,
        |                row_number() OVER (PARTITION BY id
        |                                   ORDER BY s DESC, bid) AS rn
        |         FROM s)
        |SELECT id, bid AS bench_id, s AS sim
        |FROM best WHERE rn = 1 AND s >= 0.3""".stripMargin)
  )
}
