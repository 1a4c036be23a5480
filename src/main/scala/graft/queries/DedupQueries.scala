package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkEntry.datasetStamp
import graft.functions.{Dedup, TextFunctions => TF}
import QueryFixtures._

/** Dedup and index queries: exact, MinHash/LSH, SimHash and
  * exact-substring dedup, and the persisted band and BM25 indexes with
  * their append and delete legs. */
private[graft] object DedupQueries {

  /** q46's full clusters replay (simhash → hamming-≤2 edges → recursive
    * min-reachability CC), shared with q138's size-histogram rollup. */
  private lazy val q46ClustersSql: String = {
    val hsSql = s"list_transform($toksSql, t -> ('0x' || substr(md5(t),1,15))::BIGINT)"
    val bitTerms = (0 until 32).map { j =>
      s"(CASE WHEN list_sum(list_transform(hs, h -> ((h >> $j) & 1)*2 - 1)) > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString("\n  + ")
    // transitive closure by recursive min-reachability; rep = min id
    s"""WITH RECURSIVE
       |t AS (SELECT doc_id, $hsSql AS hs FROM documents),
       |sh AS (SELECT doc_id, CAST($bitTerms AS BIGINT) AS sh FROM t),
       |e0 AS (SELECT x.doc_id AS a, y.doc_id AS b
       |       FROM sh x JOIN sh y
       |         ON x.doc_id < y.doc_id AND bit_count(xor(x.sh, y.sh)) <= 2),
       |edges AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
       |reach(id, r) AS (
       |  SELECT doc_id, doc_id FROM sh
       |  UNION
       |  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id)
       |SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS rep
       |FROM reach GROUP BY id""".stripMargin
  }

  /** q190's retrieval-evaluation replay — shared verbatim by the
    * pair-truth row (q190) and the label-path production substitution
    * (q204), whose plan never materializes the (query × relevant-doc)
    * pair frame. */
  private lazy val q190Sql =
    s"""WITH bm AS ($bm25ReplaySql),
      |res AS (SELECT qid, doc_id, CAST(rank AS BIGINT) AS r FROM bm
      |        WHERE rank BETWEEN 1 AND 10),
      |qs AS (SELECT doc_id AS qid, source FROM documents WHERE doc_id % 50 = 0),
      |rel AS (SELECT DISTINCT q.qid, d.doc_id
      |        FROM qs q JOIN documents d ON d.source = q.source),
      |nr AS (SELECT qid, CAST(count(*) AS BIGINT) AS n_rel FROM rel GROUP BY qid),
      |h AS (SELECT r.qid, min(r.r) AS first,
      |             list(round(1.0 / log2(CAST(r.r AS DOUBLE) + 1.0), 6)
      |                  ORDER BY r.r) AS gs
      |      FROM res r JOIN rel ON rel.qid = r.qid AND rel.doc_id = r.doc_id
      |      GROUP BY r.qid),
      |qq AS (SELECT DISTINCT qid FROM res)
      |SELECT qq.qid, CAST(coalesce(nr.n_rel, 0) AS BIGINT) AS n_rel,
      |       h.first IS NOT NULL AS hit,
      |       round(CASE WHEN h.first IS NOT NULL
      |             THEN 1.0 / CAST(h.first AS DOUBLE) ELSE 0.0 END, 6) AS mrr,
      |       round(CASE WHEN least(coalesce(nr.n_rel, 0), 10) > 0
      |             THEN list_reduce(list_prepend(0.0, coalesce(h.gs, CAST([] AS DOUBLE[]))),
      |                              (a, b) -> a + b)
      |                  / list_reduce(list_prepend(0.0,
      |                      list_transform(range(1, least(coalesce(nr.n_rel, 0), 10) + 1),
      |                        i -> round(1.0 / log2(CAST(i AS DOUBLE) + 1.0), 6))),
      |                      (a, b) -> a + b)
      |             ELSE 0.0 END, 6) AS ndcg
      |FROM qq LEFT JOIN h ON h.qid = qq.qid LEFT JOIN nr ON nr.qid = qq.qid""".stripMargin

  /** q64's full MinHash index-probe replay — shared verbatim by the batch
    * row and q203's incrementally-built index (append ≡ rebuild). */
  private lazy val q64Sql = q64SqlFor("")

  /** The q64 replay with an extra predicate on the INDEX side of the
    * probe join (`extra` is ANDed into the ON clause, or empty for the
    * classic replay) — q209 passes the tombstone survivors. */
  private def q64SqlFor(extra: String) = {
    val bandSqls = (0 until 4).map(bd =>
      s"list_reduce(sig[${bd * 4 + 1}:${bd * 4 + 4}], (a, b) -> (a*31 + b) % ${Dedup.P}) AS bh$bd")
      .mkString(",\n       ")
    s"""WITH d AS (SELECT doc_id, ${shinglesSql(5)} AS sh FROM documents),
       |d2 AS (SELECT doc_id, sh FROM d WHERE len(sh) > 0),
       |s AS (SELECT doc_id,
       |             list_distinct(list_transform(sh, sg -> ${hSql("sg")})) AS hs,
       |             $sigSql AS sig
       |      FROM d2),
       |b AS (SELECT doc_id, hs,
       |       $bandSqls
       |      FROM s),
       |p AS (SELECT n.doc_id AS new_id, i.doc_id AS index_id,
       |             round(len(list_intersect(n.hs, i.hs))
       |                   / len(list_distinct(list_concat(n.hs, i.hs))), 6) AS jaccard
       |      FROM b n JOIN b i
       |        ON n.doc_id % 2 = 1 AND i.doc_id % 2 = 0$extra
       |       AND (n.bh0 = i.bh0 OR n.bh1 = i.bh1 OR n.bh2 = i.bh2 OR n.bh3 = i.bh3))
       |SELECT new_id, index_id, jaccard FROM p WHERE jaccard >= 0.5""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    // Dedup: exact duplicate groups by content hash
    QueryDef("q09_dedup_exact", (sp, dir) =>
      Dedup.exactDupGroups(table(sp, dir, "documents"), "text", "doc_id"),
      """SELECT md5(text) AS h, count(*) AS cnt, min(doc_id) AS keeper
        |FROM documents GROUP BY 1""".stripMargin),

    // Dedup: MinHash signature values (k=16, 5-gram shingles), exploded.
    // Fast imperative path (one pass/partition); values bit-identical to
    // the Column path and the DuckDB oracle.
    QueryDef("q11_minhash_sig", (sp, dir) => {
      val d = table(sp, dir, "documents").where(length(col("text")) >= 5)
      Dedup.signatures(d, "text", "doc_id")
        .select(col("id").as("doc_id"), posexplode(col("sig")))
        .select(col("doc_id"), col("pos").as("j"), col("col").as("sigval"))
    },
      s"""WITH d AS (SELECT doc_id, ${shinglesSql(5)} AS sh FROM documents WHERE len(text) >= 5),
         |s AS (SELECT doc_id, $sigSql AS sig FROM d)
         |SELECT doc_id, j, sig[CAST(j+1 AS INT)] AS sigval
         |FROM s, range(16) t(j)""".stripMargin),

    // Dedup: LSH band hashes (4 bands x 4 rows)
    QueryDef("q12_lsh_bands", (sp, dir) => {
      val d = table(sp, dir, "documents").where(length(col("text")) >= 5)
      Dedup.signatures(d, "text", "doc_id")
        .select(col("id").as("doc_id"), posexplode(col("bhs")))
        .select(col("doc_id"), col("pos").as("band"), col("col").as("bh"))
    },
      s"""WITH d AS (SELECT doc_id, ${shinglesSql(5)} AS sh FROM documents WHERE len(text) >= 5),
         |s AS (SELECT doc_id, $sigSql AS sig FROM d)
         |SELECT doc_id, band,
         |       list_reduce(sig[CAST(band*4+1 AS INT):CAST(band*4+4 AS INT)],
         |                   (a, b) -> (a*31 + b) % ${Dedup.P}) AS bh
         |FROM s, range(4) t(band)""".stripMargin),

    // Dedup: 3-gram Jaccard over consecutive-doc pairs
    QueryDef("q13_ngram_jaccard", (sp, dir) => {
      // shingle sets computed ONCE and materialized before the self-join —
      // ngramJaccard over raw text would re-inline the interpreted shingle
      // transform at each of its four references, and without the
      // checkpoint each join side re-evaluates it over the full corpus.
      // repartition first: documents is a single file, and the interpreted
      // transform would otherwise run on one core
      val g = table(sp, dir, "documents")
        .repartition(sp.sparkContext.defaultParallelism)
        .select(col("doc_id"), TF.shingles(col("text"), 3).as("sh"))
        .localCheckpoint(true)
      val a = g.select(col("doc_id").as("doc_a"), col("sh").as("sa"))
      val b = g.select(col("doc_id").as("doc_b"), col("sh").as("sb"))
      a.join(b, col("doc_b") === col("doc_a") + 1L)
        .select(col("doc_a"), col("doc_b"),
          round(size(array_intersect(col("sa"), col("sb"))).cast("double") /
            size(array_union(col("sa"), col("sb"))), 6).as("jaccard"))
    },
      s"""WITH g AS (SELECT doc_id, ${shinglesSql(3)} AS sh FROM documents)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       round(len(list_intersect(a.sh, b.sh))
         |             / len(list_distinct(list_concat(a.sh, b.sh))), 6) AS jaccard
         |FROM g a JOIN g b ON b.doc_id = a.doc_id + 1""".stripMargin),

    // Dedup clusters: connected components over the simhash near-dup graph
    // (hamming <= 2), one representative (min doc_id) per component. Pair
    // generation is the pigeonhole-banded equi-join (simhashNearDupPairs)
    // — bucketed, never an all-pairs broadcast — whose pair set is PROVABLY
    // identical to the all-pairs graph, so the recursive-CTE oracle (which
    // replays all-pairs, fine at oracle scale) still agrees exactly.
    QueryDef("q46_dedup_clusters", (sp, dir) => {
      // one-pass imperative simhash (bit-identical to the Column path),
      // materialized once before the banded self-join
      val sh = Dedup.simhashFast(table(sp, dir, "documents"), "text", "doc_id")
        .repartition(sp.sparkContext.defaultParallelism)
        .localCheckpoint(true)
      val pairs = Dedup.simhashNearDupPairs(sh, maxDist = 2, bands = 4)
      Dedup.connectedComponents(pairs, sh.select(col("id")))
        .select(col("id").as("doc_id"), col("rep"))
    },
      q46ClustersSql),

    // Dedup: 32-bit SimHash per document
    QueryDef("q14_simhash", (sp, dir) =>
      Dedup.simhashFast(table(sp, dir, "documents"), "text", "doc_id")
        .select(col("id").as("doc_id"), col("sh")), {
      val hsSql = s"list_transform($toksSql, t -> ('0x' || substr(md5(t),1,15))::BIGINT)"
      val bitTerms = (0 until 32).map { j =>
        s"(CASE WHEN list_sum(list_transform(hs, h -> ((h >> $j) & 1)*2 - 1)) > 0 THEN ${1L << j} ELSE 0 END)"
      }.mkString("\n  + ")
      s"""WITH t AS (SELECT doc_id, $hsSql AS hs FROM documents)
         |SELECT doc_id, CAST($bitTerms AS BIGINT) AS sh FROM t""".stripMargin
    }),

    // Dedup: end-to-end MinHash-LSH near-dup pipeline. Every stage is
    // deterministic md5-derived math, so the DuckDB oracle replays the full
    // pipeline (signatures -> band hashes -> band-collision candidates ->
    // exact hash-set Jaccard >= threshold)
    QueryDef("q17_neardup_pairs", (sp, dir) =>
      // parallelized: MinHash signatures are the map-side cost and the
      // one-row-group source hands them to a single task
      Dedup.nearDupPairs(
        graft.sources.Scans.parallelized(table(sp, dir, "documents")),
        "text", "doc_id",
        k = 16, bands = 4, shingleN = 5, threshold = 0.5), {
      // The full MinHash-LSH pipeline replayed in SQL: md5 shingle hashes ->
      // k=16 signatures -> 4 band hashes -> band-collision candidate pairs ->
      // exact hash-set Jaccard filter. The OR-join yields each colliding pair
      // once — the same SET as the first-agreeing-band dedup.
      val bandSqls = (0 until 4).map(bd =>
        s"list_reduce(sig[${bd * 4 + 1}:${bd * 4 + 4}], (a, b) -> (a*31 + b) % ${Dedup.P}) AS bh$bd")
        .mkString(",\n       ")
      s"""WITH d AS (SELECT doc_id, ${shinglesSql(5)} AS sh FROM documents),
         |d2 AS (SELECT doc_id, sh FROM d WHERE len(sh) > 0),
         |s AS (SELECT doc_id,
         |             list_distinct(list_transform(sh, sg -> ${hSql("sg")})) AS hs,
         |             $sigSql AS sig
         |      FROM d2),
         |b AS (SELECT doc_id, hs,
         |       $bandSqls
         |      FROM s),
         |p AS (SELECT a.doc_id AS id_a, b2.doc_id AS id_b,
         |             round(len(list_intersect(a.hs, b2.hs))
         |                   / len(list_distinct(list_concat(a.hs, b2.hs))), 6) AS jaccard
         |      FROM b a JOIN b b2
         |        ON a.doc_id < b2.doc_id
         |       AND (a.bh0 = b2.bh0 OR a.bh1 = b2.bh1 OR a.bh2 = b2.bh2 OR a.bh3 = b2.bh3))
         |SELECT id_a, id_b, jaccard FROM p WHERE jaccard >= 0.5""".stripMargin
    }),

    // Incremental near-dup: even doc_ids become the persisted band index
    // (the historical corpus, signatures paid once at write time), odd
    // doc_ids are the new ingestion batch probing it. Exact-Jaccard
    // verified cross pairs only — the production shape for daily-crawl
    // dedup against an accumulated corpus.
    QueryDef("q64_neardup_index", (sp, dir) => {
      val docs = table(sp, dir, "documents")
      val hist = docs.where(pmod(col("doc_id"), lit(2L)) === 0L)
      // parallelized: the probe batch's MinHash signatures are the map-side
      // cost and the one-row-group source hands them to a single task
      val fresh = graft.sources.Scans.parallelized(
        docs.where(pmod(col("doc_id"), lit(2L)) === 1L))
      // The index is built ONCE per testdata version — the production cost
      // model (history pays signatures at write time, each batch only
      // probes). The cache key is the full sanitized dir path + the source
      // parquet's latest mtime, so neither a path-hash collision nor
      // regenerated testdata can ever serve a stale index; the sidecar is
      // written after the data, so its presence implies a complete index.
      val path = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_band_index_${datasetStamp(dir)}").getPath
      if (Dedup.readIndexMeta(sp, path).isEmpty)
        Dedup.writeBandIndex(hist, "text", "doc_id", path)
      Dedup.nearDupAgainstIndex(fresh, "text", "doc_id", path, threshold = 0.5)
    },
      q64Sql),

    // Segment-level exact dedup (RefinedWeb/C4-style): segments delimited
    // by the corpus's commonest token keep only their global first
    // occurrence; docs reassemble from the survivors. First-occurrence is
    // a min-struct aggregate (map-side combining), never a rank window.
    QueryDef("q70_segment_dedup", (sp, dir) =>
      Dedup.dedupSegments(table(sp, dir, "documents"), "doc_id", "text",
          delim = " the ", joiner = " | ")
        .select(col("id").as("doc_id"), col("n_segs"), col("n_kept"),
          col("clean_text")),
      // First occurrence = rank 1 over (doc_id, idx) per segment hash —
      // the same membership as the Spark side's min-struct winner.
      """WITH t AS (SELECT doc_id, string_split_regex(text, ' the ') AS parts
        |           FROM documents),
        |u AS (SELECT doc_id, parts, unnest(range(len(parts))) AS i FROM t),
        |s AS (SELECT doc_id, CAST(i AS BIGINT) AS idx,
        |             trim(parts[CAST(i+1 AS INT)]) AS seg
        |      FROM u),
        |s2 AS (SELECT doc_id, idx, seg FROM s WHERE seg <> ''),
        |k AS (SELECT doc_id, idx, seg,
        |             row_number() OVER (PARTITION BY md5(seg)
        |                                ORDER BY doc_id, idx) AS rn
        |      FROM s2)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segs,
        |       CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |       coalesce(string_agg(CASE WHEN rn = 1 THEN seg END, ' | '
        |                           ORDER BY idx), '') AS clean_text
        |FROM k GROUP BY 1""".stripMargin),

    // BM25 retrieval: every 50th doc's first 8 tokens as a query, top-10
    // docs per query over the corpus inverted index. Postings stay put
    // (term-keyed join against a broadcast query set); scores fold
    // contributions in sorted term order — engine-exact, rounded 6 dp.
    QueryDef("q74_bm25", (sp, dir) => {
      val d = table(sp, dir, "documents")
      val q = d.where(pmod(col("doc_id"), lit(50L)) === 0L)
        .select(col("doc_id").as("qid"),
          array_join(slice(TF.tokens(lower(col("text"))), 1, 8), " ").as("qtext"))
      graft.functions.TfIdf.bm25TopK(d, "doc_id", "text", q, "qid", "qtext", 10)
    },
      bm25ReplaySql),

    // Dedup policy: MinHash near-dup clusters (q17's pair graph) keep the
    // HIGHEST-QUALITY member, ties to smallest id — "keep the best copy",
    // not "drop every collision". One cluster-keyed window shuffle.
    QueryDef("q75_cluster_canonical", (sp, dir) => {
      val d = graft.sources.Scans.parallelized(table(sp, dir, "documents"))
      val pairs = Dedup.nearDupPairs(d, "text", "doc_id",
          k = 16, bands = 4, shingleN = 5, threshold = 0.5)
        .select(col("id_a").as("a"), col("id_b").as("b"))
      val docs = d.select(col("doc_id").as("id"),
        round(TF.qualityScore(col("text")), 6).as("quality"))
      Dedup.canonicalByQuality(pairs, docs)
    }, {
      val bandSqls = (0 until 4).map(bd =>
        s"list_reduce(sig[${bd * 4 + 1}:${bd * 4 + 4}], (a, b) -> (a*31 + b) % ${Dedup.P}) AS bh$bd")
        .mkString(",\n       ")
      s"""WITH RECURSIVE
         |d AS (SELECT doc_id, ${shinglesSql(5)} AS sh FROM documents),
         |d2 AS (SELECT doc_id, sh FROM d WHERE len(sh) > 0),
         |s AS (SELECT doc_id,
         |             list_distinct(list_transform(sh, sg -> ${hSql("sg")})) AS hs,
         |             $sigSql AS sig
         |      FROM d2),
         |b AS (SELECT doc_id, hs,
         |       $bandSqls
         |      FROM s),
         |p AS (SELECT a.doc_id AS pa, b2.doc_id AS pb,
         |             round(len(list_intersect(a.hs, b2.hs))
         |                   / len(list_distinct(list_concat(a.hs, b2.hs))), 6) AS jac
         |      FROM b a JOIN b b2
         |        ON a.doc_id < b2.doc_id
         |       AND (a.bh0 = b2.bh0 OR a.bh1 = b2.bh1 OR a.bh2 = b2.bh2 OR a.bh3 = b2.bh3)),
         |e0 AS (SELECT pa, pb FROM p WHERE jac >= 0.5),
         |edges AS (SELECT pa AS a, pb AS b FROM e0
         |          UNION ALL SELECT pb, pa FROM e0),
         |reach(id, r) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id),
         |cc AS (SELECT id, CAST(min(r) AS BIGINT) AS cluster FROM reach GROUP BY 1),
         |t AS (SELECT doc_id, len(${toksSql}) AS n_tok, len(text) AS n_chars,
         |             len(regexp_replace(text, '[\\w\\s]', '', 'g')) AS n_punct
         |      FROM documents),
         |t2 AS (SELECT *, CASE WHEN n_tok > 0 THEN CAST(n_chars AS DOUBLE)/n_tok
         |                      ELSE 0.0 END AS avgtok
         |       FROM t),
         |qual AS (SELECT doc_id AS id,
         |  round(least(n_tok/100.0, 1.0)*0.4
         |      + (1.0 - least(n_punct/greatest(n_chars, 1)*5.0, 1.0))*0.3
         |      + (CASE WHEN avgtok >= 3.0 AND avgtok <= 10.0
         |              THEN 1.0 ELSE 0.0 END)*0.3, 6) AS quality
         |  FROM t2),
         |jn AS (SELECT cc.id AS doc_id, cluster, quality
         |       FROM cc JOIN qual ON cc.id = qual.id),
         |w AS (SELECT doc_id, cluster,
         |             first_value(doc_id) OVER (PARTITION BY cluster
         |               ORDER BY quality DESC, doc_id) AS canon_id,
         |             count(*) OVER (PARTITION BY cluster) AS csize
         |      FROM jn)
         |SELECT doc_id, cluster, canon_id, CAST(csize AS BIGINT) AS csize,
         |       doc_id = canon_id AS kept
         |FROM w""".stripMargin
    }),

    // BM25 through the PERSISTED term-bucketed index: the corpus pays
    // tokenize+aggregate once at write time, the probe is one broadcast
    // join against the layout. Same corpus + query set as q74, so the
    // oracle is q74's replay verbatim — probe == direct, bit for bit.
    // Built once per dataset version (Verify/Bench run every query in one
    // session); the name carries the full sanitized dir path + source
    // mtime, so path collisions and stale in-session rebuilds can't alias.
    // 32 buckets: a bucketed scan is one task per bucket, so the bucket
    // count is the probe's map parallelism floor (8 capped the 16×
    // fixture's 44 M-match probe at a quarter of the machine).
    QueryDef("q78_bm25_index", (sp, dir) => {
      val d = table(sp, dir, "documents")
      val tbl = s"graft_bm25_idx_${datasetStamp(dir)}"
      if (!sp.catalog.tableExists(tbl))
        graft.functions.TfIdf.writeBm25Index(d, "doc_id", "text", tbl, nBuckets = 32)
      val q = d.where(pmod(col("doc_id"), lit(50L)) === 0L)
        .select(col("doc_id").as("qid"),
          array_join(slice(TF.tokens(lower(col("text"))), 1, 8), " ").as("qtext"))
      graft.functions.TfIdf.bm25AgainstIndex(q, "qid", "qtext", tbl, 10)
    },
      bm25ReplaySql),

    // Exact-substring dedup metric: per doc, the fraction of token
    // positions covered by a 5-token window that occurs more than once in
    // the corpus. Gram counting is one map-side-combining aggregate;
    // coverage is the per-doc running-max interval merge.
    QueryDef("q81_dup_span_fraction", (sp, dir) =>
      Dedup.dupSpanFraction(table(sp, dir, "documents"), "doc_id", "text", 5),
      """WITH sized AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks,
        |         CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS BIGINT) AS ntok
        |  FROM documents),
        |wins0 AS (
        |  SELECT doc_id, toks,
        |         unnest(generate_series(1, CAST(ntok AS INTEGER) - 4)) AS p
        |  FROM sized WHERE ntok >= 5),
        |wins AS (
        |  SELECT doc_id, CAST(p AS BIGINT) AS p,
        |         array_to_string(toks[p : p + 4], ' ') AS gram
        |  FROM wins0),
        |dup AS (SELECT gram FROM wins GROUP BY gram HAVING count(*) > 1),
        |dw AS (SELECT w.doc_id, w.p FROM wins w
        |       WHERE w.gram IN (SELECT gram FROM dup)),
        |seg AS (
        |  SELECT doc_id, p,
        |         CASE WHEN max(p + 5) OVER (PARTITION BY doc_id ORDER BY p
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) IS NULL
        |              OR p > max(p + 5) OVER (PARTITION BY doc_id ORDER BY p
        |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |              THEN 1 ELSE 0 END AS newseg
        |  FROM dw),
        |grp AS (
        |  SELECT doc_id, p,
        |         sum(newseg) OVER (PARTITION BY doc_id ORDER BY p
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
        |  FROM seg),
        |runs AS (SELECT doc_id, g, min(p) AS s, max(p) + 5 AS e
        |         FROM grp GROUP BY doc_id, g),
        |cov AS (SELECT doc_id, CAST(sum(e - s) AS BIGINT) AS covered
        |        FROM runs GROUP BY doc_id)
        |SELECT s.doc_id, s.ntok,
        |       CAST(coalesce(c.covered, 0) AS BIGINT) AS covered,
        |       round(CASE WHEN s.ntok > 0
        |                  THEN coalesce(c.covered, 0) / CAST(s.ntok AS DOUBLE)
        |                  ELSE 0.0 END, 6) AS dup_frac
        |FROM sized s LEFT JOIN cov c USING (doc_id)""".stripMargin),

    // Asymmetric near-dup: n-gram containment in BOTH directions over the
    // q13 consecutive-pair fixture — catches doc-inside-doc inclusion that
    // symmetric Jaccard dilutes. Same materialize-once shingle discipline.
    QueryDef("q97_containment", (sp, dir) => {
      val g = table(sp, dir, "documents")
        .repartition(sp.sparkContext.defaultParallelism)
        .select(col("doc_id"), TF.shingles(col("text"), 3).as("sh"))
        .localCheckpoint(true)
      val a = g.select(col("doc_id").as("doc_a"), col("sh").as("sa"))
      val b = g.select(col("doc_id").as("doc_b"), col("sh").as("sb"))
      a.join(b, col("doc_b") === col("doc_a") + 1L)
        .select(col("doc_a"), col("doc_b"),
          round(size(array_intersect(col("sa"), col("sb"))).cast("double") /
            nullif(size(col("sa")).cast("double"), lit(0.0)), 6).as("cont_ab"),
          round(size(array_intersect(col("sa"), col("sb"))).cast("double") /
            nullif(size(col("sb")).cast("double"), lit(0.0)), 6).as("cont_ba"))
    },
      // q13's pair replay with the asymmetric denominators; NULLIF mirrors
      // the Spark-side null on shingle-less docs.
      s"""WITH g AS (SELECT doc_id, ${shinglesSql(3)} AS sh FROM documents)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |       round(len(list_intersect(a.sh, b.sh))
         |             / NULLIF(CAST(len(a.sh) AS DOUBLE), 0.0), 6) AS cont_ab,
         |       round(len(list_intersect(a.sh, b.sh))
         |             / NULLIF(CAST(len(b.sh) AS DOUBLE), 0.0), 6) AS cont_ba
         |FROM g a JOIN g b ON b.doc_id = a.doc_id + 1""".stripMargin),

    // MinHash-estimate audit: for consecutive-doc pairs, the signature
    // agreement fraction (est Jaccard, 16 slots) next to the TRUE 5-gram
    // Jaccard — the operator that tells you whether k=16 suffices for
    // your near-dup threshold before a corpus-wide run.
    QueryDef("q127_minhash_est", (sp, dir) => {
      // ONE imperative pass emits signature AND raw shingles per doc (the
      // former two-frame shape scanned the corpus twice and paid three
      // joins — est self-join, truth self-join, est ⋈ truth — to glue the
      // same adjacent pairs back together; 12 jobs → 5, values identical).
      val f = Dedup.signaturesWithShingles(
          table(sp, dir, "documents").where(length(col("text")) >= 5),
          "text", "doc_id")
        .repartition(sp.sparkContext.defaultParallelism)
        .localCheckpoint(true)
      val a = f.select(col("id").as("doc_a"), col("sig").as("siga"),
        col("sh").as("sa"))
      val b = f.select(col("id").as("doc_b"), col("sig").as("sigb"),
        col("sh").as("sb"))
      a.join(b, col("doc_b") === col("doc_a") + 1L)
        .select(col("doc_a"), col("doc_b"),
          round(size(filter(zip_with(col("siga"), col("sigb"),
            (x, y) => when(x === y, lit(1)).otherwise(lit(0))),
            v => v === 1)).cast("double") / 16.0, 6).as("est_jaccard"),
          round(size(array_intersect(col("sa"), col("sb"))).cast("double") /
            size(array_union(col("sa"), col("sb"))), 6).as("true_jaccard"))
        .select(col("doc_a"), col("doc_b"), col("est_jaccard"),
          col("true_jaccard"),
          round(col("est_jaccard") - col("true_jaccard"), 6).as("err"))
    },
      s"""WITH d AS (SELECT doc_id, ${shinglesSql(5)} AS sh FROM documents
         |           WHERE len(text) >= 5),
         |s AS (SELECT doc_id, sh, $sigSql AS sig FROM d),
         |agree AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |                 CAST(sum(CASE WHEN a.sig[CAST(j+1 AS INT)]
         |                                  = b.sig[CAST(j+1 AS INT)]
         |                          THEN 1 ELSE 0 END) AS BIGINT) AS m
         |          FROM s a JOIN s b ON b.doc_id = a.doc_id + 1,
         |               range(16) t(j)
         |          GROUP BY 1, 2),
         |tj AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |              round(len(list_intersect(a.sh, b.sh))
         |                    / len(list_distinct(list_concat(a.sh, b.sh))), 6)
         |                AS true_jaccard
         |       FROM d a JOIN d b ON b.doc_id = a.doc_id + 1)
         |SELECT agree.doc_a, agree.doc_b,
         |       round(CAST(m AS DOUBLE) / 16.0, 6) AS est_jaccard,
         |       true_jaccard,
         |       round(round(CAST(m AS DOUBLE) / 16.0, 6) - true_jaccard, 6)
         |         AS err
         |FROM agree JOIN tj ON agree.doc_a = tj.doc_a
         |                  AND agree.doc_b = tj.doc_b""".stripMargin),

    // Near-dup cluster-size histogram: the q46 component pipeline rolled
    // up to (cluster_size, n_clusters) — the dedup-savings estimate.
    QueryDef("q138_cluster_sizes", (sp, dir) => {
      val sh = Dedup.simhashFast(table(sp, dir, "documents"), "text", "doc_id")
        .repartition(sp.sparkContext.defaultParallelism)
        .localCheckpoint(true)
      val pairs = Dedup.simhashNearDupPairs(sh, maxDist = 2, bands = 4)
      Dedup.connectedComponents(pairs, sh.select(col("id")))
        .groupBy(col("rep")).agg(count(lit(1)).as("__sz"))
        .groupBy(col("__sz").as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
    },
      s"""WITH clusters AS ($q46ClustersSql),
         |sz AS (SELECT rep, count(*) AS s FROM clusters GROUP BY rep)
         |SELECT s AS cluster_size, count(*) AS n_clusters
         |FROM sz GROUP BY s""".stripMargin),

    // EXACT set-similarity self-join at token-set Jaccard >= 0.5 via
    // AllPairs/PPJoin prefix filtering — the exact counterpart whose
    // estimate q17/q127 audit: candidates from the rarest-token-first
    // prefix equi-join, exact array_intersect verify on candidates only.
    // Runs on the deterministic 10% sample: the synthetic corpus is
    // template-generated (~70% of ALL pairs exceed tau=0.5 at full SF),
    // so the full-corpus exact result is output-bound at ~9M pairs — the
    // production flow is LSH candidates (q12) -> this exact verify.
    QueryDef("q139_jaccard_join", (sp, dir) =>
      Dedup.jaccardJoin(
        table(sp, dir, "documents").where(col("doc_id") % 10 === 0),
        "doc_id", "text", 0.5),
      // Exact all-pairs replay of the prefix-filtered join: the threshold
      // gates the same unrounded IEEE division on both engines.
      s"""WITH tok AS (SELECT doc_id, unnest(list_distinct($toksSql)) AS t
         |             FROM documents WHERE doc_id % 10 = 0),
         |sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS s
         |       FROM tok GROUP BY 1),
         |pr AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |              CAST(count(*) AS BIGINT) AS inter
         |       FROM tok a JOIN tok b ON a.t = b.t AND a.doc_id < b.doc_id
         |       GROUP BY 1, 2)
         |SELECT id_a, id_b, sa.s AS size_a, sb.s AS size_b, inter,
         |       round(CAST(inter AS DOUBLE) / (sa.s + sb.s - inter), 6)
         |         AS jaccard
         |FROM pr JOIN sz sa ON id_a = sa.doc_id
         |        JOIN sz sb ON id_b = sb.doc_id
         |WHERE CAST(inter AS DOUBLE) / (sa.s + sb.s - inter) >= 0.5""".stripMargin),

    // Normalization-equivalence dedup keep-list: case/punct/whitespace
    // edit classes collapse on the canonical form's 60-bit hash.
    QueryDef("q144_norm_dedup", (sp, dir) =>
      Dedup.normalizedDedup(table(sp, dir, "documents"), "doc_id", "text"),
      // Same canonical form (DuckDB regexp_replace needs the 'g' flag to
      // match Spark's replace-all default), 60-bit md5 group id.
      """WITH n AS (SELECT doc_id AS id,
        |                  trim(regexp_replace(regexp_replace(lower(text),
        |                    '[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) AS nm
        |           FROM documents),
        |g AS (SELECT nm, CAST(count(*) AS BIGINT) AS group_n,
        |             min(id) AS mn
        |      FROM n GROUP BY 1)
        |SELECT id, ('0x' || substr(md5(nm), 1, 15))::BIGINT AS group_id,
        |       group_n, (id = mn) AS keep
        |FROM n JOIN g USING (nm)""".stripMargin),

    // Blocked fuzzy-duplicate pairs over 40-char document "titles":
    // prefix-12 blocking equi-join + exact thresholded Levenshtein verify —
    // record linkage's blocking+verify shape (the recall trade is
    // documented on the operator; FastSS q85 is the exact-recall sibling
    // at distance 1). ASCII corpus ⇒ DuckDB's byte-based levenshtein
    // agrees with Spark's code-point one.
    QueryDef("q155_fuzzy_pairs", (sp, dir) =>
      Dedup.blockedEditPairs(
        table(sp, dir, "documents")
          .select(col("doc_id"), substring(col("text"), 1, 40).as("title")),
        "doc_id", "title", maxDist = 2, prefixLen = 12),
      """WITH p AS (SELECT doc_id AS id, substr(text, 1, 40) AS s,
        |                  substr(text, 1, 12) AS blk
        |           FROM documents WHERE text IS NOT NULL)
        |SELECT a.id AS id_a, b.id AS id_b,
        |       CAST(levenshtein(a.s, b.s) AS BIGINT) AS dist
        |FROM p AS a JOIN p AS b ON a.blk = b.blk
        |WHERE a.id < b.id AND abs(length(a.s) - length(b.s)) <= 2
        |  AND levenshtein(a.s, b.s) <= 2""".stripMargin),

    // Leakage-safe split: q46's simhash near-dup clusters, split assigned
    // at the CLUSTER representative — near-duplicate documents can never
    // straddle train/val/test (the decontamination-by-construction
    // counterpart of q54's detection).
    QueryDef("q165_cluster_split", (sp, dir) => {
      val sh = Dedup.simhashFast(table(sp, dir, "documents"), "text", "doc_id")
        .repartition(sp.sparkContext.defaultParallelism)
        .localCheckpoint(true)
      val pairs = Dedup.simhashNearDupPairs(sh, maxDist = 2, bands = 4)
      val clusters = Dedup.connectedComponents(pairs, sh.select(col("id")))
      graft.functions.Sampling.splitByHash(
        clusters.select(col("id").as("doc_id"), col("rep")), "rep",
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
    },
      s"""WITH clusters AS ($q46ClustersSql),
         |b AS (SELECT doc_id, rep,
         |             (('0x' || substr(md5('split:' || CAST(rep AS VARCHAR)),1,15))::BIGINT
         |              % ${TF.HashMod}) % 1000 AS bucket
         |      FROM clusters)
         |SELECT doc_id, rep,
         |       CASE WHEN bucket < 800 THEN 'train'
         |            WHEN bucket < 900 THEN 'val'
         |            ELSE 'test' END AS split
         |FROM b""".stripMargin),

    // Entity-resolution golden record: blocking + Levenshtein verify
    // (q155's pairs) → connected components → per-cluster survivorship
    // (longest record wins, ties to smallest id) — the classic record
    // linkage pipeline end to end, every stage individually verified.
    QueryDef("q169_entity_resolution", (sp, dir) => {
      val d = table(sp, dir, "documents")
      val titles = d.select(col("doc_id"),
        substring(col("text"), 1, 40).as("title"))
      val pairs = Dedup.blockedEditPairs(titles, "doc_id", "title",
          maxDist = 2, prefixLen = 12)
        .select(col("id_a").as("a"), col("id_b").as("b"))
      Dedup.canonicalByQuality(pairs,
        d.select(col("doc_id").as("id"), col("n_chars").as("quality")))
    },
      """WITH RECURSIVE
        |p AS (SELECT doc_id AS id, substr(text, 1, 40) AS s,
        |             substr(text, 1, 12) AS blk
        |      FROM documents WHERE text IS NOT NULL),
        |e0 AS (SELECT a.id AS pa, b.id AS pb
        |       FROM p AS a JOIN p AS b ON a.blk = b.blk
        |       WHERE a.id < b.id AND abs(length(a.s) - length(b.s)) <= 2
        |         AND levenshtein(a.s, b.s) <= 2),
        |edges AS (SELECT pa AS a, pb AS b FROM e0
        |          UNION ALL SELECT pb, pa FROM e0),
        |reach(id, r) AS (
        |  SELECT doc_id, doc_id FROM documents
        |  UNION
        |  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id),
        |cc AS (SELECT id, CAST(min(r) AS BIGINT) AS cluster FROM reach GROUP BY 1),
        |jn AS (SELECT cc.id AS doc_id, cluster,
        |              CAST(d.n_chars AS BIGINT) AS quality
        |       FROM cc JOIN documents d ON cc.id = d.doc_id),
        |w AS (SELECT doc_id, cluster,
        |             first_value(doc_id) OVER (PARTITION BY cluster
        |               ORDER BY quality DESC, doc_id) AS canon_id,
        |             CAST(count(*) OVER (PARTITION BY cluster) AS BIGINT)
        |               AS csize
        |      FROM jn)
        |SELECT doc_id, cluster, canon_id, csize,
        |       doc_id = canon_id AS kept
        |FROM w""".stripMargin),

    // Split-leakage audit — q165's guarantee MEASURED: the same simhash
    // near-dup pairs that defined the clusters, joined to (a) the
    // cluster-level split and (b) a naive doc-level split. Cluster rows
    // must show zero crossing pairs; the doc rows show what naive
    // splitting leaks.
    QueryDef("q172_leakage_audit", (sp, dir) => {
      val fr = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
      val sh = Dedup.simhashFast(table(sp, dir, "documents"), "text", "doc_id")
        .repartition(sp.sparkContext.defaultParallelism)
        .localCheckpoint(true)
      // the banded pair join feeds CC and BOTH audits — materialize it
      // once (pair sets are output-bounded, tiny next to the corpus)
      val pairs = Dedup.simhashNearDupPairs(sh, maxDist = 2, bands = 4)
        .select(col("a"), col("b")).localCheckpoint(true)
      val clusters = Dedup.connectedComponents(pairs, sh.select(col("id")))
      val splits = clusters.select(col("id"),
        graft.functions.Sampling.splitAssign(col("rep"), fr).as("cl"),
        graft.functions.Sampling.splitAssign(col("id"), fr).as("doc"))
      // BOTH schemes ride ONE pair⋈splits join pass and one aggregate —
      // the per-scheme formulation joined and aggregated the same pair set
      // twice (4 joins + 2 aggregates; splits recomputed per branch).
      // Output rows identical: same counts, same rounding, same order.
      val sj = pairs
        .join(splits.select(col("id").as("a"), col("cl").as("__ca"),
          col("doc").as("__da")), "a")
        .join(splits.select(col("id").as("b"), col("cl").as("__cb"),
          col("doc").as("__db")), "b")
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("__ca") =!= col("__cb"), 1L).otherwise(0L))
            .as("__xc"),
          sum(when(col("__da") =!= col("__db"), 1L).otherwise(0L))
            .as("__xd"))
      sj.select(explode(array(
          struct(lit("cluster_split").as("scheme"), col("n_pairs"),
            col("__xc").as("n_cross")),
          struct(lit("doc_split").as("scheme"), col("n_pairs"),
            col("__xd").as("n_cross")))).as("__r"))
        .select(col("__r.scheme").as("scheme"), col("__r.n_pairs").as("n_pairs"),
          col("__r.n_cross").as("n_cross"),
          round(col("__r.n_cross").cast("double") /
            col("__r.n_pairs").cast("double"), 6).as("frac_cross"))
    }, {
      val hsSql = s"list_transform($toksSql, t -> ('0x' || substr(md5(t),1,15))::BIGINT)"
      val bitTerms = (0 until 32).map { j =>
        s"(CASE WHEN list_sum(list_transform(hs, h -> ((h >> $j) & 1)*2 - 1)) > 0 THEN ${1L << j} ELSE 0 END)"
      }.mkString("\n  + ")
      s"""WITH RECURSIVE
         |t AS (SELECT doc_id, $hsSql AS hs FROM documents),
         |sh AS (SELECT doc_id, CAST($bitTerms AS BIGINT) AS sh FROM t),
         |e0 AS (SELECT x.doc_id AS a, y.doc_id AS b
         |       FROM sh x JOIN sh y
         |         ON x.doc_id < y.doc_id AND bit_count(xor(x.sh, y.sh)) <= 2),
         |edges AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
         |reach(id, r) AS (
         |  SELECT doc_id, doc_id FROM sh
         |  UNION
         |  SELECT e.b, reach.r FROM reach JOIN edges e ON e.a = reach.id),
         |cc AS (SELECT id, CAST(min(r) AS BIGINT) AS rep FROM reach GROUP BY 1),
         |sp AS (SELECT id,
         |         CASE WHEN br < 800 THEN 'train' WHEN br < 900 THEN 'val'
         |              ELSE 'test' END AS cl,
         |         CASE WHEN bd < 800 THEN 'train' WHEN bd < 900 THEN 'val'
         |              ELSE 'test' END AS doc
         |       FROM (SELECT id,
         |               (('0x' || substr(md5('split:' || CAST(rep AS VARCHAR)),1,15))::BIGINT
         |                % ${TF.HashMod}) % 1000 AS br,
         |               (('0x' || substr(md5('split:' || CAST(id AS VARCHAR)),1,15))::BIGINT
         |                % ${TF.HashMod}) % 1000 AS bd
         |             FROM cc)),
         |j AS (SELECT sa.cl AS acl, sb.cl AS bcl, sa.doc AS adoc, sb.doc AS bdoc
         |      FROM e0 JOIN sp sa ON e0.a = sa.id JOIN sp sb ON e0.b = sb.id)
         |SELECT 'cluster_split' AS scheme, CAST(count(*) AS BIGINT) AS n_pairs,
         |       CAST(sum(CASE WHEN acl <> bcl THEN 1 ELSE 0 END) AS BIGINT) AS n_cross,
         |       round(CAST(sum(CASE WHEN acl <> bcl THEN 1 ELSE 0 END) AS DOUBLE)
         |             / CAST(count(*) AS DOUBLE), 6) AS frac_cross
         |FROM j
         |UNION ALL
         |SELECT 'doc_split', CAST(count(*) AS BIGINT),
         |       CAST(sum(CASE WHEN adoc <> bdoc THEN 1 ELSE 0 END) AS BIGINT),
         |       round(CAST(sum(CASE WHEN adoc <> bdoc THEN 1 ELSE 0 END) AS DOUBLE)
         |             / CAST(count(*) AS DOUBLE), 6)
         |FROM j""".stripMargin
    }),

    // Exact-substring dedup, the REMOVAL pass over q81's marking
    // (Lee et al., ACL '22): every token position covered by a duplicated
    // 5-gram loses its token, survivors reassemble in order; both
    // occurrences drop (the order-independent variant — keep-first needs
    // a global doc order a distributed corpus doesn't have). Fully
    // SQL-replayable: the duplicated-window set, position coverage, and
    // the rebuilt string are all exact.
    QueryDef("q183_dedup_spans", (sp, dir) =>
      Dedup.removeDupSpans(table(sp, dir, "documents"), "doc_id", "text", 5),
      // q81's duplicated-window replay through `dw`, then position coverage
      // directly (union of [p, p+5) windows == the merged-run coverage) and
      // the kept-token reassembly in position order.
      """WITH sized AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks,
        |         CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS BIGINT) AS ntok
        |  FROM documents),
        |wins0 AS (
        |  SELECT doc_id, toks,
        |         unnest(generate_series(1, CAST(ntok AS INTEGER) - 4)) AS p
        |  FROM sized WHERE ntok >= 5),
        |wins AS (
        |  SELECT doc_id, CAST(p AS BIGINT) AS p,
        |         array_to_string(toks[p : p + 4], ' ') AS gram
        |  FROM wins0),
        |dup AS (SELECT gram FROM wins GROUP BY gram HAVING count(*) > 1),
        |dw AS (SELECT w.doc_id, w.p FROM wins w
        |       WHERE w.gram IN (SELECT gram FROM dup)),
        |covpos0 AS (SELECT doc_id, p, unnest(generate_series(0, 4)) AS o FROM dw),
        |covpos AS (SELECT DISTINCT doc_id, p + o AS pos FROM covpos0),
        |pos0 AS (SELECT doc_id, toks,
        |                unnest(generate_series(1, CAST(ntok AS INTEGER))) AS pos
        |         FROM sized WHERE ntok >= 1),
        |kept AS (SELECT p0.doc_id, CAST(p0.pos AS BIGINT) AS pos,
        |                p0.toks[CAST(p0.pos AS INTEGER)] AS tok
        |         FROM pos0 p0 ANTI JOIN covpos c
        |           ON c.doc_id = p0.doc_id AND c.pos = p0.pos),
        |ka AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |              string_agg(tok, ' ' ORDER BY pos) AS clean_text
        |       FROM kept GROUP BY doc_id)
        |SELECT s.doc_id, s.ntok,
        |       CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
        |       coalesce(k.clean_text, '') AS clean_text
        |FROM sized s LEFT JOIN ka k ON k.doc_id = s.doc_id""".stripMargin),

    // Retrieval evaluation: hit@10 / MRR / nDCG@10 of the q78 BM25 index
    // probe against same-`source` relevance (the standard weak-label
    // eval) — the metric layer every retriever comparison needs, exactly
    // engine-replayable (6 dp pre-fold rounding on the DCG gains).
    QueryDef("q190_ranking_metrics", (sp, dir) => {
      val d = table(sp, dir, "documents")
      val tbl = s"graft_bm25_idx_${datasetStamp(dir)}"
      if (!sp.catalog.tableExists(tbl))
        graft.functions.TfIdf.writeBm25Index(d, "doc_id", "text", tbl, nBuckets = 32)
      val q = d.where(pmod(col("doc_id"), lit(50L)) === 0L)
        .select(col("doc_id").as("qid"),
          array_join(slice(TF.tokens(lower(col("text"))), 1, 8), " ").as("qtext"))
      val res = graft.functions.TfIdf.bm25AgainstIndex(q, "qid", "qtext", tbl, 10)
        .select(col("qid"), col("doc_id"), col("rank"))
      val qsrc = d.where(pmod(col("doc_id"), lit(50L)) === 0L)
        .select(col("doc_id").as("qid"), col("source").as("__src"))
      val truth = qsrc.join(
        d.select(col("doc_id"), col("source").as("__src")), Seq("__src"))
        .select(col("qid"), col("doc_id"))
      graft.functions.Stats.rankingMetrics(res, truth, "qid", "doc_id", "rank", 10)
    },
      q190Sql),

    // Exact-substring dedup, KEEP-ONE removal (VERDICT-r9 #3): q183's
    // marking with the canonical min-(doc_id, pos) occurrence of each
    // duplicated 5-gram surviving — the Lee et al. semantics real corpora
    // want (one copy of boilerplate stays in the training set). The
    // canonical choice is a deterministic global argmin, so the result is
    // partitioning-invariant and the oracle replays it as a row_number
    // over (doc_id, p).
    QueryDef("q202_dedup_spans_keep_one", (sp, dir) =>
      Dedup.removeDupSpansKeepOne(table(sp, dir, "documents"),
        "doc_id", "text", 5),
      """WITH sized AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks,
        |         CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS BIGINT) AS ntok
        |  FROM documents),
        |wins0 AS (
        |  SELECT doc_id, toks,
        |         unnest(generate_series(1, CAST(ntok AS INTEGER) - 4)) AS p
        |  FROM sized WHERE ntok >= 5),
        |wins AS (
        |  SELECT doc_id, CAST(p AS BIGINT) AS p,
        |         array_to_string(toks[p : p + 4], ' ') AS gram
        |  FROM wins0),
        |occ AS (SELECT doc_id, p,
        |               row_number() OVER (PARTITION BY gram
        |                                  ORDER BY doc_id, p) AS rn,
        |               count(*) OVER (PARTITION BY gram) AS c
        |        FROM wins),
        |dw AS (SELECT doc_id, p FROM occ WHERE c > 1 AND rn > 1),
        |covpos0 AS (SELECT doc_id, p, unnest(generate_series(0, 4)) AS o FROM dw),
        |covpos AS (SELECT DISTINCT doc_id, p + o AS pos FROM covpos0),
        |pos0 AS (SELECT doc_id, toks,
        |                unnest(generate_series(1, CAST(ntok AS INTEGER))) AS pos
        |         FROM sized WHERE ntok >= 1),
        |kept AS (SELECT p0.doc_id, CAST(p0.pos AS BIGINT) AS pos,
        |                p0.toks[CAST(p0.pos AS INTEGER)] AS tok
        |         FROM pos0 p0 ANTI JOIN covpos c
        |           ON c.doc_id = p0.doc_id AND c.pos = p0.pos),
        |ka AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_kept,
        |              string_agg(tok, ' ' ORDER BY pos) AS clean_text
        |       FROM kept GROUP BY doc_id)
        |SELECT s.doc_id, s.ntok,
        |       CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
        |       coalesce(k.clean_text, '') AS clean_text
        |FROM sized s LEFT JOIN ka k ON k.doc_id = s.doc_id""".stripMargin),

    // Incremental band-index maintenance (VERDICT-r9 #7): the q64 history
    // index built in TWO ingestion steps — write doc_id % 4 == 0, append
    // doc_id % 4 == 2 (the 100 TB append path: only the new batch pays
    // signatures; the history's files never rewrite) — then probed with
    // the same odd batch. Append ≡ rebuild, so the oracle is q64's SQL
    // verbatim. The `_incr_done` marker is written AFTER the append: a
    // crash between write and append leaves no marker, forcing a clean
    // rebuild instead of serving the half-merged index.
    QueryDef("q203_neardup_index_incr", (sp, dir) => {
      val docs = table(sp, dir, "documents")
      val fresh = graft.sources.Scans.parallelized(
        docs.where(pmod(col("doc_id"), lit(2L)) === 1L))
      val path = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_band_index_incr_${datasetStamp(dir)}").getPath
      val done = new java.io.File(path, "_graft_incr_done")
      if (!done.exists()) {
        val dirF = new java.io.File(path)
        if (dirF.exists()) { // half-built leftover: rebuild from scratch
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
          }
          rm(dirF)
        }
        Dedup.writeBandIndex(
          docs.where(pmod(col("doc_id"), lit(4L)) === 0L),
          "text", "doc_id", path)
        Dedup.appendToBandIndex(
          docs.where(pmod(col("doc_id"), lit(4L)) === 2L),
          "text", "doc_id", path)
        java.nio.file.Files.createFile(done.toPath)
      }
      Dedup.nearDupAgainstIndex(fresh, "text", "doc_id", path, threshold = 0.5)
    },
      q64Sql),

    // Retrieval evaluation, LABEL PATH (the 64× fix): q190's same-source
    // weak-label eval without materializing the (query × relevant-doc)
    // pair frame — a handful of shared sources made that frame grow 4096×
    // at 64× (measured 56× wall on q190). Here n_rel is a source-keyed
    // count joined to the queries and hit-marking joins only the top-k
    // result rows to the doc labels. Output ≡ q190 (oracle verbatim).
    QueryDef("q204_ranking_metrics_label", (sp, dir) => {
      val d = table(sp, dir, "documents")
      val tbl = s"graft_bm25_idx_${datasetStamp(dir)}"
      if (!sp.catalog.tableExists(tbl))
        graft.functions.TfIdf.writeBm25Index(d, "doc_id", "text", tbl, nBuckets = 32)
      val q = d.where(pmod(col("doc_id"), lit(50L)) === 0L)
        .select(col("doc_id").as("qid"),
          array_join(slice(TF.tokens(lower(col("text"))), 1, 8), " ").as("qtext"))
      val res = graft.functions.TfIdf.bm25AgainstIndex(q, "qid", "qtext", tbl, 10)
        .select(col("qid"), col("doc_id"), col("rank"))
      val qLabels = d.where(pmod(col("doc_id"), lit(50L)) === 0L)
        .select(col("doc_id").as("qid"), col("source"))
      graft.functions.Stats.rankingMetricsByLabel(res,
        qLabels, d.select(col("doc_id"), col("source")),
        "qid", "doc_id", "rank", "source", 10)
    },
      q190Sql),

    // Incremental BM25 index maintenance: the q78 index built in TWO
    // ingestion steps over the split-stats layout (postings are immutable
    // per-doc facts; per-term df and the (n, sumdl) sentinel fold
    // incrementally — history postings never re-read), probed with q78's
    // queries. Append ≡ rebuild ≡ the classic embedded-df index, so the
    // oracle is q78's full BM25 replay verbatim. Readiness is checked via
    // the stats sentinel's doc count: a crash between write and append
    // leaves n < total and forces a clean rebuild.
    QueryDef("q205_bm25_index_incr", (sp, dir) => {
      val d = table(sp, dir, "documents")
      val tbl = s"graft_bm25_incr_${datasetStamp(dir)}"
      val total = d.count()
      val ready = sp.catalog.tableExists(tbl) &&
        sp.catalog.tableExists(s"${tbl}_stats") &&
        sp.table(s"${tbl}_stats").where(col("term").isNull)
          .select("n").head().getLong(0) == total
      if (!ready) {
        graft.functions.TfIdf.writeBm25IndexIncr(
          d.where(pmod(col("doc_id"), lit(2L)) === 0L),
          "doc_id", "text", tbl, nBuckets = 32)
        graft.functions.TfIdf.appendToBm25Index(
          d.where(pmod(col("doc_id"), lit(2L)) === 1L), "doc_id", "text", tbl)
      }
      val q = d.where(pmod(col("doc_id"), lit(50L)) === 0L)
        .select(col("doc_id").as("qid"),
          array_join(slice(TF.tokens(lower(col("text"))), 1, 8), " ").as("qtext"))
      graft.functions.TfIdf.bm25AgainstIndexIncr(q, "qid", "qtext", tbl, 10)
    },
      bm25ReplaySql),

    // Band-index TOMBSTONE DELETE — the lifecycle leg after q203's append:
    // index the even docs, logically delete the %6==0 slice (takedown /
    // GDPR-erasure shape), probe with the odd docs. The probe anti-joins
    // the (broadcast, delete-batch-sized) tombstone set — the index
    // parquet is NOT rewritten — and must equal a rebuild over the
    // survivors, which is exactly what the oracle replays (q64's SQL with
    // the index side restricted to doc_id % 6 <> 0). Physical reclaim is
    // compactBandIndex, spec-pinned probe-preserving.
    QueryDef("q209_neardup_index_del", (sp, dir) => {
      val docs = table(sp, dir, "documents")
      val fresh = graft.sources.Scans.parallelized(
        docs.where(pmod(col("doc_id"), lit(2L)) === 1L))
      val path = new java.io.File(System.getProperty("java.io.tmpdir"),
        s"graft_band_index_del_${datasetStamp(dir)}").getPath
      val done = new java.io.File(path, "_graft_del_done")
      if (!done.exists()) {
        val dirF = new java.io.File(path)
        if (dirF.exists()) { // half-built leftover: rebuild from scratch
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
          }
          rm(dirF)
        }
        Dedup.writeBandIndex(
          docs.where(pmod(col("doc_id"), lit(2L)) === 0L),
          "text", "doc_id", path)
        Dedup.deleteFromBandIndex(
          docs.where(pmod(col("doc_id"), lit(6L)) === 0L).select("doc_id"),
          "doc_id", path)
        java.nio.file.Files.createFile(done.toPath)
      }
      Dedup.nearDupAgainstIndex(fresh, "text", "doc_id", path, threshold = 0.5)
    },
      q64SqlFor(" AND i.doc_id % 6 <> 0")),

    // BM25 TOMBSTONE DELETE — q205's lifecycle leg: full-corpus index,
    // then the %9==4 slice is logically deleted. Postings mask via a
    // broadcast anti-join; df / n / sumdl folded DOWN at delete time in
    // long arithmetic, so scores over the survivors rebuild BIT-EXACTLY —
    // the oracle replays BM25 over the surviving corpus (queries still
    // draw from all docs: a deleted doc may keep querying, it just stops
    // being retrievable). Readiness: survivor doc count in the stats
    // sentinel AND the tombstone table present — a crash between the
    // stats fold and the tombstone append leaves n correct but postings
    // unmasked, and must force the rebuild.
    QueryDef("q210_bm25_index_del", (sp, dir) => {
      val d = table(sp, dir, "documents")
      val tbl = s"graft_bm25_del_${datasetStamp(dir)}"
      val total = d.where(pmod(col("doc_id"), lit(9L)) =!= 4L).count()
      val ready = sp.catalog.tableExists(tbl) &&
        sp.catalog.tableExists(s"${tbl}_stats") &&
        sp.catalog.tableExists(s"${tbl}_tombstones") &&
        sp.table(s"${tbl}_stats").where(col("term").isNull)
          .select("n").head().getLong(0) == total
      if (!ready) {
        graft.functions.TfIdf.writeBm25IndexIncr(d, "doc_id", "text", tbl,
          nBuckets = 32)
        graft.functions.TfIdf.deleteFromBm25Index(
          d.where(pmod(col("doc_id"), lit(9L)) === 4L).select("doc_id"),
          "doc_id", tbl)
      }
      val q = d.where(pmod(col("doc_id"), lit(50L)) === 0L)
        .select(col("doc_id").as("qid"),
          array_join(slice(TF.tokens(lower(col("text"))), 1, 8), " ").as("qtext"))
      graft.functions.TfIdf.bm25AgainstIndexIncr(q, "qid", "qtext", tbl, 10)
    },
      bm25ReplaySqlFor("doc_id % 9 <> 4"))
  )
}
