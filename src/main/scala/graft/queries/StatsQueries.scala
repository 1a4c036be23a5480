package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.functions.{TextFunctions => TF}
import QueryFixtures._

/** Statistics and sampling queries: splits, shuffles, mixtures, budgets,
  * sketches, profiling, CDC, event analytics and exact statistical
  * tests. */
private[graft] object StatsQueries {

  val defs: Seq[QueryDef] = Seq(
    // Sampling: deterministic hash-based train/val/test split by doc key
    QueryDef("q34_split_assign", (sp, dir) =>
      graft.functions.Sampling.splitByHash(
          table(sp, dir, "documents").select("doc_id"), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"),
          graft.functions.Sampling.hashBucket(col("doc_id"), "split").as("bucket"),
          col("split")),
      s"""WITH b AS (
         |  SELECT doc_id,
         |         (('0x' || substr(md5('split:' || CAST(doc_id AS VARCHAR)),1,15))::BIGINT
         |          % ${TF.HashMod}) % 1000 AS bucket
         |  FROM documents)
         |SELECT doc_id, bucket,
         |       CASE WHEN bucket < 800 THEN 'train'
         |            WHEN bucket < 900 THEN 'val'
         |            ELSE 'test' END AS split
         |FROM b""".stripMargin),

    // Deterministic global shuffle: every document gets a contiguous
    // 0-based position in salted-hash order — the reproducible corpus
    // shuffle before sequence packing, computed with bucket offsets +
    // within-bucket ranks (never a single-task global window).
    QueryDef("q66_global_shuffle", (sp, dir) =>
      graft.functions.Sampling.globalShuffle(
        table(sp, dir, "documents").select("doc_id"), "doc_id"),
      // The global shuffle's contract IS the permutation: idx must equal the
      // dense rank of (salted hash, key) — one window replays it exactly
      s"""WITH h AS (
         |  SELECT doc_id,
         |         ('0x' || substr(md5('shuffle:' || CAST(doc_id AS VARCHAR)),1,15))::BIGINT
         |          % ${TF.HashMod} AS hkey
         |  FROM documents)
         |SELECT doc_id,
         |       CAST(row_number() OVER (ORDER BY hkey, doc_id) - 1 AS BIGINT) AS idx
         |FROM h""".stripMargin),

    // Mixture reweighting: upsample en 2.5x by repetition (epoch column
    // decorrelates the copies), keep de/es, downsample fr/zh — the
    // deterministic domain-mixture step of a training-data pipeline.
    QueryDef("q65_mixture_resample", (sp, dir) =>
      graft.functions.Sampling.resampleByWeight(
        table(sp, dir, "documents").select("doc_id", "lang"), "doc_id", "lang",
        Map("en" -> 2.5, "de" -> 1.0, "es" -> 1.0, "fr" -> 0.6, "zh" -> 0.4)),
      // Same hash Bernoulli + integer repetition as the Spark side; DuckDB's
      // range(n) unnests to BIGINT 0..n-1 = the epoch column
      s"""WITH b AS (
         |  SELECT doc_id, lang,
         |         (('0x' || substr(md5('resample:' || CAST(doc_id AS VARCHAR)),1,15))::BIGINT
         |          % ${TF.HashMod}) % 1000 AS bucket,
         |         CASE lang WHEN 'en' THEN 2.5 WHEN 'de' THEN 1.0 WHEN 'es' THEN 1.0
         |                   WHEN 'fr' THEN 0.6 WHEN 'zh' THEN 0.4 ELSE 1.0 END AS w
         |  FROM documents),
         |c AS (SELECT doc_id, lang,
         |             CAST(floor(w) AS BIGINT)
         |               + (CASE WHEN bucket < (w - floor(w)) * 1000 THEN 1 ELSE 0 END) AS n
         |      FROM b)
         |SELECT doc_id, lang, unnest(range(n)) AS epoch
         |FROM c WHERE n > 0""".stripMargin),

    // Token-budget cap: per-language, keep the prefix of the hash-shuffled
    // corpus whose running token total fits a 2k budget — the "first B
    // tokens per domain" step of assembling a training mix; bucket-offset
    // prefix sum, never a one-task global window.
    QueryDef("q67_budget_cap", (sp, dir) => {
      val d = table(sp, dir, "documents").select(col("doc_id"), col("lang"),
        TF.tokenCount(col("text")).cast("long").as("n_tok"))
      graft.functions.Sampling.capByBudget(d, "doc_id", "n_tok", 2000L,
        strataCols = Seq("lang"))
    },
      // The cap's contract IS the windowed running sum: keep rows whose
      // inclusive per-lang cumulative token count in (salted hash, key)
      // order fits the budget
      q67Sql),

    // Temperature-scaled mixture weights: the alpha-smoothed language mix
    // (alpha = 0.5) every multilingual pretraining recipe computes — one
    // corpus-count pass, then per-stratum math on a handful of rows.
    QueryDef("q69_temperature_mix", (sp, dir) =>
      graft.functions.Sampling.temperatureWeights(
        table(sp, dir, "documents").select("lang"), "lang", 0.5),
      // Both engines fold the pow terms over strata in sorted-lang order
      // from a 0.0 seed; p/weight rounded to 6 dp on both sides so pow ulp
      // differences cannot surface.
      """WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY 1),
        |a AS (SELECT list(pow(cnt, 0.5) ORDER BY lang) AS ps,
        |             CAST(sum(cnt) AS BIGINT) AS n FROM c),
        |d AS (SELECT list_reduce(list_prepend(0.0, ps), (x, y) -> x + y) AS den,
        |             n FROM a)
        |SELECT lang, cnt,
        |       round(pow(cnt, 0.5) / den, 6) AS p,
        |       round(pow(cnt, 0.5) / den * n / cnt, 6) AS weight
        |FROM c, d""".stripMargin),

    // Count-min sketch: 4x64 sketch over the corpus token stream, probed
    // with the full vocabulary — (token, exact count, CMS estimate);
    // est >= true always, overestimates mark bucket collisions. The
    // sketch shuffle is at most depth*width cells per map partition.
    QueryDef("q71_cms_counts", (sp, dir) => {
      // parallelized: the 4 md5 cell hashes per token are the map-side
      // cost, and a single-row-group file hands them to ONE task
      val toks = graft.sources.Scans.parallelized(
          table(sp, dir, "documents").select(col("text")))
        .select(explode(TF.tokens(col("text"))).as("tok"))
      val sketch = graft.functions.Sketches.cmsSketch(toks, "tok", 4, 64, "q71")
      val truth = toks.groupBy("tok").agg(count(lit(1)).as("true_cnt"))
      graft.functions.Sketches.cmsLookup(sketch, truth.select("tok"), "tok", 4, 64, "q71")
        .join(truth, "tok")
        .select(col("tok"), col("true_cnt"), col("est"))
    },
      // Full CMS replay: same salted md5 buckets, same sketch counts, same
      // min-over-rows estimate (left join: an absent cell estimates 0).
      q71Sql),

    // HyperLogLog: 2^8-register distinct-token estimate next to the exact
    // count — registers are a max aggregate (sketch-sized shuffle), the
    // estimator folds registers in order (bit-exact, oracle-replayable).
    QueryDef("q72_hll_distinct", (sp, dir) => {
      val toks = graft.sources.Scans.parallelized(
          table(sp, dir, "documents").select(col("text")))
        .select(explode(TF.tokens(col("text"))).as("tok"))
      val est = graft.functions.Sketches.hllEstimate(
        graft.functions.Sketches.hllSketch(toks, "tok", 8, "q72"), 8)
      est.crossJoin(broadcast(
        toks.agg(countDistinct(col("tok")).as("exact_distinct"))))
    },
      // Full HLL replay: 60-bit md5 hash, low-8 register, rho from the
      // binary-string bit length (exact in both engines), registers folded
      // in order from a 0.0 seed; the alpha constant is inlined from the
      // same Scala double so both engines use the identical literal.
      q72Sql),

    // Bloom-filter membership: filter built from even docs' texts (4096
    // bits, k=3), probed with every doc's text — evens always present (no
    // false negatives), odds only on text collision or designed-rate false
    // positives. The cheap "seen in history?" pre-filter for crawl dedup.
    QueryDef("q73_bloom_probe", (sp, dir) => {
      val d = table(sp, dir, "documents")
      val bits = graft.functions.Sketches.bloomBits(
        d.where(pmod(col("doc_id"), lit(2L)) === 0L), "text", 4096L, 3, "q73")
      graft.functions.Sketches.bloomProbe(bits,
        d.select(col("doc_id"), col("text")), "text", 4096L, 3, "q73")
        .select(col("doc_id"), col("present"))
    }, {
      val bloomH = (v: String) =>
        s"(${hSql(s"'bloom:q73:' || CAST(i AS VARCHAR) || ':' || $v")}) % 4096"
      s"""WITH bits AS (SELECT DISTINCT ${bloomH("text")} AS pos
         |              FROM documents, range(3) t(i) WHERE doc_id % 2 = 0),
         |probe AS (SELECT doc_id, ${bloomH("text")} AS pos
         |          FROM documents, range(3) t(i))
         |SELECT p.doc_id, min(b.pos IS NOT NULL) AS present
         |FROM probe p LEFT JOIN bits b ON p.pos = b.pos GROUP BY 1""".stripMargin
    }),

    // Fixed-size stratified take: exactly 20 docs per language by salted-
    // hash order — the deterministic eval-set quota. WindowGroupLimit keeps
    // the per-stratum shuffle bounded at n rows per map partition.
    QueryDef("q76_stratified_take", (sp, dir) =>
      graft.functions.Sampling.takeNPerStratum(
        table(sp, dir, "documents").select(col("doc_id"), col("lang")),
        "doc_id", "lang", 20),
      s"""WITH h AS (SELECT doc_id, lang,
         |             ${hSql("'taken:' || CAST(doc_id AS VARCHAR)")} AS hv
         |           FROM documents),
         |r AS (SELECT doc_id, lang,
         |             row_number() OVER (PARTITION BY lang
         |                                ORDER BY hv, doc_id) AS rank
         |      FROM h)
         |SELECT doc_id, lang, CAST(rank AS BIGINT) AS rank
         |FROM r WHERE rank <= 20""".stripMargin),

    // Exact 1/30-share heavy hitters via the sketch-gated two-pass plan:
    // CMS nominates (complete by est >= true), the exact pass counts only
    // candidate rows and re-applies the threshold. Oracle is the plain
    // exact HAVING — the sketch shapes the plan, never the answer.
    QueryDef("q77_heavy_hitters", (sp, dir) => {
      val toks = graft.sources.Scans.parallelized(
          table(sp, dir, "documents").select(col("text")))
        .select(explode(TF.tokens(col("text"))).as("tok"))
      graft.functions.Sketches.heavyHittersByShare(toks, "tok", 30L, 4, 64, "q77")
    },
      s"""WITH t AS (SELECT unnest($toksSql) AS tok FROM documents),
         |thr AS (SELECT count(*) // 30 AS mc FROM t)
         |SELECT tok, CAST(count(*) AS BIGINT) AS cnt
         |FROM t, thr GROUP BY tok, mc HAVING count(*) >= mc""".stripMargin),

    // Weighted sampling WITHOUT replacement: 15 docs per language, win
    // probability ∝ doc length — the A-ES exponential race over the salted
    // hash, fully SQL-replayable (race times rounded 6 dp, ties by id).
    QueryDef("q79_weighted_take", (sp, dir) => {
      val d = table(sp, dir, "documents").select(col("doc_id"), col("lang"),
        greatest(col("n_chars"), lit(1L)).as("w"))
      graft.functions.Sampling.weightedTakeN(d, "doc_id", "w", "lang", 15, salt = "q79")
    },
      s"""WITH w AS (
         |  SELECT doc_id, lang, greatest(n_chars, 1) AS w,
         |         round(-ln(((${hSql("'q79:' || CAST(doc_id AS VARCHAR)")}) + 1)
         |                   / ${TF.HashMod + 1L}.0)
         |               / greatest(n_chars, 1), 6) AS race
         |  FROM documents),
         |r AS (SELECT doc_id, lang, w,
         |             CAST(row_number() OVER (PARTITION BY lang
         |                                     ORDER BY race, doc_id) AS BIGINT) AS rank
         |      FROM w)
         |SELECT doc_id, lang, w, rank FROM r WHERE rank <= 15""".stripMargin),

    // Data profiling: per-column health summary of the documents table in
    // ONE aggregate pass (rows/nulls/exact distinct/min/max-as-string) —
    // the schema-drift and null-regression gate of a production ingest.
    QueryDef("q86_profile", (sp, dir) =>
      graft.functions.Profiling.profile(table(sp, dir, "documents"),
        Seq("doc_id", "lang", "source", "n_chars")),
      Seq("doc_id", "lang", "source", "n_chars").map(c =>
        s"""SELECT '$c' AS "column", count(*) AS n_rows,
           |       count(*) - count($c) AS n_nulls,
           |       count(DISTINCT $c) AS n_distinct,
           |       CAST(min($c) AS VARCHAR) AS min_str,
           |       CAST(max($c) AS VARCHAR) AS max_str
           |FROM documents""".stripMargin).mkString("\nUNION ALL\n")),

    // Snapshot diff (dataset-versioning CDC): v2 is v1 with hash-selected
    // deterministic mutations — drops (doc_id % 97 == 0), text edits
    // (hash % 7 == 0), and synthetic additions (doc_id % 101 == 0,
    // re-keyed +10^6). The diff must recover exactly those deltas.
    QueryDef("q88_snapshot_diff", (sp, dir) => {
      val v1 = table(sp, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      val kept = v1.where(pmod(col("doc_id"), lit(97L)) =!= 0L)
        .withColumn("text",
          when(TF.tokenHashMod(col("text")) % 7 === 0,
            concat(col("text"), lit(" [v2]"))).otherwise(col("text")))
      val added = v1.where(pmod(col("doc_id"), lit(101L)) === 0L)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"), col("lang"))
      val v2 = kept.unionByName(added)
      graft.functions.Profiling.diffSnapshots(v1, v2, "doc_id", Seq("text", "lang"))
    },
      s"""WITH v1 AS (SELECT doc_id, text, lang FROM documents),
        |kept AS (
        |  SELECT doc_id,
        |         CASE WHEN ${hSql("text")} % 7 = 0
        |              THEN text || ' [v2]' ELSE text END AS text,
        |         lang
        |  FROM v1 WHERE doc_id % 97 <> 0),
        |added AS (SELECT doc_id + 1000000 AS doc_id, text, lang
        |          FROM v1 WHERE doc_id % 101 = 0),
        |v2 AS (SELECT * FROM kept UNION ALL SELECT * FROM added),
        |j AS (
        |  SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
        |         CASE WHEN a.doc_id IS NULL THEN 'added'
        |              WHEN b.doc_id IS NULL THEN 'removed'
        |              WHEN a.text IS DISTINCT FROM b.text
        |                OR a.lang IS DISTINCT FROM b.lang THEN 'changed'
        |         END AS status
        |  FROM v1 a FULL JOIN v2 b ON a.doc_id = b.doc_id)
        |SELECT doc_id, status FROM j WHERE status IS NOT NULL""".stripMargin),

    // Deterministic negative sampling for contrastive pairs: each doc
    // pairs with the docs at offsets {1, 7} after it on the global
    // hash-shuffle ring — uniform-random in content space, reproducible,
    // and scale-safe (the shuffle index is the bucket-offset prefix sum;
    // pairing is one self-equi-join on the ring position per offset).
    QueryDef("q90_negative_pairs", (sp, dir) => {
      val d = table(sp, dir, "documents").select(col("doc_id"))
      val idx = graft.functions.Sampling.globalShuffle(d, "doc_id", salt = "q90")
      val withN = idx.crossJoin(broadcast(idx.agg((max("idx") + 1L).as("__n"))))
      val targets = idx.select(col("doc_id").as("neg_id"), col("idx").as("__tidx"))
      val offs = Seq(1L, 7L)
      offs.map { off =>
        withN.select(col("doc_id"), lit(off).as("off"),
            pmod(col("idx") + off, col("__n")).as("__tidx"))
          .join(targets, "__tidx")
          .select(col("doc_id"), col("off"), col("neg_id"))
      }.reduce(_ unionByName _)
        .where(col("doc_id") =!= col("neg_id"))
    },
      s"""WITH h AS (
        |  SELECT doc_id,
        |         ('0x' || substr(md5('q90:' || CAST(doc_id AS VARCHAR)),1,15))::BIGINT
        |          % ${TF.HashMod} AS hkey
        |  FROM documents),
        |r AS (SELECT doc_id,
        |             CAST(row_number() OVER (ORDER BY hkey, doc_id) - 1 AS BIGINT) AS idx
        |      FROM h),
        |n AS (SELECT max(idx) + 1 AS n FROM r),
        |p AS (
        |  SELECT a.doc_id, o.off, b.doc_id AS neg_id
        |  FROM r a, n, unnest([CAST(1 AS BIGINT), CAST(7 AS BIGINT)]) AS o(off),
        |       r b
        |  WHERE b.idx = (a.idx + o.off) % n.n)
        |SELECT doc_id, off, neg_id FROM p WHERE doc_id <> neg_id""".stripMargin),

    // SCD Type-2 build from the events table as an append-only change log:
    // per user, event_type runs become half-open validity intervals;
    // consecutive repeats collapse. Exact integer-ns endpoints.
    QueryDef("q92_scd2", (sp, dir) => {
      val ev = table(sp, dir, "events").select(col("user_id"), col("event_id"),
        col("event_type"),
        expr("unix_micros(cast(ts as timestamp)) * 1000").as("t"))
      graft.functions.Profiling.scd2(ev, "user_id",
        Seq("t", "event_id"), Seq("event_type"))
    },
      """WITH ev AS (SELECT user_id, event_id, event_type, epoch_ns(ts) AS t
        |            FROM events),
        |l AS (SELECT user_id, event_id, event_type, t,
        |             lag(event_type) OVER w AS prev,
        |             row_number() OVER w AS rn
        |      FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
        |p AS (SELECT user_id, event_id, event_type, t FROM l
        |      WHERE rn = 1 OR event_type IS DISTINCT FROM prev)
        |SELECT user_id, event_type, t AS valid_from,
        |       lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id) AS valid_to,
        |       lead(t) OVER (PARTITION BY user_id ORDER BY t, event_id) IS NULL
        |         AS is_current
        |FROM p""".stripMargin),

    // Ordered first-touch funnel view -> click -> purchase per user:
    // stage aggregates and key-sized joins only, the event stream is never
    // self-joined at event granularity.
    QueryDef("q103_funnel", (sp, dir) => {
      val e = table(sp, dir, "events").select(col("user_id"), col("event_type"),
        expr("unix_micros(cast(ts as timestamp)) * 1000").as("t"))
      graft.functions.EventOps.funnel(e, Seq("user_id"), "event_type", "t",
        Seq("view", "click", "purchase"))
    },
      // First-touch stage mins chained on strictly-later times, left joins
      // preserve partial funnels.
      """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS t FROM events),
        |v AS (SELECT user_id, min(t) AS t_view FROM e
        |      WHERE event_type = 'view' GROUP BY 1),
        |c AS (SELECT e.user_id, min(e.t) AS t_click
        |      FROM e JOIN v USING (user_id)
        |      WHERE e.event_type = 'click' AND e.t > v.t_view GROUP BY 1),
        |p AS (SELECT e.user_id, min(e.t) AS t_purchase
        |      FROM e JOIN c USING (user_id)
        |      WHERE e.event_type = 'purchase' AND e.t > c.t_click GROUP BY 1)
        |SELECT v.user_id, v.t_view, c.t_click, p.t_purchase
        |FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)""".stripMargin),

    // Deterministic Pearson correlation per event type: decimal-exact
    // moment sums, closed form in double only at the very end (built-in
    // corr's double merge order is not reproducible across runs/engines).
    QueryDef("q108_exact_corr", (sp, dir) => {
      val e = table(sp, dir, "events").select(col("event_type"),
        floor(col("value") * 1000).cast("long").as("x"),
        get_json_object(col("props"), "$.k").cast("long").as("y"))
        .where(col("y").isNotNull)
      graft.functions.Profiling.exactCorr(e, Seq("event_type"), "x", "y")
    },
      // HUGEINT moment sums, identical closed form; sqrt is IEEE-exact so no
      // rounding guard is needed beyond the final 6 dp.
      """WITH e AS (SELECT event_type,
        |                  CAST(CAST(floor(value * 1000) AS BIGINT) AS HUGEINT) AS x,
        |                  CAST(CAST(json_extract(props, '$.k') AS BIGINT) AS HUGEINT) AS y
        |           FROM events
        |           WHERE CAST(json_extract(props, '$.k') AS BIGINT) IS NOT NULL),
        |g AS (SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
        |             sum(x) AS sx, sum(y) AS sy, sum(x*y) AS sxy,
        |             sum(x*x) AS sxx, sum(y*y) AS syy
        |      FROM e GROUP BY 1)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |       CASE WHEN CAST(n*sxx - sx*sx AS DOUBLE) > 0.0
        |             AND CAST(n*syy - sy*sy AS DOUBLE) > 0.0
        |            THEN round(CAST(n*sxy - sx*sy AS DOUBLE)
        |                       / (sqrt(CAST(n*sxx - sx*sx AS DOUBLE))
        |                          * sqrt(CAST(n*syy - sy*sy AS DOUBLE))), 6)
        |       END AS corr
        |FROM g""".stripMargin),

    // CDC WRITE half: apply q88's delta shapes (deletes %97, text upserts
    // by token hash %7, inserts %101 re-keyed +1e6) to the base snapshot —
    // the result must equal q88's v2 exactly.
    QueryDef("q109_apply_changes", (sp, dir) => {
      val v1 = table(sp, dir, "documents")
        .select(col("doc_id"), col("text"), col("lang"))
      val deletes = v1.where(pmod(col("doc_id"), lit(97L)) === 0L)
        .withColumn("op", lit("delete"))
      val edits = v1.where(pmod(col("doc_id"), lit(97L)) =!= 0L &&
          TF.tokenHashMod(col("text")) % 7 === 0)
        .withColumn("text", concat(col("text"), lit(" [v2]")))
        .withColumn("op", lit("upsert"))
      val adds = v1.where(pmod(col("doc_id"), lit(101L)) === 0L)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"),
          col("lang"))
        .withColumn("op", lit("upsert"))
      graft.functions.Profiling.applyDelta(v1,
        deletes.unionByName(edits).unionByName(adds), "doc_id", "op")
    },
      s"""WITH v1 AS (SELECT doc_id, text, lang FROM documents),
        |kept AS (
        |  SELECT doc_id,
        |         CASE WHEN ${hSql("text")} % 7 = 0
        |              THEN text || ' [v2]' ELSE text END AS text,
        |         lang
        |  FROM v1 WHERE doc_id % 97 <> 0),
        |added AS (SELECT doc_id + 1000000 AS doc_id, text, lang
        |          FROM v1 WHERE doc_id % 101 = 0)
        |SELECT * FROM kept UNION ALL SELECT * FROM added""".stripMargin),

    // User journey paths: the ordered event-type sequence (first 10) per
    // user — one key-keyed aggregate; the sort happens inside the per-key
    // collected array, never as a global sort.
    QueryDef("q112_user_paths", (sp, dir) => {
      val e = table(sp, dir, "events").select(col("user_id"),
        expr("unix_micros(cast(ts as timestamp)) * 1000").as("t"),
        col("event_id"), col("event_type"))
      e.groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sort_array(collect_list(struct(col("t"), col("event_id"),
            col("event_type")))).as("__xs"))
        .select(col("user_id"), col("n_events"),
          concat_ws(">", transform(slice(col("__xs"), 1, 10),
            x => x.getField("event_type"))).as("path"))
    },
      """WITH e AS (SELECT user_id, epoch_ns(ts) AS t, event_id, event_type
        |           FROM events)
        |SELECT user_id, count(*) AS n_events,
        |       array_to_string(list(event_type ORDER BY t, event_id)[1:10], '>')
        |         AS path
        |FROM e GROUP BY user_id""".stripMargin),

    // First-order Markov transition matrix over the per-user event stream:
    // lag pairs -> (from, to) counts -> row-normalized probabilities
    // (exact long counts; the one division is deterministic).
    QueryDef("q113_transitions", (sp, dir) => {
      val e = table(sp, dir, "events").select(col("user_id"),
        expr("unix_micros(cast(ts as timestamp)) * 1000").as("t"),
        col("event_id"), col("event_type"))
      val w = Window.partitionBy("user_id").orderBy("t", "event_id")
      val pairs = e.select(col("event_type").as("to_type"),
          lag(col("event_type"), 1).over(w).as("from_type"))
        .where(col("from_type").isNotNull)
        .groupBy("from_type", "to_type").agg(count(lit(1)).as("n"))
      val tot = pairs.groupBy("from_type").agg(sum("n").as("__tot"))
      pairs.join(tot, "from_type")
        .select(col("from_type"), col("to_type"), col("n"),
          round(col("n") / col("__tot"), 6).as("p"))
    },
      """WITH e AS (SELECT user_id, epoch_ns(ts) AS t, event_id, event_type
        |           FROM events),
        |l AS (SELECT event_type AS to_type,
        |             lag(event_type) OVER (PARTITION BY user_id
        |                                   ORDER BY t, event_id) AS from_type
        |      FROM e),
        |c AS (SELECT from_type, to_type, count(*) AS n FROM l
        |      WHERE from_type IS NOT NULL GROUP BY 1, 2),
        |t AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS tot FROM c GROUP BY 1)
        |SELECT c.from_type, c.to_type, c.n, round(c.n / t.tot, 6) AS p
        |FROM c JOIN t USING (from_type)""".stripMargin),

    // Top event type per tumbling hour by count — per-window rank on the
    // unique (count desc, type) ordering, rank computed after the counts
    // collapse (window-count-sized, not event-sized).
    QueryDef("q114_window_topk", (sp, dir) => {
      val e = table(sp, dir, "events").select(
        expr("unix_micros(cast(ts as timestamp)) * 1000 div 3600000000000")
          .as("hw"), col("event_type"))
      val counts = e.groupBy("hw", "event_type").agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("hw").orderBy(col("n").desc, col("event_type"))
      counts.select(col("hw"), col("event_type"), col("n"),
          row_number().over(w).as("__rn"))
        .where(col("__rn") === 1).drop("__rn")
    },
      """WITH e AS (SELECT epoch_ns(ts) // 3600000000000 AS hw, event_type
        |           FROM events),
        |c AS (SELECT hw, event_type, count(*) AS n FROM e GROUP BY 1, 2),
        |r AS (SELECT hw, event_type, n,
        |             row_number() OVER (PARTITION BY hw
        |                                ORDER BY n DESC, event_type) AS rn
        |      FROM c)
        |SELECT hw, event_type, n FROM r WHERE rn = 1""".stripMargin),

    // Weekly active/retained cohorts: epoch-aligned integer week ids,
    // distinct (user, week) frames joined on week+1 — count arithmetic
    // only, the event stream collapses to user-week before any join.
    QueryDef("q111_retention", (sp, dir) => {
      val e = table(sp, dir, "events")
        .select(col("user_id"),
          expr("unix_micros(cast(ts as timestamp)) * 1000 div 604800000000000")
            .as("week"))
        .distinct()
      val act = e.groupBy("week").agg(count(lit(1)).as("n_active"))
      val ret = e.as("a").join(e.as("b"),
          col("a.user_id") === col("b.user_id") &&
            col("b.week") === col("a.week") + 1L)
        .groupBy(col("a.week").as("week"))
        .agg(count(lit(1)).as("n_ret"))
      act.join(ret, Seq("week"), "left")
        .select(col("week"), col("n_active"),
          coalesce(col("n_ret"), lit(0L)).as("n_retained"))
    },
      """WITH uw AS (SELECT DISTINCT user_id,
        |                   epoch_ns(ts) // 604800000000000 AS week
        |            FROM events),
        |act AS (SELECT week, count(*) AS n_active FROM uw GROUP BY 1),
        |ret AS (SELECT a.week, count(*) AS n_ret
        |        FROM uw a JOIN uw b
        |          ON a.user_id = b.user_id AND b.week = a.week + 1
        |        GROUP BY 1)
        |SELECT act.week, act.n_active,
        |       coalesce(ret.n_ret, 0) AS n_retained
        |FROM act LEFT JOIN ret USING (week)""".stripMargin),

    // Data-quality expectation suite: five row rules + one uniqueness rule
    // over documents, ONE aggregate over ONE scan. Two rules are planted to
    // fail (len>=100, latin-only langs) so both outcomes are exercised.
    QueryDef("q96_expectations", (sp, dir) =>
      graft.functions.Profiling.expectations(table(sp, dir, "documents"),
        Seq(
          "doc_id_not_null" -> col("doc_id").isNotNull,
          "text_min_100" -> (length(col("text")) >= 100),
          "lang_allowed" -> col("lang").isin("en", "de", "fr", "es", "zh"),
          "lang_latin_only" -> col("lang").isin("en", "de", "fr", "es"),
          "n_chars_consistent" -> (col("n_chars") === length(col("text")))),
        Seq("doc_id_unique" -> Seq("doc_id"))),
      // One UNION ALL branch per rule; HUGEINT sums pinned to BIGINT.
      """SELECT 'doc_id_not_null' AS rule, count(*) AS n_rows,
        |       CAST(sum(CASE WHEN doc_id IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT)
        |         AS violations,
        |       CAST(sum(CASE WHEN doc_id IS NOT NULL THEN 0 ELSE 1 END) AS BIGINT) = 0
        |         AS passed
        |FROM documents
        |UNION ALL
        |SELECT 'text_min_100', count(*),
        |       CAST(sum(CASE WHEN len(text) >= 100 THEN 0 ELSE 1 END) AS BIGINT),
        |       CAST(sum(CASE WHEN len(text) >= 100 THEN 0 ELSE 1 END) AS BIGINT) = 0
        |FROM documents
        |UNION ALL
        |SELECT 'lang_allowed', count(*),
        |       CAST(sum(CASE WHEN lang IN ('en','de','fr','es','zh') THEN 0 ELSE 1 END) AS BIGINT),
        |       CAST(sum(CASE WHEN lang IN ('en','de','fr','es','zh') THEN 0 ELSE 1 END) AS BIGINT) = 0
        |FROM documents
        |UNION ALL
        |SELECT 'lang_latin_only', count(*),
        |       CAST(sum(CASE WHEN lang IN ('en','de','fr','es') THEN 0 ELSE 1 END) AS BIGINT),
        |       CAST(sum(CASE WHEN lang IN ('en','de','fr','es') THEN 0 ELSE 1 END) AS BIGINT) = 0
        |FROM documents
        |UNION ALL
        |SELECT 'n_chars_consistent', count(*),
        |       CAST(sum(CASE WHEN n_chars = len(text) THEN 0 ELSE 1 END) AS BIGINT),
        |       CAST(sum(CASE WHEN n_chars = len(text) THEN 0 ELSE 1 END) AS BIGINT) = 0
        |FROM documents
        |UNION ALL
        |SELECT 'doc_id_unique', count(*),
        |       CAST(count(*) - count(DISTINCT doc_id) AS BIGINT),
        |       CAST(count(*) - count(DISTINCT doc_id) AS BIGINT) = 0
        |FROM documents""".stripMargin),

    // Deterministic EWMA (alpha = 1/2) of each user's value sequence:
    // power-of-two weights so every term is exact IEEE arithmetic, summed
    // as floor(term·1e6) fixed-point longs (order-exact under any
    // partitioning). ONE key shuffle.
    QueryDef("q122_ewma", (sp, dir) => {
      val e = table(sp, dir, "events").select(col("user_id"),
        expr("unix_micros(cast(ts as timestamp)) * 1000").as("t"),
        col("event_id"), col("value"))
      graft.functions.EventOps.ewma(e, Seq("user_id"), "t", "value", "event_id")
    },
      """WITH e AS (SELECT user_id, epoch_ns(ts) AS t, event_id, value
        |           FROM events),
        |r AS (SELECT user_id, value,
        |             row_number() OVER (PARTITION BY user_id
        |                                ORDER BY t, event_id) AS i,
        |             count(*) OVER (PARTITION BY user_id) AS n
        |      FROM e),
        |f AS (SELECT user_id,
        |             CAST(floor((CASE WHEN i = 1
        |                   THEN value * pow(2.0, -least(1*(n-i), 400))
        |                   ELSE value * CAST(0.5 AS DOUBLE)
        |                        * pow(2.0, -least(1*(n-i), 400)) END)
        |                  * 1000000.0) AS BIGINT) AS fp
        |      FROM r)
        |SELECT user_id, count(*) AS n_events,
        |       CAST(CAST(sum(fp) AS BIGINT) AS DOUBLE) / 1000000.0 AS ewma
        |FROM f GROUP BY user_id""".stripMargin),

    // Robust per-type outliers via exact median/MAD: |z| > 3 under
    // z = (v - med) / (1.4826·MAD), med/MAD rounded 6 dp (q89 discipline),
    // z rounded 4 dp before the cut.
    QueryDef("q123_mad_outliers", (sp, dir) =>
      graft.functions.Profiling.robustOutliers(
        table(sp, dir, "events").select(col("event_id"), col("event_type"),
          col("value")),
        Seq("event_type"), "value")
        .select(col("event_id"), col("event_type"), col("value"), col("z")),
      // Exact median/MAD robust z replay (quantile_cont = Spark's
      // interpolated percentile; both rounded 6 dp before use).
      """WITH med AS (SELECT event_type,
        |                    round(quantile_cont(value, 0.5), 6) AS med
        |             FROM events GROUP BY 1),
        |mad AS (SELECT e.event_type,
        |               round(quantile_cont(abs(e.value - m.med), 0.5), 6) AS mad
        |        FROM events e JOIN med m USING (event_type) GROUP BY 1),
        |z AS (SELECT e.event_id, e.event_type, e.value,
        |             round((e.value - m.med)
        |                   / (CAST(1.4826 AS DOUBLE) * d.mad), 4) AS z
        |      FROM events e JOIN med m USING (event_type)
        |      JOIN mad d ON e.event_type = d.event_type AND d.mad > 0)
        |SELECT event_id, event_type, value, z FROM z
        |WHERE abs(z) > 3.0""".stripMargin),

    // Corpus composition by source: doc/token totals, fixed-point mean
    // quality, token share of the blend — the mix dashboard row.
    QueryDef("q129_source_mix", (sp, dir) => {
      val d = table(sp, dir, "documents").select(col("source"),
        TF.tokenCount(col("text")).cast("long").as("__tok"),
        floor(TF.qualityScore(col("text")) * 1e6).cast("long").as("__q6"))
      val per = d.groupBy("source").agg(count(lit(1)).as("n_docs"),
        sum("__tok").as("tot_tokens"), sum("__q6").as("__qsum"))
      val tot = per.agg(sum("tot_tokens").as("__T"))
      per.crossJoin(broadcast(tot))
        .select(col("source"), col("n_docs"), col("tot_tokens"),
          round(col("__qsum").cast("double") / 1e6 / col("n_docs"), 6)
            .as("mean_quality"),
          round(col("tot_tokens") / col("__T"), 6).as("token_share"))
    },
      s"""WITH t AS (
         |  SELECT source,
         |         len($toksSql) AS n_tok,
         |         len(text) AS n_chars,
         |         len(regexp_replace(text, '[\\w\\s]', '', 'g')) AS n_punct
         |  FROM documents),
         |t2 AS (SELECT *,
         |         CASE WHEN n_tok > 0 THEN CAST(n_chars AS DOUBLE)/n_tok
         |              ELSE 0.0 END AS avgtok
         |       FROM t),
         |d AS (SELECT source, CAST(n_tok AS BIGINT) AS tok,
         |        CAST(floor(round(least(n_tok/100.0, 1.0)*0.4
         |            + (1.0 - least(n_punct/greatest(n_chars, 1)*5.0, 1.0))*0.3
         |            + (CASE WHEN avgtok >= 3.0 AND avgtok <= 10.0
         |                    THEN 1.0 ELSE 0.0 END)*0.3, 6) * 1000000.0)
         |          AS BIGINT) AS q6
         |      FROM t2),
         |per AS (SELECT source, count(*) AS n_docs,
         |               CAST(sum(tok) AS BIGINT) AS tot_tokens,
         |               CAST(sum(q6) AS BIGINT) AS qsum
         |        FROM d GROUP BY source),
         |tot AS (SELECT CAST(sum(tot_tokens) AS BIGINT) AS T FROM per)
         |SELECT source, n_docs, tot_tokens,
         |       round(CAST(qsum AS DOUBLE) / 1000000.0 / n_docs, 6)
         |         AS mean_quality,
         |       round(tot_tokens / tot.T, 6) AS token_share
         |FROM per, tot""".stripMargin),

    // Exact two-sample KS statistic between click and view value
    // distributions — integer cross-multiplied CDFs, bucket-offset
    // running sums (never a one-task global window over the data).
    QueryDef("q130_ks_test", (sp, dir) =>
      graft.functions.Profiling.ksTest(table(sp, dir, "events"),
        "event_type", "value", "click", "view"),
      """WITH p AS (SELECT value AS v,
        |                  CASE WHEN event_type = 'click' THEN 1 ELSE 0 END AS a,
        |                  CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS b
        |           FROM events WHERE event_type IN ('click', 'view')),
        |g AS (SELECT v, CAST(sum(a) AS BIGINT) AS ca,
        |             CAST(sum(b) AS BIGINT) AS cb
        |      FROM p GROUP BY v),
        |c AS (SELECT v, CAST(sum(ca) OVER (ORDER BY v) AS BIGINT) AS ra,
        |             CAST(sum(cb) OVER (ORDER BY v) AS BIGINT) AS rb
        |      FROM g),
        |n AS (SELECT CAST(sum(a) AS BIGINT) AS n_a,
        |             CAST(sum(b) AS BIGINT) AS n_b FROM p)
        |SELECT n_a, n_b,
        |       CAST(max(abs(ra * n_b - rb * n_a)) AS BIGINT) AS d_num,
        |       round(CAST(max(abs(ra * n_b - rb * n_a)) AS BIGINT)
        |             / (n_a * n_b), 6) AS ks
        |FROM c, n GROUP BY n_a, n_b""".stripMargin),

    // Pairwise association rules (support/confidence/lift) over the
    // distinct (user, event_type) baskets.
    QueryDef("q131_assoc_rules", (sp, dir) =>
      graft.functions.EventOps.associationPairs(table(sp, dir, "events"),
        "user_id", "event_type"),
      """WITH bi AS (SELECT DISTINCT user_id, event_type FROM events),
        |nb AS (SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS nb FROM bi),
        |ic AS (SELECT event_type, count(*) AS ni FROM bi GROUP BY 1),
        |pr AS (SELECT l.event_type AS x, r.event_type AS y,
        |              count(*) AS n_xy
        |       FROM bi l JOIN bi r
        |         ON l.user_id = r.user_id AND l.event_type < r.event_type
        |       GROUP BY 1, 2)
        |SELECT x, y, ix.ni AS n_x, iy.ni AS n_y, n_xy,
        |       round(n_xy / nb.nb, 6) AS support,
        |       round(n_xy / ix.ni, 6) AS confidence,
        |       round((n_xy * nb.nb) / (ix.ni * iy.ni), 6) AS lift
        |FROM pr JOIN ic ix ON pr.x = ix.event_type
        |JOIN ic iy ON pr.y = iy.event_type, nb""".stripMargin),

    // Kaplan-Meier signup->purchase survival with right-censoring at the
    // corpus horizon: log-space product, rounded factors, explicit zero
    // from any d==n time on.
    QueryDef("q134_survival", (sp, dir) => {
      val e = table(sp, dir, "events").select(col("user_id"), col("event_type"),
        expr("unix_micros(cast(ts as timestamp)) * 1000").as("t"))
      val s0 = e.where(col("event_type") === "signup")
        .groupBy("user_id").agg(min("t").as("__ts0"))
      val p0 = e.where(col("event_type") === "purchase")
        .groupBy("user_id").agg(min("t").as("__tp"))
      val mx = e.agg(max("t").as("__tmax"))
      val observed = col("__tp").isNotNull && col("__tp") >= col("__ts0")
      val durs = s0.join(p0, Seq("user_id"), "left").crossJoin(broadcast(mx))
        .select(
          when(observed, col("__tp") - col("__ts0"))
            .otherwise(col("__tmax") - col("__ts0")).as("__durns"),
          when(observed, 1L).otherwise(0L).as("event"))
        .select(expr("__durns div 86400000000000").as("dur_days"), col("event"))
      graft.functions.EventOps.survivalCurve(durs, "dur_days", "event")
    },
      """WITH e AS (SELECT user_id, event_type, epoch_ns(ts) AS t FROM events),
        |s0 AS (SELECT user_id, min(t) AS ts0 FROM e
        |       WHERE event_type = 'signup' GROUP BY 1),
        |p0 AS (SELECT user_id, min(t) AS tp FROM e
        |       WHERE event_type = 'purchase' GROUP BY 1),
        |mx AS (SELECT max(t) AS tmax FROM e),
        |du AS (SELECT (CASE WHEN tp IS NOT NULL AND tp >= ts0
        |                    THEN tp - ts0 ELSE tmax - ts0 END)
        |               // 86400000000000 AS t,
        |              CASE WHEN tp IS NOT NULL AND tp >= ts0
        |                   THEN 1 ELSE 0 END AS ev
        |       FROM s0 LEFT JOIN p0 USING (user_id), mx),
        |byt AS (SELECT t, count(*) AS m, CAST(sum(ev) AS BIGINT) AS d
        |        FROM du GROUP BY 1),
        |rk AS (SELECT t, d,
        |              CAST(sum(m) OVER (ORDER BY t DESC) AS BIGINT) AS n
        |       FROM byt),
        |evt AS (SELECT t, n, d,
        |          CASE WHEN d < n
        |               THEN round(ln(CAST(1.0 AS DOUBLE)
        |                             - CAST(d AS DOUBLE) / n), 6)
        |               ELSE 0.0 END AS lf,
        |          CASE WHEN d = n THEN 1 ELSE 0 END AS zf
        |        FROM rk WHERE d > 0)
        |SELECT t, n AS n_risk, d,
        |       CASE WHEN CAST(sum(zf) OVER (ORDER BY t) AS BIGINT) > 0
        |            THEN 0.0
        |            ELSE round(exp(sum(lf) OVER (ORDER BY t)), 6) END AS surv
        |FROM evt""".stripMargin),

    // Winsorized per-type mean: clip at exact rounded [p05, p95], then
    // the fixed-point mean — the robust location stat next to q123.
    QueryDef("q135_winsorized", (sp, dir) =>
      graft.functions.Profiling.winsorizedMean(
        table(sp, dir, "events").select(col("event_type"), col("value")),
        Seq("event_type"), "value"),
      """WITH pct AS (SELECT event_type,
        |                    round(quantile_cont(value, 0.05), 6) AS plo,
        |                    round(quantile_cont(value, 0.95), 6) AS phi
        |             FROM events GROUP BY 1),
        |c AS (SELECT e.event_type,
        |             CAST(floor(least(greatest(e.value, plo), phi)
        |                        * 1000000.0) AS BIGINT) AS fp,
        |             plo, phi
        |      FROM events e JOIN pct USING (event_type))
        |SELECT event_type, count(*) AS n, min(plo) AS p_lo, min(phi) AS p_hi,
        |       round((CAST(CAST(sum(fp) AS BIGINT) AS DOUBLE) / 1000000.0)
        |             / count(*), 6) AS wmean
        |FROM c GROUP BY event_type""".stripMargin),

    // Grouped HLL: distinct users per event type as 64-register sketches
    // + the per-group estimate, next to the exact distinct (error
    // visible in the result). At 100 TB the exact column is the thing
    // this replaces — here it is the audit.
    QueryDef("q136_hll_grouped", (sp, dir) => {
      val e = table(sp, dir, "events")
        .select(col("event_type"), col("user_id").cast("string").as("u"))
      val est = graft.functions.Sketches.hllEstimateGrouped(
        graft.functions.Sketches.hllSketchGrouped(
          e, Seq("event_type"), "u", 6, "q136"),
        Seq("event_type"), 6)
      est.join(e.groupBy("event_type")
        .agg(countDistinct(col("u")).as("exact_distinct")), "event_type")
    }, {
      val m = 64
      val est0 = graft.functions.Sketches.hllAlpha(m) * m * m
      s"""WITH u AS (SELECT event_type, CAST(user_id AS VARCHAR) AS u
         |           FROM events),
         |h AS (SELECT event_type,
         |             ('0x' || substr(md5('hll:q136:' || u),1,15))::BIGINT AS h
         |      FROM u),
         |rr AS (SELECT event_type, h % $m AS register,
         |              CASE WHEN (h >> 6) = 0 THEN 55
         |                   ELSE 55 - length(bin(h >> 6)) END AS rho
         |       FROM h),
         |regs AS (SELECT event_type, register, max(rho) AS rho FROM rr
         |         GROUP BY 1, 2),
         |ks AS (SELECT DISTINCT event_type FROM u),
         |allr AS (SELECT ks.event_type, r AS register,
         |                coalesce(regs.rho, 0) AS rho
         |         FROM ks CROSS JOIN range($m) t(r)
         |         LEFT JOIN regs ON regs.event_type = ks.event_type
         |                       AND regs.register = r),
         |agg AS (SELECT event_type,
         |               list(pow(2.0, -rho) ORDER BY register) AS hs,
         |               CAST(sum(CASE WHEN rho = 0 THEN 1 ELSE 0 END)
         |                    AS BIGINT) AS n_zero
         |        FROM allr GROUP BY 1),
         |f AS (SELECT event_type,
         |             list_reduce(list_prepend(0.0, hs), (a, b) -> a + b)
         |               AS hsum, n_zero FROM agg),
         |ex AS (SELECT event_type, CAST(count(DISTINCT u) AS BIGINT)
         |                AS exact_distinct
         |       FROM u GROUP BY 1)
         |SELECT f.event_type, $m AS m, n_zero,
         |       round(CASE WHEN $est0 / hsum <= ${2.5 * m} AND n_zero > 0
         |                  THEN ${m.toDouble} * ln(${m.toDouble} / n_zero)
         |                  ELSE $est0 / hsum END, 6) AS est,
         |       exact_distinct
         |FROM f JOIN ex USING (event_type)""".stripMargin
    }),

    // Per-type OLS trend of value (milli-units) on event day — exact
    // DECIMAL(38,0) moment sums, closed form at the end (q108's rule).
    QueryDef("q141_regression", (sp, dir) =>
      graft.functions.Stats.groupedOls(
        table(sp, dir, "events").select(col("event_type"),
          expr("unix_micros(cast(ts as timestamp)) div 86400000000").as("x"),
          floor(col("value") * 1000).cast("long").as("y")),
        Seq("event_type"), "x", "y"),
      """WITH p AS (SELECT event_type,
        |                  CAST(epoch_us(ts) // 86400000000 AS HUGEINT) AS x,
        |                  CAST(CAST(floor(value * 1000) AS BIGINT) AS HUGEINT)
        |                    AS y
        |           FROM events),
        |m AS (SELECT event_type, CAST(count(*) AS HUGEINT) AS n,
        |             sum(x) AS sx, sum(y) AS sy, sum(x*y) AS sxy,
        |             sum(x*x) AS sxx, sum(y*y) AS syy
        |      FROM p GROUP BY 1)
        |SELECT event_type, CAST(n AS BIGINT) AS n,
        |       CASE WHEN CAST(n*sxx - sx*sx AS DOUBLE) > 0.0
        |            THEN round(CAST(n*sxy - sx*sy AS DOUBLE)
        |                       / CAST(n*sxx - sx*sx AS DOUBLE), 6)
        |       END AS slope,
        |       CASE WHEN CAST(n*sxx - sx*sx AS DOUBLE) > 0.0
        |            THEN round((CAST(sy AS DOUBLE)
        |                        - (CAST(n*sxy - sx*sy AS DOUBLE)
        |                           / CAST(n*sxx - sx*sx AS DOUBLE))
        |                          * CAST(sx AS DOUBLE))
        |                       / CAST(n AS DOUBLE), 6)
        |       END AS intercept,
        |       CASE WHEN CAST(n*sxx - sx*sx AS DOUBLE) > 0.0
        |             AND CAST(n*syy - sy*sy AS DOUBLE) > 0.0
        |            THEN round(CAST(n*sxy - sx*sy AS DOUBLE)
        |                       * CAST(n*sxy - sx*sy AS DOUBLE)
        |                       / (CAST(n*sxx - sx*sx AS DOUBLE)
        |                          * CAST(n*syy - sy*sy AS DOUBLE)), 6)
        |       END AS r2
        |FROM m""".stripMargin),

    // Exact ROC AUC (Mann-Whitney with tie correction, pure integer) of
    // the q80 hashed linear classifier predicting lang = 'en' — the
    // evaluation metric for the model-based quality filter.
    QueryDef("q142_roc_auc", (sp, dir) =>
      graft.functions.Stats.rocAuc(
        graft.sources.Scans.parallelized(
          table(sp, dir, "documents").select(col("text"), col("lang")))
          .select(
            TF.hashedLinearScore(col("text"), dim = 64, salt = "q80")
              .as("qscore"),
            col("lang")),
        "qscore", col("lang") === "en"), {
      val half = TF.HashMod / 2L
      s"""WITH t AS (
         |  SELECT lang,
         |         list_filter(regexp_split_to_array(lower(text), '\\s+'),
         |                     x -> x <> '') AS toks
         |  FROM documents),
         |sc AS (
         |  SELECT lang, len(toks) AS ntok,
         |         CAST(coalesce(list_sum(list_transform(toks, tok ->
         |           ((${hSql("'q80:' || tok")} % 64) * 2654435761)
         |             % ${TF.HashMod} - $half)), 0) AS BIGINT) AS raw
         |  FROM t),
         |p AS (SELECT round(1.0 / (1.0 + exp(-(0.0 + 4.0 *
         |        (CASE WHEN ntok > 0
         |              THEN raw / (CAST(ntok AS DOUBLE) * $half.0)
         |              ELSE 0.0 END)))), 6) AS s,
         |        CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS pos
         |      FROM sc),
         |g AS (SELECT s, CAST(sum(pos) AS BIGINT) AS cp,
         |             CAST(sum(1 - pos) AS BIGINT) AS cq
         |      FROM p GROUP BY 1),
         |c AS (SELECT s, cp, cq,
         |             CAST(coalesce(sum(cq) OVER (ORDER BY s
         |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |               AS BIGINT) AS cneg
         |      FROM g),
         |tot AS (SELECT CAST(sum(pos) AS BIGINT) AS np,
         |               CAST(sum(1 - pos) AS BIGINT) AS nn FROM p)
         |SELECT np AS n_pos, nn AS n_neg,
         |       round(CAST(sum(cp * (2 * cneg + cq)) AS DOUBLE)
         |             / (2.0 * np * nn), 6) AS auc
         |FROM c, tot GROUP BY np, nn""".stripMargin
    }),

    // Join-key skew pre-flight on events.user_id — the sizing input for
    // q98's salting and AQE skew thresholds.
    QueryDef("q143_skew_profile", (sp, dir) =>
      graft.functions.Stats.skewProfile(table(sp, dir, "events"),
        Seq("user_id")),
      // Per-key counts -> one profile row; quantile_cont = Spark's exact
      // interpolated percentile (the q89 discipline).
      """WITH c AS (SELECT user_id, CAST(count(*) AS BIGINT) AS c
        |           FROM events GROUP BY 1),
        |a AS (SELECT CAST(sum(c) AS BIGINT) AS n_rows,
        |             CAST(count(*) AS BIGINT) AS n_keys,
        |             CAST(max(c) AS BIGINT) AS max_cnt,
        |             round(quantile_cont(c, 0.5), 6) AS p50_cnt,
        |             round(quantile_cont(c, 0.99), 6) AS p99_cnt
        |      FROM c)
        |SELECT n_rows, n_keys, max_cnt, p50_cnt, p99_cnt,
        |       round(CAST(n_rows AS DOUBLE) / n_keys, 6) AS avg_cnt,
        |       round(CAST(max_cnt AS DOUBLE) * n_keys / n_rows, 6) AS skew
        |FROM a""".stripMargin),

    // Exact sample covariance matrix of four integer-ized lineitem
    // measures — all ten moment sums in ONE aggregate over one scan.
    QueryDef("q146_cov_matrix", (sp, dir) =>
      graft.functions.Stats.covMatrix(
        table(sp, dir, "lineitem").select(
          col("l_quantity").cast("long").as("qty"),
          floor(col("l_extendedprice") * 100).cast("long").as("price_c"),
          floor(col("l_discount") * 100).cast("long").as("disc_c"),
          floor(col("l_tax") * 100).cast("long").as("tax_c")),
        Seq("qty", "price_c", "disc_c", "tax_c")), {
      val cols = Seq("qty", "price_c", "disc_c", "tax_c")
      val pairs = for (i <- cols.indices; j <- i until cols.length)
        yield (cols(i), cols(j))
      val moments = cols.map(c => s"sum($c) AS s_$c") ++
        pairs.map { case (a, b) => s"sum($a*$b) AS s_${a}_$b" }
      val rows = pairs.map { case (a, b) =>
        s"""SELECT '$a' AS col_x, '$b' AS col_y, CAST(n AS BIGINT) AS n,
           |       CASE WHEN n >= 2
           |            THEN round(CAST(n*s_${a}_$b - s_$a*s_$b AS DOUBLE)
           |                       / CAST(n*(n-1) AS DOUBLE), 6)
           |       END AS cov FROM m""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH p AS (SELECT CAST(l_quantity AS HUGEINT) AS qty,
         |                  CAST(CAST(floor(l_extendedprice * 100) AS BIGINT)
         |                    AS HUGEINT) AS price_c,
         |                  CAST(CAST(floor(l_discount * 100) AS BIGINT)
         |                    AS HUGEINT) AS disc_c,
         |                  CAST(CAST(floor(l_tax * 100) AS BIGINT)
         |                    AS HUGEINT) AS tax_c
         |           FROM lineitem),
         |m AS (SELECT CAST(count(*) AS HUGEINT) AS n,
         |             ${moments.mkString(",\n             ")}
         |      FROM p)
         |$rows""".stripMargin
    }),

    // EXACT interpolated quantiles by distributed rank selection — the
    // scalable form of percentile() (no per-group value buffering).
    QueryDef("q147_exact_quantiles", (sp, dir) =>
      graft.functions.Stats.exactQuantiles(table(sp, dir, "events"),
        "value", Seq(0.01, 0.25, 0.5, 0.75, 0.99)), {
      val rows = Seq(0.01, 0.25, 0.5, 0.75, 0.99).map { q =>
        s"""SELECT CAST($q AS DOUBLE) AS q,
           |       round(quantile_cont(value, $q), 6) AS val FROM v""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH v AS (SELECT value FROM events WHERE value IS NOT NULL)
         |$rows""".stripMargin
    }),

    // Welch's two-sample t (click vs view on milli-units): one single-row
    // aggregate of exact decimal moments, closed form at the end.
    QueryDef("q148_welch_t", (sp, dir) =>
      graft.functions.Stats.welchT(
        table(sp, dir, "events").select(col("event_type"),
          floor(col("value") * 1000).cast("long").as("v1000")),
        "event_type", "v1000", "click", "view"),
      // Exact HUGEINT moments; every double op mirrors the Scala tree.
      """WITH p AS (SELECT event_type,
        |                  CAST(CAST(floor(value*1000) AS BIGINT) AS HUGEINT)
        |                    AS x
        |           FROM events WHERE event_type IN ('click', 'view')),
        |m AS (SELECT CAST(sum(CASE WHEN event_type='click' THEN 1 ELSE 0 END)
        |               AS BIGINT) AS na,
        |             CAST(sum(CASE WHEN event_type='view' THEN 1 ELSE 0 END)
        |               AS BIGINT) AS nb,
        |             sum(CASE WHEN event_type='click' THEN x ELSE 0 END) AS sa,
        |             sum(CASE WHEN event_type='view' THEN x ELSE 0 END) AS sb,
        |             sum(CASE WHEN event_type='click' THEN x*x ELSE 0 END) AS qa,
        |             sum(CASE WHEN event_type='view' THEN x*x ELSE 0 END) AS qb
        |      FROM p),
        |v AS (SELECT na, nb,
        |             CAST(sa AS DOUBLE) / na AS ma,
        |             CAST(sb AS DOUBLE) / nb AS mb,
        |             CAST(na*qa - sa*sa AS DOUBLE)
        |               / CAST(na*(na-1) AS DOUBLE) AS va,
        |             CAST(nb*qb - sb*sb AS DOUBLE)
        |               / CAST(nb*(nb-1) AS DOUBLE) AS vb
        |      FROM m),
        |s AS (SELECT *, va/na + vb/nb AS se2 FROM v)
        |SELECT na AS n_a, nb AS n_b,
        |       round(ma, 6) AS mean_a, round(mb, 6) AS mean_b,
        |       CASE WHEN na >= 2 AND nb >= 2 AND se2 > 0.0
        |            THEN round((ma - mb) / sqrt(se2), 6) END AS t,
        |       CASE WHEN na >= 2 AND nb >= 2 AND se2 > 0.0
        |            THEN round(se2 * se2
        |                       / ((va/na)*(va/na)/(na-1.0)
        |                          + (vb/nb)*(vb/nb)/(nb-1.0)), 6)
        |       END AS df
        |FROM s""".stripMargin),

    // Benford first-digit audit of extended prices (integer cents; digit
    // via integer-to-string, never log10).
    QueryDef("q149_benford", (sp, dir) =>
      graft.functions.Profiling.benfordAudit(
        table(sp, dir, "lineitem"), "l_extendedprice", scale = 100L), {
      // First digit of integer cents via integer-to-string (exact on both
      // engines); Benford p_d embedded as shortest-round-trip literals.
      val digits = (1 to 9).map { d =>
        s"SELECT $d AS digit, CAST(${math.log10(1.0 + 1.0 / d)} AS DOUBLE) AS p"
      }.mkString("\nUNION ALL ")
      s"""WITH c0 AS (SELECT CAST(floor(abs(l_extendedprice) * 100) AS BIGINT)
         |              AS m
         |            FROM lineitem),
         |c AS (SELECT CAST(substr(CAST(m AS VARCHAR), 1, 1) AS INT) AS digit,
         |             CAST(count(*) AS BIGINT) AS nd
         |      FROM c0 WHERE m > 0 GROUP BY 1),
         |n AS (SELECT CAST(sum(nd) AS BIGINT) AS n FROM c),
         |d AS ($digits)
         |SELECT d.digit, coalesce(c.nd, 0) AS n_d,
         |       round(coalesce(c.nd, 0) / n.n, 6) AS obs_frac,
         |       round(d.p, 6) AS benford_p,
         |       round((coalesce(c.nd, 0) - n.n * d.p)
         |             * (coalesce(c.nd, 0) - n.n * d.p) / (n.n * d.p), 6)
         |         AS chi2_term
         |FROM d LEFT JOIN c ON d.digit = c.digit, n""".stripMargin
    }),

    // Inter-event gap distribution per type, INTEGER-EXACT throughout:
    // gaps are ~1e10 µs, where a 6 dp grid is SUB-ULP of a double — the
    // sf0.1 sweep caught two cross-engine last-bit flips from the old
    // rounded-double mean/percentiles. Now: mean as floor fixed-point
    // micro-millionths ((Σ·1e6) div n, DECIMAL-exact), percentiles by
    // NEAREST RANK (value at ceil(q·n) — an exact element, no
    // interpolated float ever exists).
    QueryDef("q150_event_gaps", (sp, dir) => {
      val ev = table(sp, dir, "events").select(col("user_id"),
        col("event_type"), col("event_id"),
        expr("unix_micros(cast(ts as timestamp))").as("t"))
      val w = Window.partitionBy("user_id").orderBy("t", "event_id")
      val gaps = ev.select(col("event_type"),
          (col("t") - lag("t", 1).over(w)).as("gap_us"))
        .where(col("gap_us").isNotNull)
      val rw = Window.partitionBy("event_type").orderBy("gap_us")
      val ranked = gaps
        .withColumn("__rn", row_number().over(rw).cast("long"))
        .withColumn("__n", count(lit(1)).over(
          Window.partitionBy("event_type")))
      val agg = gaps.groupBy("event_type").agg(
        count(lit(1)).as("n_gaps"),
        expr("CAST((CAST(sum(gap_us) AS DECIMAL(38,0)) * 1000000) div count(1) AS BIGINT)")
          .as("mean_us_e6"))
      def atRank(q: Int, name: String) = ranked
        .where(col("__rn") === expr(s"(__n * $q + 99) div 100"))
        .select(col("event_type"), col("gap_us").as(name))
      agg.join(atRank(50, "p50_us"), "event_type")
        .join(atRank(95, "p95_us"), "event_type")
        .select(col("event_type"), col("n_gaps"), col("mean_us_e6"),
          col("p50_us"), col("p95_us"))
    },
      """WITH ev AS (SELECT user_id, event_type, event_id,
        |                   epoch_us(ts) AS t
        |            FROM events),
        |g0 AS (SELECT event_type,
        |              t - lag(t) OVER (PARTITION BY user_id
        |                               ORDER BY t, event_id) AS gap_us
        |       FROM ev),
        |g AS (SELECT event_type, gap_us FROM g0 WHERE gap_us IS NOT NULL),
        |a AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_gaps,
        |             CAST((CAST(sum(gap_us) AS HUGEINT) * 1000000) // count(*)
        |                  AS BIGINT) AS mean_us_e6
        |      FROM g GROUP BY 1),
        |r AS (SELECT event_type, gap_us,
        |             row_number() OVER (PARTITION BY event_type
        |                                ORDER BY gap_us) AS rn,
        |             count(*) OVER (PARTITION BY event_type) AS n
        |      FROM g),
        |p50 AS (SELECT event_type, gap_us AS p50_us FROM r
        |        WHERE rn = (n * 50 + 99) // 100),
        |p95 AS (SELECT event_type, gap_us AS p95_us FROM r
        |        WHERE rn = (n * 95 + 99) // 100)
        |SELECT a.event_type, a.n_gaps, a.mean_us_e6, p50.p50_us, p95.p95_us
        |FROM a JOIN p50 USING (event_type) JOIN p95 USING (event_type)""".stripMargin),

    // Session-length histogram: q29's sessions rolled to
    // (n_events, n_sessions, mean duration) — the engagement-shape rollup.
    QueryDef("q151_session_hist", (sp, dir) => {
      val ev = table(sp, dir, "events")
        .withColumn("tsq", expr("unix_micros(cast(ts as timestamp)) * 1000"))
      graft.operators.IntervalOps.sessionize(ev, Seq("user_id"), "tsq",
          gapNs = 1800000000000L, orderTiebreak = Seq("event_id"))
        .select(col("n_events"),
          (col("span.stop") - col("span.start")).as("__dur"))
        .groupBy("n_events").agg(count(lit(1)).as("n_sessions"),
          round(sum(col("__dur").cast(DecimalType(38, 0))).cast("double") /
            count(lit(1)), 6).as("mean_dur_ns"))
    },
      """WITH ev AS (SELECT user_id, event_id, epoch_ns(ts) AS t FROM events),
        |l AS (SELECT user_id, event_id, t,
        |             lag(t) OVER (PARTITION BY user_id ORDER BY t, event_id)
        |               AS prev
        |      FROM ev),
        |s AS (SELECT user_id, t,
        |             sum(CASE WHEN prev IS NULL OR t - prev > 1800000000000
        |                      THEN 1 ELSE 0 END)
        |               OVER (PARTITION BY user_id ORDER BY t, event_id
        |                     ROWS UNBOUNDED PRECEDING) AS session
        |      FROM l),
        |sess AS (SELECT user_id, session, min(t) AS ss, max(t) AS se,
        |                CAST(count(*) AS BIGINT) AS n_events
        |         FROM s GROUP BY 1, 2)
        |SELECT n_events, CAST(count(*) AS BIGINT) AS n_sessions,
        |       round(CAST(sum(se - ss) AS DOUBLE) / count(*), 6)
        |         AS mean_dur_ns
        |FROM sess GROUP BY 1""".stripMargin),

    // Pearson χ² independence: is document language independent of source?
    // One data-sized contingency aggregate; margins, total, and the
    // expected-count join all run on the vocab-bounded cell frame (the
    // single total row broadcasts — q42's idiom).
    QueryDef("q153_chi2", (sp, dir) =>
      graft.functions.Stats.chiSquareIndependence(
        table(sp, dir, "documents"), "lang", "source"),
      // Contingency replay: expected counts as double·double/double in the
      // same op order, per-cell terms rounded 6 dp, DECIMAL(18,6) sum.
      """WITH cells AS (SELECT lang AS a, source AS b,
        |                      CAST(count(*) AS BIGINT) AS o
        |               FROM documents
        |               WHERE lang IS NOT NULL AND source IS NOT NULL
        |               GROUP BY 1, 2),
        |rt AS (SELECT a, CAST(sum(o) AS BIGINT) AS ra FROM cells GROUP BY 1),
        |ct AS (SELECT b, CAST(sum(o) AS BIGINT) AS cb FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n,
        |               CAST(count(DISTINCT a) AS BIGINT) AS r,
        |               CAST(count(DISTINCT b) AS BIGINT) AS c FROM cells),
        |ex AS (SELECT n, r, c, o,
        |              CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE) / CAST(n AS DOUBLE) AS e
        |       FROM cells JOIN rt USING (a) JOIN ct USING (b) CROSS JOIN tot),
        |t AS (SELECT n, r, c,
        |             CAST(round((CAST(o AS DOUBLE) - e) * (CAST(o AS DOUBLE) - e) / e, 6)
        |                  AS DECIMAL(18,6)) AS term
        |      FROM ex)
        |SELECT n, r AS n_a, c AS n_b, CAST((r-1)*(c-1) AS BIGINT) AS dof,
        |       CAST(sum(term) AS DOUBLE) AS chi2,
        |       CASE WHEN (r-1)*(c-1) > 0 THEN
        |         round(sqrt(CAST(sum(term) AS DOUBLE) /
        |               (CAST(n AS DOUBLE) * CAST(least(r-1, c-1) AS DOUBLE))), 6)
        |       END AS cramers_v
        |FROM t GROUP BY n, r, c""".stripMargin),

    // Z-order (Morton) locality key over (user_id, event day) — the
    // multi-dimensional clustering key behind OPTIMIZE ZORDER, as one
    // codegen'd bit-interleave projection (no shuffle, no UDF).
    // ZOrderSpec pins the locality property and the layout writer.
    QueryDef("q156_zorder", (sp, dir) =>
      table(sp, dir, "events")
        .select(col("event_id"), col("user_id"),
          expr("unix_micros(cast(ts as timestamp)) div 86400000000").as("day"))
        .select(col("event_id"), col("user_id"), col("day"),
          graft.sources.ZOrderLayout.zValue(col("user_id"), col("day"), 20)
            .as("z")), {
      val mask = (1L << 20) - 1
      val zTerms = (0 until 20).map(i =>
        s"((((user_id & $mask) & ${1L << i}) << $i) | " +
          s"(((d & $mask) & ${1L << i}) << ${i + 1}))")
        .mkString("(", " |\n         ", ")")
      s"""WITH ev AS (SELECT event_id, user_id,
         |                   epoch_us(ts) // 86400000000 AS d
         |            FROM events)
         |SELECT event_id, user_id, d AS day,
         |       $zTerms AS z
         |FROM ev""".stripMargin
    }),

    // Position-based (U-shaped) multi-touch attribution: click/view
    // touches inside 7 days before each purchase earn 0.4/0.4/middle
    // credit; per-channel DECIMAL rollup. The pairing is a per-user
    // equi-join; data-sized windows stay partitioned.
    QueryDef("q157_attribution", (sp, dir) => {
      val ev = table(sp, dir, "events")
        .select(col("event_id"), col("user_id"), col("event_type"),
          expr("unix_micros(cast(ts as timestamp))").as("t"))
      graft.functions.EventOps.attribution(ev, Seq("user_id"), "event_type",
        "t", "event_id", Seq("click", "view"), "purchase",
        lookback = 7L * 86400000000L, model = "position")
    },
      // Per-user touch↔conversion pairing, U-shaped credits rounded 6 dp,
      // DECIMAL channel rollup (float literals CAST to DOUBLE — DuckDB
      // parses bare float literals as DECIMAL).
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS t
        |           FROM events),
        |tc AS (SELECT t.event_type AS channel, t.t AS tt,
        |              t.event_id AS tie, c.event_id AS cid, c.user_id
        |       FROM e t JOIN e c ON t.user_id = c.user_id
        |       WHERE c.event_type = 'purchase'
        |         AND t.event_type IN ('click', 'view')
        |         AND t.t >= c.t - 604800000000 AND t.t < c.t),
        |p AS (SELECT channel, user_id, cid,
        |             row_number() OVER (PARTITION BY user_id, cid
        |                                ORDER BY tt, tie) AS pos,
        |             count(*) OVER (PARTITION BY user_id, cid) AS n
        |      FROM tc),
        |cr AS (SELECT channel, user_id, cid,
        |              CAST(round(CASE
        |                WHEN n = 1 THEN CAST(1.0 AS DOUBLE)
        |                WHEN n = 2 THEN CAST(0.5 AS DOUBLE)
        |                WHEN pos = 1 OR pos = n THEN CAST(0.4 AS DOUBLE)
        |                ELSE CAST(0.2 AS DOUBLE) / (CAST(n AS DOUBLE) - 2.0)
        |              END, 6) AS DECIMAL(18,6)) AS credit
        |       FROM p)
        |SELECT channel, CAST(count(*) AS BIGINT) AS n_touches,
        |       CAST(count(DISTINCT (user_id, cid)) AS BIGINT) AS n_conversions,
        |       CAST(sum(credit) AS DOUBLE) AS credit
        |FROM cr GROUP BY 1""".stripMargin),

    // Mutual information lang↔source in nats (+ marginal entropies and
    // normalized MI) — q153's contingency plan with information terms:
    // 6 dp-rounded ln terms, DECIMAL sums, vocab-bounded frames.
    QueryDef("q158_mutual_info", (sp, dir) =>
      graft.functions.Stats.mutualInformation(
        table(sp, dir, "documents"), "lang", "source"),
      """WITH cells AS (SELECT lang AS a, source AS b,
        |                      CAST(count(*) AS BIGINT) AS o
        |               FROM documents
        |               WHERE lang IS NOT NULL AND source IS NOT NULL
        |               GROUP BY 1, 2),
        |rt AS (SELECT a, CAST(sum(o) AS BIGINT) AS ra FROM cells GROUP BY 1),
        |ct AS (SELECT b, CAST(sum(o) AS BIGINT) AS cb FROM cells GROUP BY 1),
        |tot AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells),
        |ha AS (SELECT sum(CAST(round(
        |                 -(CAST(ra AS DOUBLE) / CAST(n AS DOUBLE)) *
        |                  ln(CAST(ra AS DOUBLE) / CAST(n AS DOUBLE)), 6)
        |               AS DECIMAL(18,6))) AS ha
        |       FROM rt CROSS JOIN tot),
        |hb AS (SELECT sum(CAST(round(
        |                 -(CAST(cb AS DOUBLE) / CAST(n AS DOUBLE)) *
        |                  ln(CAST(cb AS DOUBLE) / CAST(n AS DOUBLE)), 6)
        |               AS DECIMAL(18,6))) AS hb
        |       FROM ct CROSS JOIN tot),
        |mi AS (SELECT n, sum(CAST(round(
        |                 (CAST(o AS DOUBLE) / CAST(n AS DOUBLE)) *
        |                 ln(CAST(o AS DOUBLE) * CAST(n AS DOUBLE) /
        |                    (CAST(ra AS DOUBLE) * CAST(cb AS DOUBLE))), 6)
        |               AS DECIMAL(18,6))) AS mi
        |       FROM cells JOIN rt USING (a) JOIN ct USING (b) CROSS JOIN tot
        |       GROUP BY n)
        |SELECT n, CAST(mi AS DOUBLE) AS mi,
        |       CAST(ha AS DOUBLE) AS h_a, CAST(hb AS DOUBLE) AS h_b,
        |       CASE WHEN CAST(ha AS DOUBLE) > 0 AND CAST(hb AS DOUBLE) > 0
        |            THEN round(CAST(mi AS DOUBLE) /
        |                       sqrt(CAST(ha AS DOUBLE) * CAST(hb AS DOUBLE)), 6)
        |       END AS nmi
        |FROM mi CROSS JOIN ha CROSS JOIN hb""".stripMargin),

    // CUPED readout: per-user post-period purchase value adjusted by the
    // pre-period covariate (Jan 1-15 vs 16-30), arms = user_id parity.
    // Exact DECIMAL moments, one pooled + one arm-keyed aggregate.
    QueryDef("q161_cuped", (sp, dir) => {
      val ev = table(sp, dir, "events").select(col("user_id"),
        expr("unix_micros(cast(ts as timestamp))").as("t"),
        floor(col("value") * 1000).cast("long").as("mv"))
      val split = lit(1705363200000000L) // 2024-01-16T00:00:00Z in micros
      val users = ev.groupBy("user_id").agg(
        sum(when(col("t") < split, col("mv")).otherwise(0L)).as("pre"),
        sum(when(col("t") >= split, col("mv")).otherwise(0L)).as("post"))
        .withColumn("arm",
          when(pmod(col("user_id"), lit(2L)) === 0L, "a").otherwise("b"))
      graft.functions.Stats.cuped(users, "arm", "post", "pre")
    },
      // Exact HUGEINT moments mirror the DECIMAL(38,0) sums; θ and the
      // adjusted means run the identical double tree.
      """WITH ev AS (SELECT user_id, epoch_us(ts) AS t,
        |                   CAST(floor(value * 1000) AS BIGINT) AS mv
        |            FROM events),
        |u AS (SELECT user_id,
        |             CAST(sum(CASE WHEN t < 1705363200000000 THEN mv ELSE 0 END) AS HUGEINT) AS pre,
        |             CAST(sum(CASE WHEN t >= 1705363200000000 THEN mv ELSE 0 END) AS HUGEINT) AS post,
        |             CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS arm
        |      FROM ev GROUP BY 1),
        |p AS (SELECT CAST(count(*) AS HUGEINT) AS n, sum(pre) AS sx,
        |             sum(post) AS sy, sum(pre * post) AS sxy,
        |             sum(pre * pre) AS sxx
        |      FROM u),
        |s AS (SELECT CASE WHEN CAST(n*sxx - sx*sx AS DOUBLE) > 0
        |                  THEN CAST(n*sxy - sx*sy AS DOUBLE)
        |                       / CAST(n*sxx - sx*sx AS DOUBLE)
        |                  ELSE CAST(0 AS DOUBLE) END AS theta,
        |             CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS xbar
        |      FROM p),
        |a AS (SELECT arm, CAST(count(*) AS BIGINT) AS n,
        |             sum(post) AS ay, sum(pre) AS ax
        |      FROM u GROUP BY 1)
        |SELECT arm, n, round(CAST(ay AS DOUBLE) / CAST(n AS DOUBLE), 6) AS mean,
        |       round(CAST(ay AS DOUBLE) / CAST(n AS DOUBLE)
        |             - theta * (CAST(ax AS DOUBLE) / CAST(n AS DOUBLE) - xbar), 6)
        |         AS mean_adj,
        |       round(theta, 6) AS theta
        |FROM a CROSS JOIN s""".stripMargin),

    // Sample-ratio-mismatch health check on the same unit-level split:
    // χ² goodness of fit of observed arm counts vs the 50/50 design.
    QueryDef("q162_srm", (sp, dir) => {
      val users = table(sp, dir, "events").select(col("user_id")).distinct()
        .select(when(pmod(col("user_id"), lit(2L)) === 0L, "a")
          .otherwise("b").as("arm"))
      graft.functions.Stats.srmCheck(users, "arm",
        Seq("a" -> 0.5, "b" -> 0.5))
    },
      """WITH u AS (SELECT DISTINCT user_id FROM events),
        |a AS (SELECT CASE WHEN user_id % 2 = 0 THEN 'a' ELSE 'b' END AS arm
        |      FROM u),
        |c AS (SELECT arm, CAST(count(*) AS BIGINT) AS o FROM a GROUP BY 1),
        |t AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM c),
        |d AS (SELECT n, v.arm, CAST(0.5 AS DOUBLE) AS p
        |      FROM t, (VALUES ('a'), ('b')) v(arm)),
        |j AS (SELECT n,
        |             CAST(round((CAST(COALESCE(o, 0) AS DOUBLE) - CAST(n AS DOUBLE) * p)
        |                  * (CAST(COALESCE(o, 0) AS DOUBLE) - CAST(n AS DOUBLE) * p)
        |                  / (CAST(n AS DOUBLE) * p), 6) AS DECIMAL(18,6)) AS x
        |      FROM d LEFT JOIN c USING (arm))
        |SELECT n, CAST(2 AS BIGINT) AS k, CAST(1 AS BIGINT) AS dof,
        |       CAST(sum(x) AS DOUBLE) AS chi2
        |FROM j GROUP BY n""".stripMargin),

    // Grouped exact quantiles: per event type, the same rank-selection
    // machinery as q147 with all windows PARTITIONED by the group key.
    QueryDef("q163_grouped_quantiles", (sp, dir) =>
      graft.functions.Stats.exactQuantilesBy(
        table(sp, dir, "events").select(col("event_type"), col("value")),
        Seq("event_type"), "value", Seq(0.25, 0.5, 0.75, 0.95)), {
      val rows = Seq(0.25, 0.5, 0.75, 0.95).map { q =>
        s"""SELECT event_type, CAST($q AS DOUBLE) AS q,
           |       round(quantile_cont(value, $q), 6) AS val
           |FROM v GROUP BY event_type""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH v AS (SELECT event_type, value FROM events
         |           WHERE value IS NOT NULL)
         |$rows""".stripMargin
    }),

    // PSI drift monitor: event value distribution, first half of the
    // month as reference vs second half as current, 20 bins on [0, 500),
    // Laplace-smoothed shares.
    QueryDef("q164_psi", (sp, dir) => {
      val ev = table(sp, dir, "events").select(col("value"),
        expr("unix_micros(cast(ts as timestamp))").as("t"))
      val split = 1705363200000000L
      graft.functions.Stats.psi(
        ev.where(col("t") < split), ev.where(col("t") >= split),
        "value", lo = 0.0, hi = 500.0, nBins = 20)
    },
      """WITH ev AS (SELECT value, epoch_us(ts) AS t FROM events
        |            WHERE value IS NOT NULL),
        |r AS (SELECT least(greatest(CAST(floor((value - 0.0) / 500.0 * 20) AS BIGINT), 0), 19) AS b,
        |             CAST(count(*) AS BIGINT) AS cr
        |      FROM ev WHERE t < 1705363200000000 GROUP BY 1),
        |c AS (SELECT least(greatest(CAST(floor((value - 0.0) / 500.0 * 20) AS BIGINT), 0), 19) AS b,
        |             CAST(count(*) AS BIGINT) AS cc
        |      FROM ev WHERE t >= 1705363200000000 GROUP BY 1),
        |n AS (SELECT (SELECT CAST(COALESCE(sum(cr), 0) AS BIGINT) FROM r) AS nr,
        |             (SELECT CAST(COALESCE(sum(cc), 0) AS BIGINT) FROM c) AS nc),
        |f AS (SELECT nr, nc, unnest(range(0, 20)) AS b FROM n),
        |j AS (SELECT nr, nc,
        |             CAST(round(((CAST(COALESCE(cc, 0) AS DOUBLE) + 1.0) / (CAST(nc AS DOUBLE) + 20)
        |                         - (CAST(COALESCE(cr, 0) AS DOUBLE) + 1.0) / (CAST(nr AS DOUBLE) + 20))
        |                  * ln(((CAST(COALESCE(cc, 0) AS DOUBLE) + 1.0) / (CAST(nc AS DOUBLE) + 20))
        |                       / ((CAST(COALESCE(cr, 0) AS DOUBLE) + 1.0) / (CAST(nr AS DOUBLE) + 20))), 6)
        |              AS DECIMAL(18,6)) AS x
        |      FROM f LEFT JOIN r USING (b) LEFT JOIN c USING (b))
        |SELECT nr AS n_ref, nc AS n_cur, CAST(sum(x) AS DOUBLE) AS psi
        |FROM j GROUP BY 1, 2""".stripMargin),

    // Lagged cross-correlation: hourly click counts vs purchase counts at
    // lags 0..12 — "do purchases follow clicks, and how far behind?".
    // Exact DECIMAL moments per lag over the observed hour grid.
    QueryDef("q166_xcorr", (sp, dir) => {
      val ev = table(sp, dir, "events").select(
        expr("unix_micros(cast(ts as timestamp)) div 3600000000").as("hr"),
        col("event_type"))
      val grid = ev.groupBy("hr").agg(
        sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("clicks"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("purchases"))
      graft.functions.Stats.lagCorrelation(grid, "hr", "clicks",
        "purchases", 12)
    },
      // Per-lag HUGEINT moments mirror the DECIMAL sums; the guard and the
      // corr double tree match op for op.
      """WITH ev AS (SELECT epoch_us(ts) // 3600000000 AS hr, event_type
        |            FROM events),
        |g AS (SELECT hr,
        |             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS HUGEINT) AS x,
        |             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS HUGEINT) AS y
        |      FROM ev GROUP BY 1),
        |l AS (SELECT unnest(range(0, 13)) AS lag),
        |p AS (SELECT l.lag, a.x, b.y
        |      FROM l, g a, g b WHERE b.hr = a.hr + l.lag),
        |m AS (SELECT lag, CAST(count(*) AS HUGEINT) AS n,
        |             sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
        |             sum(x * x) AS sxx, sum(y * y) AS syy
        |      FROM p GROUP BY 1)
        |SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n,
        |       CASE WHEN CAST(n*sxx - sx*sx AS DOUBLE) > 0
        |             AND CAST(n*syy - sy*sy AS DOUBLE) > 0 AND n >= 2
        |            THEN round(CAST(n*sxy - sx*sy AS DOUBLE)
        |                 / sqrt(CAST(n*sxx - sx*sx AS DOUBLE)
        |                        * CAST(n*syy - sy*sy AS DOUBLE)), 6)
        |       END AS corr
        |FROM m""".stripMargin),

    // Top 15 event-type trigrams per user stream — sequential pattern
    // mining's staple; PARTITIONED lead windows, vocab-bounded rank.
    QueryDef("q167_seq_patterns", (sp, dir) =>
      graft.functions.EventOps.topSequences(
        table(sp, dir, "events").select(col("user_id"), col("event_type"),
          expr("unix_micros(cast(ts as timestamp))").as("t"), col("event_id")),
        Seq("user_id"), "event_type", "t", "event_id", n = 3, k = 15),
      // NULL-propagating || builds the trigram only when both leads exist —
      // the same guard as the when() on the Spark side.
      """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS t, event_id
        |           FROM events),
        |s AS (SELECT event_type
        |             || '>' || lead(event_type, 1) OVER w
        |             || '>' || lead(event_type, 2) OVER w AS seq
        |      FROM e
        |      WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
        |c AS (SELECT seq, CAST(count(*) AS BIGINT) AS cnt
        |      FROM s WHERE seq IS NOT NULL GROUP BY 1),
        |r AS (SELECT *, row_number() OVER (ORDER BY cnt DESC, seq) AS rank
        |      FROM c)
        |SELECT seq, cnt, CAST(rank AS BIGINT) AS rank FROM r
        |WHERE rank <= 15""".stripMargin),

    // k-anonymity audit (k=5) over the (event_type, user bucket, day)
    // quasi-identifier — the privacy pre-flight next to q55's redaction.
    QueryDef("q168_kanon", (sp, dir) =>
      graft.functions.Profiling.kAnonymity(
        table(sp, dir, "events").select(col("event_type"),
          pmod(col("user_id"), lit(100L)).as("user_bucket"),
          expr("unix_micros(cast(ts as timestamp)) div 86400000000")
            .as("day")),
        Seq("event_type", "user_bucket", "day"), 5L),
      """WITH qi AS (SELECT event_type, user_id % 100 AS user_bucket,
        |                   epoch_us(ts) // 86400000000 AS day
        |            FROM events),
        |g AS (SELECT event_type, user_bucket, day,
        |             CAST(count(*) AS BIGINT) AS c
        |      FROM qi GROUP BY 1, 2, 3)
        |SELECT CAST(sum(c) AS BIGINT) AS n_rows,
        |       CAST(count(*) AS BIGINT) AS n_groups,
        |       CAST(min(c) AS BIGINT) AS k_min,
        |       CAST(sum(CASE WHEN c < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_violating,
        |       round(CAST(sum(CASE WHEN c < 5 THEN c ELSE 0 END) AS DOUBLE)
        |             / CAST(sum(c) AS DOUBLE), 6) AS frac_at_risk
        |FROM g""".stripMargin),

    // Rolling engagement: per day, exact DAU, trailing-7-day WAU (each
    // (user, day) incidence supports the 7 windows it falls in — a
    // bounded ×7 explode + distinct, never a per-day scan), and the
    // DAU/WAU stickiness ratio.
    QueryDef("q170_rolling_dau", (sp, dir) => {
      val ud = table(sp, dir, "events").select(col("user_id"),
          expr("unix_micros(cast(ts as timestamp)) div 86400000000")
            .as("day"))
        .distinct()
      val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
      val wau = ud.select(col("user_id"),
          explode(sequence(col("day"), col("day") + 6)).as("day"))
        .distinct()
        .groupBy("day").agg(count(lit(1)).as("wau"))
      dau.join(wau, Seq("day"))
        .select(col("day"), col("dau"), col("wau"),
          round(col("dau").cast("double") / col("wau").cast("double"), 6)
            .as("stickiness"))
    },
      // Incidence-supported window replay: each (user, day) feeds days
      // day..day+6; inner join restricts to observed days.
      """WITH ud AS (SELECT DISTINCT user_id,
        |                   epoch_us(ts) // 86400000000 AS day
        |            FROM events),
        |dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau
        |        FROM ud GROUP BY 1),
        |w0 AS (SELECT DISTINCT user_id, day + o AS day
        |       FROM ud, (SELECT unnest(range(0, 7)) AS o)),
        |wau AS (SELECT day, CAST(count(*) AS BIGINT) AS wau
        |        FROM w0 GROUP BY 1)
        |SELECT d.day, d.dau, w.wau,
        |       round(CAST(d.dau AS DOUBLE) / CAST(w.wau AS DOUBLE), 6)
        |         AS stickiness
        |FROM dau d JOIN wau w USING (day)""".stripMargin),

    // Trailing-24h rate anomaly per event type: hourly counts scored
    // against their own trailing day (exclusive), z rounded 6 dp, NULL
    // under 12 trailing points or zero variance.
    QueryDef("q171_rate_anomaly", (sp, dir) =>
      graft.functions.EventOps.rateAnomaly(
        table(sp, dir, "events").select(col("event_type"),
          expr("unix_micros(cast(ts as timestamp)) div 3600000000")
            .as("hr")),
        Seq("event_type"), "hr", window = 24, minPoints = 12),
      """WITH e AS (SELECT event_type, epoch_us(ts) // 3600000000 AS hr
        |           FROM events),
        |c AS (SELECT event_type, hr, CAST(count(*) AS BIGINT) AS x
        |      FROM e GROUP BY 1, 2),
        |w AS (SELECT event_type, hr, x,
        |             CAST(count(*) OVER tw AS BIGINT) AS n_trail,
        |             sum(x) OVER tw AS s, sum(x * x) OVER tw AS q
        |      FROM c
        |      WINDOW tw AS (PARTITION BY event_type ORDER BY hr
        |                    ROWS BETWEEN 24 PRECEDING AND 1 PRECEDING))
        |SELECT event_type, hr AS tick, x, n_trail,
        |       CASE WHEN n_trail >= 12 AND
        |                 (CAST(n_trail AS DOUBLE) * CAST(q AS DOUBLE)
        |                  - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
        |                 / (CAST(n_trail AS DOUBLE) * (CAST(n_trail AS DOUBLE) - 1.0)) > 0
        |            THEN round((CAST(x AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n_trail AS DOUBLE))
        |                 / sqrt((CAST(n_trail AS DOUBLE) * CAST(q AS DOUBLE)
        |                         - CAST(s AS DOUBLE) * CAST(s AS DOUBLE))
        |                        / (CAST(n_trail AS DOUBLE) * (CAST(n_trail AS DOUBLE) - 1.0))), 6)
        |       END AS z
        |FROM w""".stripMargin),

    // CUSUM drift alarms on hourly per-type rates: slack 10% of the mean,
    // alarm at 3x mean (scaled integers end to end — the bounded
    // sequential fold family). Complements q171's memoryless z-scores
    // with accumulated-drift detection.
    QueryDef("q173_cusum", (sp, dir) =>
      graft.functions.EventOps.cusumAlarms(
        table(sp, dir, "events").select(col("event_type"),
          expr("unix_micros(cast(ts as timestamp)) div 3600000000")
            .as("hr")),
        Seq("event_type"), "hr", pctSlack = 10, pctThreshold = 300),
      // Same scaled-integer fold via list_reduce (init prepended; ragged
      // BIGINT[] keeps acc and element the same list type).
      """WITH e AS (SELECT event_type, epoch_us(ts) // 3600000000 AS t
        |           FROM events),
        |c AS (SELECT event_type, t, CAST(count(*) AS BIGINT) AS x
        |      FROM e GROUP BY 1, 2),
        |k AS (SELECT event_type, CAST(sum(x) AS BIGINT) AS s,
        |             CAST(count(*) AS BIGINT) AS n,
        |             list([t, x] ORDER BY t) AS xs
        |      FROM c GROUP BY 1),
        |f AS (SELECT event_type, n, s,
        |             list_reduce(list_prepend([0, 0, 0, -1], xs),
        |               (a, e) -> [
        |                 greatest(0, a[1] + (100*(e[2]*n - s) - 10*s)),
        |                 a[2] + CASE WHEN greatest(0, a[1] + (100*(e[2]*n - s) - 10*s)) > 300*s
        |                             THEN 1 ELSE 0 END,
        |                 greatest(a[3], greatest(0, a[1] + (100*(e[2]*n - s) - 10*s))),
        |                 CASE WHEN a[4] = -1 AND greatest(0, a[1] + (100*(e[2]*n - s) - 10*s)) > 300*s
        |                      THEN e[1] ELSE a[4] END
        |               ]) AS acc
        |      FROM k)
        |SELECT event_type, n AS n_ticks, acc[2] AS n_alarms,
        |       acc[3] AS max_cusum, nullif(acc[4], -1) AS first_alarm_tick
        |FROM f""".stripMargin),

    // 2-D Pareto frontier of parts (min price, max size) via the
    // bucket-offset skyline — the classic global-sort formulation never
    // touches a one-task window.
    QueryDef("q174_skyline", (sp, dir) =>
      graft.functions.Stats.paretoFrontier2d(
        table(sp, dir, "part"), "p_partkey", "p_retailprice", "p_size"),
      // Dominance replay: strict skyline, exact duplicates keep min id.
      """WITH p AS (SELECT p_partkey AS id, p_retailprice AS pr,
        |                  CAST(p_size AS BIGINT) AS sz
        |           FROM part
        |           WHERE p_retailprice IS NOT NULL AND p_size IS NOT NULL)
        |SELECT id AS p_partkey, pr AS p_retailprice,
        |       CAST(sz AS INTEGER) AS p_size
        |FROM p a
        |WHERE NOT EXISTS (
        |        SELECT 1 FROM p b
        |        WHERE b.pr <= a.pr AND b.sz >= a.sz
        |          AND (b.pr < a.pr OR b.sz > a.sz))
        |  AND NOT EXISTS (
        |        SELECT 1 FROM p c
        |        WHERE c.pr = a.pr AND c.sz = a.sz AND c.id < a.id)""".stripMargin)
  )
}
