package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import TextFunctions._

/** Deduplication operators: exact (hash groupBy), MinHash signatures,
  * LSH banding for near-dup candidate generation, SimHash. Designed for
  * shuffle-friendly execution at 100 TB:
  *
  *  - signatures/bands are computed in a single codegen'd projection over
  *    the scan (no UDFs, no extra pass);
  *  - candidate pairs come from an equi-join on (band, bandHash) — a
  *    shuffled sort-merge join on a well-distributed key, never a cartesian
  *    comparison;
  *  - only candidate pairs pay the exact-Jaccard verification cost.
  *
  * All hashes are md5-derived ([[TextFunctions.tokenHash]]) with permutation
  * parameters fixed at library level, so the DuckDB oracle reproduces every
  * value bit-for-bit.
  */
object Dedup {

  val P: Long = TextFunctions.HashMod

  /** Deterministic (a, b) parameters for the k MinHash permutations
    * h_j(x) = (a_j * x + b_j) mod P; a in [1, P-1], b in [0, P-1]. */
  def hashParams(k: Int, seed: Long = 42L): IndexedSeq[(Long, Long)] = {
    val rng = new scala.util.Random(seed)
    IndexedSeq.fill(k)((math.floorMod(rng.nextLong(), P - 1) + 1, math.floorMod(rng.nextLong(), P)))
  }

  /** Pre-hashed shingle set: one md5 per shingle. ALWAYS materialize this
    * as its own column before fanning out to k permutations — inlining it
    * into the signature expression makes Catalyst recompute every md5 k
    * times (a measured 16-60x slowdown). */
  def shingleHashes(c: Column, shingleN: Int = 5): Column =
    transform(shingles(c, shingleN), tokenHashMod(_))

  /** MinHash signature from pre-hashed shingles:
    * sig[j] = min over hashes x of (a_j * x + b_j) mod P. */
  def minhashFromHashes(hs: Column, k: Int, seed: Long = 42L): Column = {
    val params = array(hashParams(k, seed).map { case (a, b) =>
      struct(lit(a).as("a"), lit(b).as("b"))
    }: _*)
    transform(params, p =>
      array_min(transform(hs, x =>
        pmod(p.getField("a") * x + p.getField("b"), lit(P)))))
  }

  /** k-wide MinHash signature of a text column's n-gram shingle set.
    * Convenience one-shot form; in multi-stage pipelines prefer
    * `withColumn("hs", shingleHashes(...))` + [[minhashFromHashes]] so the
    * shingle hashing is computed once. */
  def minhashSignature(c: Column, k: Int, shingleN: Int = 5, seed: Long = 42L): Column =
    minhashFromHashes(shingleHashes(c, shingleN), k, seed)

  /** LSH band hashes: split a k-wide signature into `bands` bands of
    * k/bands rows each; band hash = rolling fold of the band's values.
    * Returns array<struct<band:int, bh:long>> ready to explode. */
  def bandHashes(sig: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), i =>
      struct(i.as("band"),
        aggregate(slice(sig, i * rowsPerBand + 1, lit(rowsPerBand)), lit(0L),
          (acc, x) => pmod(acc * 31L + x, lit(P))).as("bh")))

  /** 32-bit SimHash over whitespace tokens: bit j is set when the sum of
    * (2*bit_j(h(token)) - 1) votes is positive. Static unroll over j keeps
    * everything a shift-and-mask codegen expression. */
  def simhash32(c: Column): Column = {
    val hs = transform(tokens(c), tokenHash(_))
    (0 until 32).map { j =>
      when(
        aggregate(hs, lit(0L),
          (a, h) => a + shiftright(h, j).bitwiseAND(1L) * 2L - 1L) > 0L,
        lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** Fast path for [[simhash32]]: one imperative pass computing each token's
    * md5 hash ONCE and voting all `bits` bits from it. At the default 32 it
    * is bit-identical to the Column path (pinned by DedupParitySpec) — the
    * pure-Column expression references the token-hash array in 32 aggregate
    * terms and Catalyst re-inlines it, paying 32 md5 passes per document
    * (measured 14 s for 5 k docs at sf0.1 vs ~0.3 s here). Output: (id, sh).
    *
    * `bits` up to 60 (the md5-derived hash width): WIDER fingerprints are
    * the scale knob for [[simhashNearDupPairs]] — 60-bit fingerprints with
    * 15-bit blocks hash into 32 768 candidate keys per band where 32/8-bit
    * gives only 256, keeping block buckets small as the corpus grows. */
  def simhashFast(df: DataFrame, textCol: String, idCol: String,
      bits: Int = 32): DataFrame = {
    require(bits > 0 && bits <= 60, s"simhash bits must be in (0, 60]: $bits")
    import org.apache.spark.sql.Encoders
    val in = df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.STRING))
    val out = in.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { case (id, text) =>
        val votes = new Array[Int](bits)
        // NULL text = no tokens (the Column path's when(...) yields sh 0)
        val safe = if (text == null) "" else text
        safe.split("\\s+").foreach { t =>
          if (t.nonEmpty) {
            val h = md5H60(md, t)
            var j = 0
            while (j < bits) {
              votes(j) += ((((h >>> j) & 1L) << 1) - 1L).toInt
              j += 1
            }
          }
        }
        var sh = 0L
        var j = 0
        while (j < bits) { if (votes(j) > 0) sh |= 1L << j; j += 1 }
        (id, sh)
      }
    }(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong))
    out.toDF("id", "sh")
  }

  /** Exact-duplicate groups: one row per distinct text, with occurrence
    * count and the keeper (min id). Map-side partial aggregation makes this
    * a single shuffle of distinct hashes. */
  def exactDupGroups(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("h"))
      .agg(count(lit(1)).as("cnt"), min(col(idCol)).as("keeper"))

  /** Segment-level (line/paragraph) exact dedup — the RefinedWeb/C4-style
    * pass that strips boilerplate REPEATED ACROSS documents (cookie
    * banners, nav bars, license headers) while keeping each segment's first
    * occurrence. Documents split on `delim` (a regex: "\\n{2,}" for
    * paragraphs, "\\n" for lines); segments are trimmed and empties
    * dropped; a segment SURVIVES iff it is the corpus-global first
    * occurrence of its content, "first" = smallest (document id, position).
    * Output: one row per document with >= 1 non-empty segment —
    * (id, n_segs, n_kept, clean_text) with the survivors rejoined by
    * `joiner` in original position order ("" when nothing survived).
    *
    * Scale shape: first-occurrence is a MIN-STRUCT AGGREGATE per content
    * hash — map-side combining, so a segment repeated a billion times
    * (exactly the boilerplate this targets) collapses to one row per map
    * partition BEFORE the shuffle, where a rank-1 window would funnel every
    * copy through one task. Then one equi-join back on the hash (AQE
    * splits residual probe-side skew) and one per-document regroup.
    * Reassembly cost is bounded by document size, never corpus size. */
  def dedupSegments(df: DataFrame, idCol: String, textCol: String,
      delim: String = "\\n{2,}", joiner: String = "\n\n"): DataFrame = {
    val segs = df
      .select(col(idCol).cast("long").as("id"),
        posexplode(split(col(textCol), delim)).as(Seq("idx", "seg")))
      .withColumn("seg", trim(col("seg")))
      .where(col("seg") =!= "")
      .withColumn("__h", md5(col("seg")))
    val first = segs.groupBy("__h")
      .agg(min(struct(col("id"), col("idx"))).as("__w"))
    segs.join(first, "__h")
      .withColumn("__keep",
        col("id") === col("__w.id") && col("idx") === col("__w.idx"))
      .groupBy("id")
      .agg(count(lit(1)).as("n_segs"),
        sum(when(col("__keep"), 1L).otherwise(0L)).as("n_kept"),
        array_join(
          transform(
            filter(
              sort_array(collect_list(
                struct(col("idx"), col("__keep").as("k"), col("seg")))),
              x => x.getField("k")),
            x => x.getField("seg")),
          joiner).as("clean_text"))
  }

  /** Cross-document duplicated-SPAN fraction at token n-gram granularity —
    * the fixed-width relational form of exact-substring dedup (Lee et al.,
    * ACL '22, "Deduplicating Training Data Makes Language Models Better"):
    * every length-`n` token window occurring more than once in the corpus
    * (anywhere — a second document OR a repeat inside the same one) is
    * duplicated; a document's `dup_frac` is the fraction of its token
    * positions covered by at least one duplicated window. The standard
    * corpus-health metric deciding whether substring-level dedup is worth
    * running, and the marking pass of the removal itself.
    *
    * Shape: windows explode straight off the token array (fused into the
    * scan), the occurrence count is ONE map-side-combining aggregate keyed
    * by the gram string (exact — no hash collisions; boilerplate grams
    * collapse per map partition before the shuffle), candidates
    * semi-join back, and per-doc coverage is the running-max interval
    * merge of [p, p+n) position spans — the
    * [[graft.operators.IntervalOps.mergeIntervals]] trick partitioned by
    * document, so no per-doc work exceeds document length. Docs shorter
    * than `n` tokens have no windows and score 0.
    * Output: (idCol, ntok, covered, dup_frac). */
  def dupSpanFraction(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    require(n >= 1, s"dupSpanFraction requires n >= 1, got $n")
    require(!Seq("ntok", "covered", "dup_frac").contains(idCol),
      s"this operator writes `ntok`/`covered`/`dup_frac`; rename id column `$idCol`")
    val (base, runs) = dupSpanRuns(df, idCol, textCol, n)
    val cov = runs
      .groupBy(col(idCol)).agg(sum(col("__e") - col("__s")).as("covered"))
    base.select(col(idCol), col("__ntok").as("ntok"))
      .join(cov, Seq(idCol), "left")
      .select(col(idCol), col("ntok"),
        coalesce(col("covered"), lit(0L)).as("covered"),
        round(when(col("ntok") > 0,
          coalesce(col("covered"), lit(0L)).cast("double") /
            col("ntok").cast("double")).otherwise(lit(0.0)), 6).as("dup_frac"))
  }

  /** The shared marking pass of exact-substring dedup: token windows
    * explode off the scan, duplicated grams (count > 1 corpus-wide,
    * cross-doc or within-doc) are found by ONE map-side-combining
    * aggregate keyed by the gram string, occurrences semi-join back, and
    * per-doc runs merge via the running-max interval trick partitioned by
    * document. Returns (base = (idCol, __toks, __ntok),
    * runs = (idCol, __grp, __s, __e) — merged covered [\_\_s, __e) token
    * position spans, 1-based). */
  private def dupSpanRuns(df: DataFrame, idCol: String, textCol: String,
      n: Int): (DataFrame, DataFrame) = {
    val (base, wins) = tokenWindows(df, idCol, textCol, n)
    val dupGrams = wins.groupBy("__gram").agg(count(lit(1)).as("__c"))
      .where(col("__c") > 1).select("__gram")
    (base, mergeRuns(wins.join(dupGrams, Seq("__gram"), "left_semi"), idCol, n))
  }

  /** (base = (idCol, __toks, __ntok), wins = (idCol, __p, __gram)) — every
    * length-`n` token window of every doc, 1-based position. */
  private def tokenWindows(df: DataFrame, idCol: String, textCol: String,
      n: Int): (DataFrame, DataFrame) = {
    val base = df.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .withColumn("__ntok", size(col("__toks")).cast("long"))
    val wins = base.where(col("__ntok") >= n)
      .select(col(idCol), col("__toks"),
        explode(sequence(lit(1L), col("__ntok") - (n - 1))).as("__p"))
      .select(col(idCol), col("__p"),
        concat_ws(" ", slice(col("__toks"), col("__p").cast("int"), lit(n)))
          .as("__gram"))
    (base, wins)
  }

  /** Merge the marked windows `dwins = (idCol, __p, ...)` into maximal
    * covered runs per doc — the running-max interval trick partitioned by
    * document. Returns (idCol, __grp, __s, __e), [\_\_s, __e) 1-based. */
  private def mergeRuns(dwins: DataFrame, idCol: String, n: Int): DataFrame = {
    val byDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("__p"))
    val runMax = max(col("__p") + n)
      .over(byDoc.rowsBetween(Long.MinValue, -1))
    val isNew = when(runMax.isNull || col("__p") > runMax, 1L).otherwise(0L)
    val grp = sum(isNew).over(byDoc.rowsBetween(Long.MinValue, 0))
    dwins.withColumn("__grp", grp)
      .groupBy(col(idCol), col("__grp"))
      .agg(min(col("__p")).as("__s"), (max(col("__p")) + n).as("__e"))
  }

  /** Exact-substring dedup, the REMOVAL pass (Lee et al., ACL '22): every
    * token position covered by a duplicated length-`n` window (the
    * [[dupSpanFraction]] marking — duplicated anywhere in the corpus,
    * another document or a repeat within the same one) is dropped, and the
    * surviving tokens reassemble in order. Both occurrences of a
    * duplicated span are removed — the paper's conservative variant, which
    * is order-independent and hence deterministic under any partitioning
    * (keep-first-occurrence needs a global document order, which a
    * distributed corpus doesn't have).
    *
    * Output: (idCol, ntok, n_kept, clean_text) — `clean_text` is the kept
    * tokens joined by single spaces (whitespace-normalized, like
    * [[dedupSegments]]' clean_text); docs shorter than `n` tokens pass
    * through whole, fully-covered docs come back empty ("" with
    * n_kept = 0), never dropped.
    *
    * Scale shape: on top of the marking pass's equi-joins/aggregates, the
    * rebuild adds NO extra shuffle beyond one per-doc aggregate of merged
    * run spans (bounded by ntok/n rows per doc): the kept-token filter is
    * a codegen'd array HOF over (token, position) pairs against the
    * doc's own run array — per-doc cost O(ntok × runs), never cross-doc. */
  def removeDupSpans(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    require(n >= 1, s"removeDupSpans requires n >= 1, got $n")
    require(!Seq("ntok", "n_kept", "clean_text").contains(idCol),
      s"this operator writes `ntok`/`n_kept`/`clean_text`; rename id column `$idCol`")
    val (base, runs) = dupSpanRuns(df, idCol, textCol, n)
    rebuildKept(base, runs, idCol)
  }

  /** [[removeDupSpans]] with Lee et al.'s KEEP-ONE semantics: for every
    * duplicated length-`n` window, one canonical occurrence SURVIVES — the
    * minimum (doc_id, position) occurrence, a deterministic global choice
    * that needs no document order beyond the id itself, so the result is
    * invariant under any partitioning — and every other occurrence is
    * marked for removal. This is what real corpora want: the conservative
    * both-occurrences variant ([[removeDupSpans]]) deletes popular
    * boilerplate EVERYWHERE, leaving no copy in the training set.
    *
    * Granularity caveat (inherent to span marking): the canonical
    * occurrence of gram g is never marked BY g, but a position inside it
    * can still fall to an OVERLAPPING duplicated gram whose canonical
    * occurrence lies elsewhere; a duplicated window overlapping no other
    * duplicated window keeps exactly one verbatim copy.
    *
    * Scale shape: identical to the marking pass — the canonical occurrence
    * rides the same gram-keyed aggregate as the count (a min over
    * (doc_id, pos) structs, map-side combining), then occurrences re-join
    * the (verified-duplicated) gram frame once. Output:
    * (idCol, ntok, n_kept, clean_text), like [[removeDupSpans]]. */
  def removeDupSpansKeepOne(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame = {
    require(n >= 1, s"removeDupSpansKeepOne requires n >= 1, got $n")
    require(!Seq("ntok", "n_kept", "clean_text").contains(idCol),
      s"this operator writes `ntok`/`n_kept`/`clean_text`; rename id column `$idCol`")
    val (base, wins) = tokenWindows(df, idCol, textCol, n)
    val dup = wins.groupBy("__gram")
      .agg(count(lit(1)).as("__c"),
        min(struct(col(idCol).as("__cid"), col("__p").as("__cp")))
          .as("__canon"))
      .where(col("__c") > 1)
      .select(col("__gram"), col("__canon.__cid").as("__cid"),
        col("__canon.__cp").as("__cp"))
    val marked = wins.join(dup, Seq("__gram"))
      .where(!(col(idCol) === col("__cid") && col("__p") === col("__cp")))
      .select(col(idCol), col("__p"))
    rebuildKept(base, mergeRuns(marked, idCol, n), idCol)
  }

  /** Reassemble each doc from the tokens OUTSIDE its covered runs: the
    * shared rebuild of [[removeDupSpans]] and [[decontaminateSpans]].
    * One per-doc aggregate of merged runs (bounded by ntok/n rows per
    * doc), then a codegen'd array-HOF filter — per-doc cost
    * O(ntok × runs), never cross-doc. */
  private def rebuildKept(base: DataFrame, runs: DataFrame,
      idCol: String): DataFrame = {
    val cov = runs.groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("__s"), col("__e")))).as("__cov"))
    val withPos = transform(col("__toks"),
      (t, i) => struct(t.as("t"), (i + 1).cast("long").as("p")))
    val kept = when(col("__cov").isNull, withPos)
      .otherwise(filter(withPos, x =>
        !exists(col("__cov"), c =>
          x.getField("p") >= c.getField("__s") &&
            x.getField("p") < c.getField("__e"))))
    base.join(cov, Seq(idCol), "left")
      .select(col(idCol), col("__ntok").as("ntok"),
        size(kept).cast("long").as("n_kept"),
        concat_ws(" ", transform(kept, _.getField("t"))).as("clean_text"))
  }

  /** Benchmark decontamination, the REMOVAL pass over
    * [[benchmarkContamination]]'s detection: every token position of a
    * corpus doc covered by a length-`n` token window that appears
    * ANYWHERE in the benchmark set loses its token, and the survivors
    * reassemble in order — the doc ships scrubbed instead of dropped
    * (span-level decontamination keeps the clean 99% of a page that
    * happens to quote one eval question; doc-level dropping is the
    * blunter q54-then-filter pipeline).
    *
    * Scale shape: the benchmark's distinct n-grams are (naturally tiny)
    * and BROADCAST into one semi-join against the corpus windows — the
    * corpus never shuffles for the marking; the rebuild is
    * [[removeDupSpans]]'s shared one-aggregate + array-HOF pass. Output:
    * (idCol, ntok, n_kept, clean_text). */
  def decontaminateSpans(corpus: DataFrame, idCol: String, textCol: String,
      benchmark: DataFrame, benchTextCol: String, n: Int): DataFrame = {
    require(n >= 1, s"decontaminateSpans requires n >= 1, got $n")
    require(!Seq("ntok", "n_kept", "clean_text").contains(idCol),
      s"this operator writes `ntok`/`n_kept`/`clean_text`; rename id column `$idCol`")
    val benchGrams = benchmark
      .select(explode(graft.functions.TextFunctions.tokenNgrams(
        col(benchTextCol), n)).as("__gram"))
      .distinct()
    val (base, wins) = tokenWindows(corpus, idCol, textCol, n)
    val dwins = wins.join(broadcast(benchGrams), Seq("__gram"), "left_semi")
    rebuildKept(base, mergeRuns(dwins, idCol, n), idCol)
  }

  /** EXACT edit-distance-≤1 pairs over a string column via the FastSS
    * deletion neighborhood (Bocek et al., 2007): a string's candidate key
    * set is itself plus every single-character deletion, and any two
    * strings at Levenshtein distance ≤ 1 provably share a key
    * (substitution at i → both i-deletions equal; insertion → the longer
    * one's deletion equals the shorter string itself). Candidates are a
    * bucketed equi-join on the key — never an all-pairs compare — then the
    * exact `levenshtein` verifies, so the output is exactly the distance-≤1
    * pair graph (typo/spelling-variant clustering, usually over the
    * DISTINCT token vocabulary so the join is vocabulary-sized, not
    * corpus-sized). Pairs found through several shared keys collapse via
    * one distinct on the id pair (pair volume is verified-small).
    * Output: (id_a, id_b, str_a, str_b, dist), `id_a < id_b`. */
  def editDistance1Pairs(df: DataFrame, idCol: String, strCol: String): DataFrame = {
    val s = col("__str")
    val dels = transform(sequence(lit(1), length(s)), i =>
      concat(s.substr(lit(1), i - lit(1)), s.substr(i + lit(1), length(s))))
    val keys = df
      .select(col(idCol).as("__id"), col(strCol).as("__str"))
      .select(col("__id"), col("__str"),
        explode(array_distinct(concat(array(s), dels))).as("__key"))
    keys.as("a").join(keys.as("b"),
        col("a.__key") === col("b.__key") && col("a.__id") < col("b.__id"))
      .where(levenshtein(col("a.__str"), col("b.__str")) <= 1)
      .select(col("a.__id").as("id_a"), col("b.__id").as("id_b"),
        col("a.__str").as("str_a"), col("b.__str").as("str_b"),
        levenshtein(col("a.__str"), col("b.__str")).cast("long").as("dist"))
      .distinct()
  }

  /** Jaccard over pre-hashed shingle sets (hash-set intersect/union — O(n),
    * no string rehashing; collisions at P ≈ 1e9 are negligible). */
  def hashJaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** One document's dedup state: hashed shingle set, MinHash signature,
    * per-band hashes. */
  final case class DocSignature(id: Long, hs: Array[Long], sig: Array[Long], bhs: Array[Long])

  /** Fast path: shingle-hash + MinHash + band hashes in ONE imperative pass
    * per partition. Produces bit-identical values to the Column-expression
    * path ([[shingleHashes]]/[[minhashFromHashes]]/[[bandHashes]] — asserted
    * by DedupParitySpec) but ~100x faster: Spark's higher-order functions
    * are interpreted (never codegen'd) and Catalyst re-inlines the k-wide
    * expression tree at every reuse, so the pure-Column pipeline pays
    * O(k · |shingles|) interpreted lambda calls per row per consumer.
    * This is exactly the "genuine per-partition imperative logic" case:
    * still a narrow, partition-parallel projection — no shuffle, no
    * driver-side data. */
  def signatures(df: DataFrame, textCol: String, idCol: String,
      k: Int = 16, bands: Int = 4, shingleN: Int = 5, seed: Long = 42L): DataFrame = {
    import org.apache.spark.sql.Encoders
    val params = hashParams(k, seed)
    val rowsPerBand = k / bands
    val in = df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.STRING))
    in.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      // mod P on the shared 60-bit hash — identical to
      // TextFunctions.tokenHashMod and DuckDB's ('0x'||substr(md5,1,15))::BIGINT % P
      def h60(s: String): Long = md5H60(md, s) % P
      it.map { case (id, text) =>
        val lowered = (if (text == null) "" else text).toLowerCase
        val seen = new java.util.HashSet[String]()
        val hsBuf = new scala.collection.mutable.ArrayBuffer[Long]()
        var i = 0
        val n = lowered.length
        while (i + shingleN <= n) {
          val sh = lowered.substring(i, i + shingleN)
          if (seen.add(sh)) hsBuf += h60(sh)
          i += 1
        }
        val hs = hsBuf.toArray
        val sig = Array.fill(k)(if (hs.isEmpty) -1L else Long.MaxValue)
        if (hs.nonEmpty) {
          var j = 0
          while (j < k) {
            val (a, b) = params(j)
            var m = Long.MaxValue
            var x = 0
            while (x < hs.length) {
              val v = (a * hs(x) + b) % P
              if (v < m) m = v
              x += 1
            }
            sig(j) = m
            j += 1
          }
        }
        val bhs =
          if (hs.isEmpty) Array.fill(bands)(-1L)
          else Array.tabulate(bands) { bnd =>
            var acc = 0L
            var r = 0
            while (r < rowsPerBand) { acc = (acc * 31L + sig(bnd * rowsPerBand + r)) % P; r += 1 }
            acc
          }
        DocSignature(id, hs, sig, bhs)
      }
    }(Encoders.product[DocSignature]).toDF()
  }

  /** One document's estimator-audit state: MinHash signature plus the RAW
    * distinct shingle strings (first-seen order — the order
    * `array_distinct` of [[TextFunctions.shingles]] produces). */
  final case class SigShingles(id: Long, sig: Array[Long], sh: Array[String])

  /** [[signatures]] variant that ALSO emits the raw distinct shingles in
    * the SAME single imperative pass — for estimator-vs-truth audits
    * (q127) that previously scanned and shuffled the corpus twice (one
    * signature frame, one shingle frame) and paid a join to glue them
    * back together. `sig` is bit-identical to [[signatures]]' (same
    * hashParams/md5-mod-P fold); `sh` equals
    * `array_distinct(charNGrams(lower(text), shingleN))` element for
    * element. Same scale shape as [[signatures]]: a narrow
    * partition-parallel projection, no shuffle. */
  def signaturesWithShingles(df: DataFrame, textCol: String, idCol: String,
      k: Int = 16, shingleN: Int = 5, seed: Long = 42L): DataFrame = {
    import org.apache.spark.sql.Encoders
    val params = hashParams(k, seed)
    val in = df.select(col(idCol).cast("long"), col(textCol).cast("string"))
      .as(Encoders.tuple(Encoders.scalaLong, Encoders.STRING))
    in.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      def h60(s: String): Long = md5H60(md, s) % P
      it.map { case (id, text) =>
        val lowered = (if (text == null) "" else text).toLowerCase
        val seen = new java.util.HashSet[String]()
        val shBuf = new scala.collection.mutable.ArrayBuffer[String]()
        val hsBuf = new scala.collection.mutable.ArrayBuffer[Long]()
        var i = 0
        val n = lowered.length
        while (i + shingleN <= n) {
          val sh = lowered.substring(i, i + shingleN)
          if (seen.add(sh)) { shBuf += sh; hsBuf += h60(sh) }
          i += 1
        }
        val hs = hsBuf.toArray
        val sig = Array.fill(k)(if (hs.isEmpty) -1L else Long.MaxValue)
        if (hs.nonEmpty) {
          var j = 0
          while (j < k) {
            val (a, b) = params(j)
            var m = Long.MaxValue
            var x = 0
            while (x < hs.length) {
              val v = (a * hs(x) + b) % P
              if (v < m) m = v
              x += 1
            }
            sig(j) = m
            j += 1
          }
        }
        SigShingles(id, sig, shBuf.toArray)
      }
    }(Encoders.product[SigShingles]).toDF()
  }

  /** End-to-end near-dup pipeline: MinHash → LSH banding → band equi-join →
    * Jaccard verification on the hashed shingle sets. Returns
    * (id_a, id_b, jaccard) with id_a < id_b and jaccard >= threshold.
    *
    * Scale design: the only shuffle is the (band, bandHash) equi-join; a
    * pair sharing several bands is kept exactly once — in the FIRST band
    * whose hashes agree (a residual predicate over the carried band-hash
    * arrays) — so no `distinct` shuffle and each pair is verified once.
    *
    * `maxBucket` (opt-in): a bucket of m signatures generates m·(m-1)/2
    * verification pairs, so one mega-bucket (boilerplate pages, tiny
    * shared vocabularies — a 2,600-doc bucket means 3.4 M Jaccard
    * verifications in ONE task) dominates the whole job. Buckets larger
    * than the cap are SKIPPED — the standard web-scale LSH recall trade.
    * A pair inside a skipped bucket is still found via any OTHER band
    * whose bucket survived: the capped path replaces the
    * first-agreeing-band residual (which would silently drop a pair whose
    * FIRST agreeing band was the skipped one) with a pair-level
    * dropDuplicates — one extra shuffle on the output-bound pair set.
    * Default None preserves exact LSH semantics and the shuffle-free
    * dedup; the oracle-checked entries run uncapped. */
  def nearDupPairs(df: DataFrame, textCol: String, idCol: String,
      k: Int = 16, bands: Int = 4, shingleN: Int = 5,
      threshold: Double = 0.5, maxBucket: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    import org.apache.spark.sql.types._
    // Bucket-grouped pair generation instead of a self-join: the signature
    // pass runs ONCE (a self-join evaluates it per side — Spark does not
    // reuse the exchange), and there is ONE shuffle (groupBy band+hash)
    // instead of two join children. Buckets are small by construction —
    // only genuine dup clusters grow, and those are output-bound anyway.
    // Empty shingle sets are dropped up front: their Jaccard against
    // anything is 0 (or NaN vs another empty) — never >= a positive
    // threshold, same visible output as the join formulation.
    require(threshold > 0.0, "nearDupPairs requires a positive threshold")
    require(maxBucket.forall(_ >= 2), s"maxBucket must be >= 2: $maxBucket")
    val sigs = signatures(df, textCol, idCol, k, bands, shingleN)
      .where(size(col("hs")) > 0)
    val buckets = sigs
      .select(col("id"), col("hs"), col("bhs"),
        posexplode(col("bhs")).as(Seq("band", "bh")))
      .groupBy("band", "bh")
      .agg(collect_list(struct(col("id"), col("hs"), col("bhs"))).as("g"))
      .where(size(col("g")) >= 2 &&
        maxBucket.map(m => size(col("g")) <= m).getOrElse(lit(true)))
      .select(col("band"), col("g"))
    val outSchema = StructType(Seq(
      StructField("id_a", LongType, nullable = false),
      StructField("id_b", LongType, nullable = false),
      StructField("jaccard", DoubleType, nullable = false)))
    val capped = maxBucket.isDefined
    val raw = buckets.flatMap { row =>
      val band = row.getInt(0)
      val g = row.getSeq[Row](1).sortBy(_.getLong(0))
      for {
        i <- g.indices.iterator
        j <- (i + 1 until g.length).iterator
        a = g(i); b = g(j)
        // uncapped: keep the pair only in its FIRST agreeing band (no
        // distinct shuffle). Capped: emit from EVERY surviving band (the
        // first agreeing band may be a skipped mega-bucket) and dedup
        // below — jaccard is a pure function of the pair, so duplicates
        // are value-identical.
        bhsA = a.getSeq[Long](2); bhsB = b.getSeq[Long](2)
        if capped ||
          bhsA.zip(bhsB).indexWhere { case (x, y) => x == y } == band
        jac = {
          val sa = a.getSeq[Long](1).toSet
          val sb = b.getSeq[Long](1).toSet
          val inter = (sa & sb).size.toDouble / (sa | sb).size
          BigDecimal(inter).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        }
        if jac >= threshold
      } yield Row(a.getLong(0), b.getLong(0), jac)
    }(Encoders.row(outSchema)).toDF()
    if (capped) raw.dropDuplicates("id_a", "id_b") else raw
  }

  /** EXACT Hamming-distance near-dup pairs over SimHash fingerprints
    * WITHOUT the all-pairs compare, via pigeonhole banding (the web-scale
    * simhash dedup shape — Manku et al., WWW '07): split the `bits`-bit
    * fingerprint into `bands` contiguous blocks; two fingerprints within
    * Hamming distance `maxDist` differ in at most `maxDist` blocks, so with
    * `bands > maxDist` they agree EXACTLY on at least one block. Candidate
    * generation is therefore ONE equi-join on (block index, block bits) —
    * bucketed, never broadcast-all-pairs — and the cheap `bit_count`
    * verification runs once per candidate, kept in the FIRST agreeing block
    * (a residual predicate, no distinct shuffle). The output pair set is
    * PROVABLY identical to the all-pairs plan.
    *
    * At very large corpora, widen the fingerprint so block-bucket occupancy
    * stays low: 32-bit/8-bit blocks hash into only 256 keys per band (each
    * bucket goes quadratic internally), while 64-bit fingerprints with
    * 16-bit blocks give 65 536 keys per band.
    *
    * Input: (id, sh) as produced by [[simhashFast]]; output (a, b), a < b,
    * one row per pair with Hamming distance <= `maxDist`. */
  def simhashNearDupPairs(sh: DataFrame, maxDist: Int = 2, bands: Int = 4,
      bits: Int = 32): DataFrame = {
    require(bands > maxDist,
      s"pigeonhole exactness needs bands > maxDist (got $bands <= $maxDist)")
    require(bits > 0 && bits <= 64 && bits % bands == 0,
      s"bits ($bits) must be in (0, 64] and divide evenly into $bands bands")
    val width = bits / bands
    val mask = if (width == 64) -1L else (1L << width) - 1L
    def block(c: Column, i: Int) = shiftright(c, i * width).bitwiseAND(lit(mask))
    // static unroll: bands is small, so the block array stays a flat
    // codegen expression (no lambda-bound shift amounts)
    val blocks = array((0 until bands).map(i =>
      struct(lit(i).as("band"), block(col("sh"), i).as("bb"))): _*)
    val e = sh.select(col("id"), col("sh"), explode(blocks).as("x"))
      .select(col("id"), col("sh"), col("x.band").as("band"), col("x.bb").as("bb"))
    val a = e.select(col("id").as("a"), col("sh").as("__sha"), col("band"), col("bb"))
    val b = e.select(col("id").as("b"), col("sh").as("__shb"), col("band"), col("bb"))
    val firstAgree = (0 until bands).foldRight(lit(-1): Column) { (i, acc) =>
      when(block(col("__sha"), i) === block(col("__shb"), i), lit(i)).otherwise(acc)
    }
    a.join(b, Seq("band", "bb"))
      .where(col("a") < col("b") && col("band") === firstAgree &&
        expr(s"bit_count(__sha ^ __shb)") <= maxDist)
      .select(col("a"), col("b"))
  }

  /** Persist a near-dup band index for INCREMENTAL dedup — the production
    * shape: the historical corpus pays the signature + explode cost once at
    * write time, and every new ingestion batch probes it without
    * recomputing anything over the history. One row per (band, bh, id),
    * carrying the doc's shingle-hash set (`hs`, for exact Jaccard
    * verification at probe time) and its band-hash array (`bhs`, for
    * first-agreeing-band pair dedup). Index size is proportional to the
    * corpus' total shingle count × 8 B × bands — the price of EXACT
    * verification; drop `hs` and verify by signature agreement if the
    * estimate suffices. */
  def writeBandIndex(df: DataFrame, textCol: String, idCol: String, path: String,
      k: Int = 16, bands: Int = 4, shingleN: Int = 5, seed: Long = 42L): Unit = {
    signatures(df, textCol, idCol, k, bands, shingleN, seed)
      .where(size(col("hs")) > 0)
      .select(col("id"), col("hs"), col("bhs"),
        posexplode(col("bhs")).as(Seq("band", "bh")))
      // spread the index over (band, bh): a few-partition source (one
      // row group, one gzip file) would otherwise funnel the signature
      // build AND every later probe scan through a single file/task
      .repartition(col("band"), col("bh"))
      .write.mode("overwrite").parquet(path)
    // data-then-sidecar: the fresh sidecar must describe the fresh data (an
    // interrupted overwrite is corrupt parquet with or without a sidecar)
    writeIndexSidecar(df.sparkSession, path, k, bands, shingleN, seed)
  }

  /** INCREMENTAL maintenance of a [[writeBandIndex]] index — the append
    * path a 100 TB corpus actually takes (users ingest; nobody rebuilds
    * the history's signatures per batch): the new batch pays its own
    * signature + explode cost and its (band, bh) rows land as NEW parquet
    * files next to the history's. Index rows are per-document and
    * independent, so append ≡ rebuild EXACTLY: the merged index holds the
    * same row set as [[writeBandIndex]] over the union corpus, and every
    * probe result is identical (pinned by spec and by the q203 oracle
    * row). Parameters must match the index's sidecar — a mismatched
    * append would poison the index with hashes that never collide, so it
    * is rejected at plan time; the sidecar itself is re-published last
    * (same params, fresh mtime) so external content stamps keyed on index
    * files see the change. Caller owns id-uniqueness across batches (a
    * re-ingested doc_id would probe against its own old rows — run
    * [[nearDupAgainstIndex]] BEFORE appending, the natural order). */
  def appendToBandIndex(newDocs: DataFrame, textCol: String, idCol: String,
      path: String, k: Int = 16, bands: Int = 4, shingleN: Int = 5,
      seed: Long = 42L): Unit = {
    val meta = readIndexMeta(newDocs.sparkSession, path)
    require(meta.nonEmpty,
      s"no band index at $path (missing $IndexMetaFile) — write one with " +
        "writeBandIndex before appending")
    requireIndexParams(newDocs.sparkSession, path, k, bands, shingleN, seed)
    signatures(newDocs, textCol, idCol, k, bands, shingleN, seed)
      .where(size(col("hs")) > 0)
      .select(col("id"), col("hs"), col("bhs"),
        posexplode(col("bhs")).as(Seq("band", "bh")))
      .repartition(col("band"), col("bh"))
      .write.mode("append").parquet(path)
    writeIndexSidecar(newDocs.sparkSession, path, k, bands, shingleN, seed)
  }

  /** Tombstone DELETE from a [[writeBandIndex]] index — the third leg of
    * the index lifecycle (build → append → DELETE → compact) a 100 TB
    * corpus needs for takedowns / GDPR erasure / re-crawl retractions. A
    * physical rewrite per delete batch would re-shuffle the whole posting
    * history for a handful of ids, so deletion is LOGICAL: the ids land in
    * an append-only `_graft_band_tombstones/` parquet set inside the index
    * directory (underscore-prefixed — Spark's file listing treats it as
    * hidden, so plain index reads never see it), and every probe
    * anti-joins the (small, broadcast) tombstone set before matching.
    * Probe-over-deleted ≡ probe-over-rebuilt EXACTLY: index rows are
    * per-document and independent, so removing a doc's rows from the
    * match set is the same visible output as never having indexed it
    * (pinned by spec and by the q209 oracle row). Reclaim the bytes — and
    * re-enable re-ingesting a deleted id — with [[compactBandIndex]].
    * NOTE: tombstones kill ids, not row versions; re-appending a deleted
    * id before compaction would leave its fresh rows masked too. The
    * sidecar is re-published last (same params, fresh mtime) so external
    * content stamps keyed on index files see the change. */
  def deleteFromBandIndex(ids: DataFrame, idCol: String, path: String): Unit = {
    val sp = ids.sparkSession
    require(readIndexMeta(sp, path).nonEmpty,
      s"no band index at $path (missing $IndexMetaFile) — write one with " +
        "writeBandIndex before deleting")
    // one file per delete batch: tombstone batches are id-sized, and a
    // single file keeps the probe-side broadcast read cheap
    ids.select(col(idCol).cast("long").as("id")).distinct()
      .coalesce(1)
      .write.mode("append").parquet(s"$path/$TombstoneDir")
    val (k, b, s, seed) = readIndexMeta(sp, path).get
    writeIndexSidecar(sp, path, k, b, s, seed)
  }

  /** The index's tombstoned ids, if any delete batch has been recorded —
    * one `id` column, de-duplicated across batches. */
  def bandTombstones(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(path, TombstoneDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else Some(spark.read.parquet(p.toString).select("id").distinct())
  }

  /** Physical COMPACTION of a tombstoned [[writeBandIndex]] index: rewrite
    * the surviving rows, drop the tombstone set, re-publish the sidecar.
    * The one full-rewrite cost of the lifecycle — paid on an operator's
    * schedule (storage-reclaim thresholds), never per delete batch. The
    * rewrite stages into a sibling `<path>.compacting` directory and swaps
    * via two renames. The swap is NOT atomic: between rename(cur→old) and
    * rename(stage→cur) the index path briefly does not exist, so the
    * contract is SINGLE WRITER, NO CONCURRENT READERS during compaction
    * (schedule it in a maintenance window, exactly like the managed-table
    * stage swaps the BM25/IVF indexes use). A crash between the renames
    * strands the only copy at the `<path>.old-<uuid>` location — that path
    * is logged (and echoed to stderr) BEFORE the first rename so the
    * recovery is a single rename back. The tombstone set vanishes with the
    * old directory, so compaction also re-opens the door for re-ingesting
    * a previously deleted id. No-op when nothing is tombstoned. */
  def compactBandIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = bandTombstones(spark, path).foreach { t =>
    val (k, b, s, seed) = readIndexMeta(spark, path).getOrElse(
      throw new IllegalArgumentException(
        s"no band index at $path (missing $IndexMetaFile)"))
    val stage = s"$path.compacting"
    spark.read.parquet(path)
      .join(broadcast(t), Seq("id"), "left_anti")
      .repartition(col("band"), col("bh"))
      .write.mode("overwrite").parquet(stage)
    writeIndexSidecar(spark, stage, k, b, s, seed)
    val conf = spark.sparkContext.hadoopConfiguration
    val cur = new org.apache.hadoop.fs.Path(path)
    val fs = cur.getFileSystem(conf)
    val old = new org.apache.hadoop.fs.Path(s"$path.old-${java.util.UUID.randomUUID()}")
    // announce the retreat path before touching anything: if the JVM dies
    // between the two renames, the sole complete copy lives at `old` and
    // recovery is `rename(old, cur)`
    Console.err.println(
      s"[graft] compactBandIndex: swapping $cur (old copy parked at $old; " +
        "if this process dies mid-swap, rename it back)")
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(cur.toUri, conf)
    fc.rename(cur, old)
    fc.rename(new org.apache.hadoop.fs.Path(stage), cur)
    fs.delete(old, true)
    ()
  }

  private val TombstoneDir = "_graft_band_tombstones"

  private val IndexMetaFile = "_graft_band_index.json"

  /** Atomic sidecar publish (temp + overwriting rename — readers see either
    * the old or the new complete JSON, never a torn write). Records the
    * signature parameters so probes can reject a mismatched configuration
    * instead of silently joining to nothing. */
  private def writeIndexSidecar(spark: org.apache.spark.sql.SparkSession,
      path: String, k: Int, bands: Int, shingleN: Int, seed: Long): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new org.apache.hadoop.fs.Path(path).getFileSystem(conf)
    val target = new org.apache.hadoop.fs.Path(path, IndexMetaFile)
    val tmp = new org.apache.hadoop.fs.Path(path,
      s".$IndexMetaFile.tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, true)
    out.write(s"""{"k":$k,"bands":$bands,"shingleN":$shingleN,"seed":$seed}"""
      .getBytes("UTF-8"))
    out.close()
    org.apache.hadoop.fs.FileContext.getFileContext(target.toUri, conf)
      .rename(tmp, target, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Signature parameters recorded by [[writeBandIndex]], if the index has a
    * sidecar (indexes written by other tools may not). */
  def readIndexMeta(spark: org.apache.spark.sql.SparkSession,
      path: String): Option[(Int, Int, Int, Long)] = {
    val p = new org.apache.hadoop.fs.Path(path, IndexMetaFile)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val txt = scala.io.Source.fromInputStream(in, "UTF-8").mkString
      in.close()
      val m = """"k":(\d+),"bands":(\d+),"shingleN":(\d+),"seed":(-?\d+)""".r
        .findFirstMatchIn(txt)
        .getOrElse(throw new IllegalStateException(s"malformed $IndexMetaFile: $txt"))
      Some((m.group(1).toInt, m.group(2).toInt, m.group(3).toInt, m.group(4).toLong))
    }
  }

  private def requireIndexParams(spark: org.apache.spark.sql.SparkSession,
      path: String, k: Int, bands: Int, shingleN: Int, seed: Long): Unit =
    readIndexMeta(spark, path).foreach { case (ik, ib, is, isd) =>
      require(ik == k && ib == bands && is == shingleN && isd == seed,
        s"band index at $path was written with (k=$ik, bands=$ib, " +
          s"shingleN=$is, seed=$isd) but the probe uses (k=$k, bands=$bands, " +
          s"shingleN=$shingleN, seed=$seed) — hashes would never collide")
    }

  /** Load a [[writeBandIndex]] index in the streaming corpus-band schema
    * (`corpus_id`/`corpus_hs`/`corpus_bhs` + (band, bh)), parameters from the
    * sidecar attached as column metadata — the bridge that lets a document
    * STREAM probe the persisted historical index via the stateless
    * stream-static join in `StreamingDedup.nearDupAgainstCorpus`. */
  def loadBandIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame = {
    val mb = new org.apache.spark.sql.types.MetadataBuilder()
    readIndexMeta(spark, path).foreach { case (k, b, s, seed) =>
      mb.putLong("graft.k", k.toLong).putLong("graft.bands", b.toLong)
        .putLong("graft.shingleN", s.toLong).putLong("graft.seed", seed)
    }
    // same tombstone mask as the batch probe: a deleted doc must vanish
    // from the stream-static join's static side too
    bandTombstones(spark, path).foldLeft(spark.read.parquet(path))(
        (i, t) => i.join(broadcast(t), Seq("id"), "left_anti"))
      .select(col("band"), col("bh"), col("id").as("corpus_id"),
        col("hs").as("corpus_hs"), col("bhs").as("corpus_bhs", mb.build()))
  }

  /** Probe a [[writeBandIndex]] index with a new document batch: returns
    * (new_id, index_id, jaccard) for every cross pair whose exact hashed
    * Jaccard ≥ `threshold`. Same algorithm as [[nearDupPairs]] restricted
    * to (new × indexed) pairs — candidate generation is ONE equi-join on
    * (band, bh); a pair colliding in several bands is kept exactly once,
    * in the first band whose hashes agree (`zip_with` + `array_position`
    * residual — no distinct shuffle); verification runs once per pair on
    * the stored hash sets. The history never recomputes: only the index
    * parquet is read. Parameters must match the index's write-time values
    * (seed included) or band hashes would never collide — a mismatch is
    * rejected at plan time via the sidecar written by [[writeBandIndex]]. */
  def nearDupAgainstIndex(newDocs: DataFrame, textCol: String, idCol: String,
      indexPath: String, threshold: Double = 0.5,
      k: Int = 16, bands: Int = 4, shingleN: Int = 5, seed: Long = 42L,
      broadcastProbe: Boolean = true): DataFrame = {
    require(threshold > 0.0, "nearDupAgainstIndex requires a positive threshold")
    val sp = newDocs.sparkSession
    requireIndexParams(sp, indexPath, k, bands, shingleN, seed)
    // tombstone mask ([[deleteFromBandIndex]]): ids deleted since the last
    // compaction anti-join out of the match set — the tombstone frame is
    // delete-batch-sized, so the mask is a broadcast, never a shuffle of
    // the index
    val idx = bandTombstones(sp, indexPath).foldLeft(
      sp.read.parquet(indexPath))((i, t) => i.join(broadcast(t), Seq("id"), "left_anti"))
    probeIndex(idx, newDocs, textCol, idCol, threshold, k, bands, shingleN,
      seed, broadcastProbe)
  }

  /** The shared probe: `idx` carries (band, bh, id, hs, bhs) rows from any
    * source (path parquet, bucketed table). One (band, bh) equi-join,
    * first-agreeing-band pair dedup, exact-Jaccard verify.
    *
    * Join shape is EXPLICIT, not left to size estimates: the probe rows
    * carry the signature hash-set arrays, which inflate the batch ~100×
    * over its scan-size estimate, so leaving the build side to the
    * optimizer is roulette. `broadcastProbe = true` (default) broadcasts
    * the batch DELIBERATELY — the production contract (ingestion batches
    * are bounded; the index side never moves, bucketed tables read
    * co-located with zero exchange) and the measured fastest plan even
    * for corpus-sized fixture batches (16×: 9.5 s vs 25 s sort-merge;
    * a two-phase thin-candidate rewrite was measured 3.7× slower at 1×
    * from double signature CPU and reverted). Pass `false` for a batch
    * too large to broadcast — the probe then sort-merge-joins, any size
    * safe at the price of shuffling both sides' arrays. */
  private def probeIndex(idx0: DataFrame, newDocs: DataFrame,
      textCol: String, idCol: String, threshold: Double,
      k: Int, bands: Int, shingleN: Int, seed: Long,
      broadcastProbe: Boolean): DataFrame = {
    val idx = idx0.select(col("band"), col("bh"), col("id").as("index_id"),
      col("hs").as("idx_hs"), col("bhs").as("idx_bhs"))
    val probe0 = signatures(newDocs, textCol, idCol, k, bands, shingleN, seed)
      .where(size(col("hs")) > 0)
      .select(col("id").as("new_id"), col("hs").as("new_hs"),
        col("bhs").as("new_bhs"), posexplode(col("bhs")).as(Seq("band", "bh")))
    val probe = if (broadcastProbe) broadcast(probe0) else probe0.hint("merge")
    probe.join(idx, Seq("band", "bh"))
      .where(array_position(
        zip_with(col("new_bhs"), col("idx_bhs"), (x, y) => x === y),
        true) - 1 === col("band"))
      .select(col("new_id"), col("index_id"),
        round(size(array_intersect(col("new_hs"), col("idx_hs")))
          .cast("double") /
          size(array_union(col("new_hs"), col("idx_hs"))), 6).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** Bucketed-TABLE band index — the repeated-probe shape at cluster
    * scale: the index is saved `bucketBy(nBuckets, band, bh)` + sorted, so
    * every future probe's (band, bh) equi-join reads the history
    * CO-LOCATED AND PRE-SORTED — only the (small) new batch shuffles; the
    * historical index never moves again after the one shuffle paid at
    * write time. Use over [[writeBandIndex]] when the index is probed by
    * every pipeline run (a daily-crawl dedup service); the parquet-path
    * variant remains for one-off or filesystem-level workflows. Signature
    * parameters travel in the catalog schema's `bhs` column metadata;
    * mismatched probes are rejected at plan time. */
  def writeBandIndexTable(df: DataFrame, textCol: String, idCol: String,
      tableName: String, nBuckets: Int, k: Int = 16, bands: Int = 4,
      shingleN: Int = 5, seed: Long = 42L): Unit = {
    require(nBuckets > 0, "nBuckets must be positive")
    val meta = new org.apache.spark.sql.types.MetadataBuilder()
      .putLong("graft.k", k.toLong).putLong("graft.bands", bands.toLong)
      .putLong("graft.shingleN", shingleN.toLong).putLong("graft.seed", seed)
      .build()
    graft.sources.ManagedTables.clearOrphanedLocation(df.sparkSession, tableName)
    signatures(df, textCol, idCol, k, bands, shingleN, seed)
      .where(size(col("hs")) > 0)
      .select(col("id"), col("hs"), col("bhs").as("bhs", meta),
        posexplode(col("bhs")).as(Seq("band", "bh")))
      .write.format("parquet")
      .bucketBy(nBuckets, "band", "bh").sortBy("band", "bh")
      .mode("overwrite").saveAsTable(tableName)
  }

  /** Probe a [[writeBandIndexTable]] index: same contract as
    * [[nearDupAgainstIndex]], with the history side read from its bucket
    * layout (no shuffle, no sort on the index side of the join). */
  def nearDupAgainstIndexTable(newDocs: DataFrame, textCol: String,
      idCol: String, tableName: String, threshold: Double = 0.5,
      k: Int = 16, bands: Int = 4, shingleN: Int = 5,
      seed: Long = 42L, broadcastProbe: Boolean = true): DataFrame = {
    require(threshold > 0.0, "nearDupAgainstIndexTable requires a positive threshold")
    val idx = newDocs.sparkSession.table(tableName)
    val cm = idx.schema("bhs").metadata
    if (cm.contains("graft.k")) {
      val (ik, ib, is, isd) = (cm.getLong("graft.k"), cm.getLong("graft.bands"),
        cm.getLong("graft.shingleN"), cm.getLong("graft.seed"))
      require(ik == k && ib == bands && is == shingleN && isd == seed,
        s"band index table $tableName was written with (k=$ik, bands=$ib, " +
          s"shingleN=$is, seed=$isd) but the probe uses (k=$k, bands=$bands, " +
          s"shingleN=$shingleN, seed=$seed) — hashes would never collide")
    }
    // tombstone mask ([[deleteFromBandIndexTable]]) — broadcast, the
    // bucketed index side stays shuffle-free
    val sp = newDocs.sparkSession
    val live =
      if (sp.catalog.tableExists(s"${tableName}_tombstones"))
        idx.join(broadcast(
          sp.table(s"${tableName}_tombstones").select("id").distinct()),
          Seq("id"), "left_anti")
      else idx
    probeIndex(live, newDocs, textCol, idCol, threshold, k, bands, shingleN,
      seed, broadcastProbe)
  }

  /** [[deleteFromBandIndex]] for the bucketed-TABLE index: ids append
    * into a `<name>_tombstones` table that every probe anti-joins; same
    * contract (ids not versions; re-ingest after compaction only). */
  def deleteFromBandIndexTable(ids: DataFrame, idCol: String,
      tableName: String): Unit = {
    val sp = ids.sparkSession
    require(sp.catalog.tableExists(tableName),
      s"no band index table at $tableName (write one with " +
        "writeBandIndexTable before deleting)")
    if (!sp.catalog.tableExists(s"${tableName}_tombstones"))
      graft.sources.ManagedTables.clearOrphanedLocation(sp, s"${tableName}_tombstones")
    ids.select(col(idCol).cast("long").as("id")).distinct()
      .write.format("parquet").mode("append")
      .saveAsTable(s"${tableName}_tombstones")
  }

  /** [[compactBandIndex]] for the bucketed-TABLE index: rewrite the
    * surviving rows through a stage table (Spark cannot overwrite a table
    * that is an input of the writing plan), re-bucketed identically, then
    * drop the tombstones. No-op when nothing is tombstoned. */
  def compactBandIndexTable(sp: org.apache.spark.sql.SparkSession,
      tableName: String): Unit = {
    if (!sp.catalog.tableExists(s"${tableName}_tombstones")) return
    val spec = sp.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(tableName)).bucketSpec
    require(spec.nonEmpty, s"$tableName is not a bucketed index table")
    val t = sp.table(s"${tableName}_tombstones").select("id").distinct()
    val survivors = sp.table(tableName).join(broadcast(t), Seq("id"), "left_anti")
    graft.sources.ManagedTables.clearOrphanedLocation(sp, s"${tableName}_stage")
    survivors.write.format("parquet")
      .bucketBy(spec.get.numBuckets, "band", "bh").sortBy("band", "bh")
      .mode("overwrite").saveAsTable(s"${tableName}_stage")
    graft.sources.ManagedTables.clearOrphanedLocation(sp, tableName)
    sp.table(s"${tableName}_stage")
      .write.format("parquet")
      .bucketBy(spec.get.numBuckets, "band", "bh").sortBy("band", "bh")
      .mode("overwrite").saveAsTable(tableName)
    sp.sql(s"DROP TABLE IF EXISTS ${tableName}_stage")
    sp.sql(s"DROP TABLE IF EXISTS ${tableName}_tombstones")
    ()
  }

  /** [[appendToBandIndex]] for the bucketed-TABLE index: the new batch's
    * rows append into the EXISTING bucket layout (numBuckets read from the
    * catalog, so the layout can never fork), paying one shuffle of the
    * batch only — the history never moves, and probes keep their
    * shuffle-free index side. Append ≡ rebuild for the same reason as the
    * path variant. */
  def appendToBandIndexTable(newDocs: DataFrame, textCol: String,
      idCol: String, tableName: String, k: Int = 16, bands: Int = 4,
      shingleN: Int = 5, seed: Long = 42L): Unit = {
    val sp = newDocs.sparkSession
    val idx = sp.table(tableName)
    val cm = idx.schema("bhs").metadata
    if (cm.contains("graft.k")) {
      val (ik, ib, is, isd) = (cm.getLong("graft.k"), cm.getLong("graft.bands"),
        cm.getLong("graft.shingleN"), cm.getLong("graft.seed"))
      require(ik == k && ib == bands && is == shingleN && isd == seed,
        s"band index table $tableName was written with (k=$ik, bands=$ib, " +
          s"shingleN=$is, seed=$isd) but the append uses (k=$k, bands=$bands, " +
          s"shingleN=$shingleN, seed=$seed) — the merged index would be poisoned")
    }
    val spec = sp.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(tableName)).bucketSpec
    require(spec.nonEmpty, s"$tableName is not a bucketed index table")
    signatures(newDocs, textCol, idCol, k, bands, shingleN, seed)
      .where(size(col("hs")) > 0)
      .select(col("id"), col("hs"), col("bhs"),
        posexplode(col("bhs")).as(Seq("band", "bh")))
      .write.format("parquet")
      .bucketBy(spec.get.numBuckets, "band", "bh").sortBy("band", "bh")
      .mode("append").saveAsTable(tableName)
  }

  /** Benchmark decontamination: for every corpus document, the number of
    * distinct token `n`-grams it shares with the benchmark (eval) set —
    * the standard pre-training contamination check (docs with hits get
    * dropped or flagged before the corpus ships). Output: (id, n_hits),
    * contaminated documents only.
    *
    * Scale shape: ONE equi-join on the n-gram's 60-bit md5 hash
    * ([[TextFunctions.tokenNgramHashes]] — the imperative one-pass explode).
    * The benchmark side is tiny by nature (eval sets are thousands of
    * documents) — its distinct hash set broadcasts as bare longs (~8 B per
    * n-gram instead of the full string), so the corpus never shuffles and
    * the probe compares longs, not strings; the per-doc count is a
    * map-side-combining aggregation on the id. The oracle replays the same
    * md5-derived hash on both sides, so the comparison stays exact even
    * under a (cosmically unlikely) 60-bit collision. */
  def benchmarkContamination(corpus: DataFrame, benchmark: DataFrame,
      textCol: String, idCol: String, n: Int = 3): DataFrame = {
    val bench = TextFunctions.tokenNgramHashes(benchmark, lit(0L), col(textCol), n)
      .select(col("__h")).distinct()
    TextFunctions.tokenNgramHashes(corpus, col(idCol), col(textCol), n)
      .select(col("id"), col("__h"))
      .join(org.apache.spark.sql.functions.broadcast(bench), "__h")
      .groupBy("id")
      .agg(count(lit(1)).as("n_hits")) // corpus n-grams pre-deduped per doc
  }

  /** Connected components over a near-dup pair graph: assigns every node the
    * MINIMUM reachable id as its cluster representative — pairs alone don't
    * dedupe a corpus; the pipeline keeps one document per component.
    *
    * The edge set of a dedup graph is sparse relative to the corpus (one
    * edge per near-dup pair), so up to `localEdgeLimit` edges the components
    * are solved with a driver-side union-find (milliseconds, zero extra
    * jobs) and joined back as a broadcast map — the same bounded-collect
    * trade the sweep join makes for its partition bounds. Driver-heap
    * contract: edges collect as primitive (Long, Long) tuples at ~32 B
    * per edge, so the default 1 M cap costs ~32 MB of driver heap; raise it
    * only with the driver sized to match. Above the limit, FILTERING
    * CONTRACTION passes (per-partition spanning forests — see
    * [[componentsDistributed]]) shrink the edge set until it fits the cap,
    * then the driver union-find finishes; only a graph whose global
    * spanning forest alone exceeds the cap falls back to distributed
    * min-label propagation with pointer jumping (`rep := rep(rep)` halves
    * label paths, so O(log n) rounds even on a chain), each round a pair
    * of small joins with lineage cut by an eager localCheckpoint.
    *
    * `pairs` needs `a`/`b` long columns (one row per undirected edge);
    * `nodes` one `id` long column. Output: (id, rep). */
  def connectedComponents(pairs: DataFrame, nodes: DataFrame,
      maxIter: Int = 30, localEdgeLimit: Long = 1000000L): DataFrame = {
    // Materialize the (possibly expensive) pair join exactly ONCE on the
    // executors; count and collect then read the checkpoint. A limit+collect
    // probe would re-run the join per CollectLimit scale-up round, and a
    // count+collect pair would run it twice.
    val edgesDf = pairs.select(col("a").cast("long"), col("b").cast("long"))
      .localCheckpoint(true)
    if (edgesDf.count() <= localEdgeLimit) {
      // collect as SPECIALIZED (Long, Long) tuples — 2 primitive fields per
      // edge (~32 B), not GenericRow + boxed Longs (~90 B): the default 1 M
      // edges costs ~32 MB of driver heap (vs ~90 MB as Rows). Raising
      // localEdgeLimit raises that bill linearly at ~32 B/edge — size the
      // driver accordingly, or lower it and let the distributed
      // pointer-jumping path take over (slower per call: O(log n) join
      // rounds).
      import org.apache.spark.sql.Encoders
      val edges = edgesDf
        .as(Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)).collect()
      return componentsViaUnionFind(edges, nodes)
    }
    componentsDistributed(edgesDf, nodes, maxIter, localEdgeLimit)
  }

  /** Near-dup cluster canonicalization — the dedup POLICY step: given the
    * near-dup pair graph and a per-document quality score, cluster by
    * connected components and keep ONE representative per cluster — the
    * highest-quality member, ties broken by smallest id (so "first wins"
    * among equals, matching [[dedupSegments]]' rule).
    *
    * This is what production pipelines actually do with near-dup output:
    * not "drop everything that collided", but "keep the best copy". The
    * selection is a max-struct over an unordered window partitioned by
    * cluster — ONE cluster-keyed shuffle for both the winner and the
    * cluster size (a groupBy + join-back would shuffle the same rows
    * twice). Cluster count ~ doc count, so the representative frame is
    * never broadcast.
    *
    * `pairs`: (a, b) long edge list (e.g. [[nearDupPairs]] ids or
    * [[simhashNearDupPairs]]); `docs`: (id, quality) with one row per
    * document (docs absent from every pair become singleton clusters and
    * keep themselves). Output: (doc_id, cluster, canon_id, csize, kept).
    */
  def canonicalByQuality(pairs: DataFrame, docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cc = connectedComponents(pairs, docs.select(col("id")))
    val w = Window.partitionBy("cluster")
    cc.join(docs, "id")
      .select(col("id").as("doc_id"), col("rep").as("cluster"), col("quality"))
      .withColumn("__w", max(struct(col("quality"), (-col("doc_id")).as("negid"))).over(w))
      .withColumn("csize", count(lit(1)).over(w))
      .select(col("doc_id"), col("cluster"),
        (-col("__w.negid")).as("canon_id"), col("csize"),
        (col("doc_id") === -col("__w.negid")).as("kept"))
  }

  private def componentsViaUnionFind(
      edges: Array[(Long, Long)], nodes: DataFrame): DataFrame = {
    val spark = nodes.sparkSession
    import scala.collection.mutable
    val parent = mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      // path compression
      var c = x
      while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val mapping = parent.keys.toSeq.map(k => (k, find(k)))
    import spark.implicits._
    val mapDf = mapping.toDF("id", "__rep")
    nodes.select(col("id"))
      .join(org.apache.spark.sql.functions.broadcast(mapDf), Seq("id"), "left")
      .select(col("id"), coalesce(col("__rep"), col("id")).as("rep"))
  }

  /** FILTERING CONTRACTION (the MSF-sparsification idea behind Borůvka-
    * style MapReduce CC): a per-partition union-find keeps only the edges
    * that merge two locally-unconnected sets — a spanning forest of each
    * partition's subgraph. A dropped edge is globally redundant: its
    * endpoints stay connected through kept forest edges, so the union's
    * component structure is INVARIANT under the filter (for any
    * partitioning — the kept edge set varies, the components never do).
    * Each pass bounds a partition's surviving edges by its distinct local
    * node count, so dense dedup graphs collapse by their density factor
    * per pass; coalescing to 4× fewer partitions between passes keeps
    * merging forests until the remainder fits `localEdgeLimit`, where the
    * driver union-find finishes in milliseconds. Measured at the 16×
    * scale-up corpus (80 k nodes, 1.1 M edges): 2 contraction passes +
    * driver finish ≈ 3 s, vs 219 s for 22 rounds of min-label
    * pointer-jumping on the same graph — label propagation pays ~5 jobs
    * per round and its late rounds degenerate on the giant component.
    * Only a graph whose global spanning forest STILL exceeds the cap
    * (>localEdgeLimit nodes in nontrivial components — already minimal,
    * nothing to contract) falls through to the pointer-jumping loop.
    * Per-task memory: the union-find maps a partition's distinct local
    * nodes (~48 B/node); size partitions so a partition's node set fits
    * an executor core's heap share. */
  private def componentsDistributed(pairs: DataFrame, nodes: DataFrame,
      maxIter: Int, localEdgeLimit: Long): DataFrame = {
    import org.apache.spark.sql.Encoders
    val tup = Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    def forest(e: org.apache.spark.sql.Dataset[(Long, Long)]) =
      e.mapPartitions { it =>
        val parent = scala.collection.mutable.LongMap.empty[Long]
        def find(x: Long): Long = {
          var r = x
          while (parent.getOrElse(r, r) != r) r = parent(r)
          var c = x
          while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
          r
        }
        it.filter { case (a, b) =>
          val ra = find(a); val rb = find(b)
          if (ra == rb) false
          else { parent(math.max(ra, rb)) = math.min(ra, rb); true }
        }
      }(tup)
    var e = pairs.select(col("a"), col("b")).as(tup)
    var cnt = Long.MaxValue // caller established only cnt > localEdgeLimit
    // initial coalesce width from the LOGICAL plan (a `.rdd` here forces
    // physical planning of the pairs subtree outside AQE — the Scans
    // issue, same class). The pairs frame is a post-shuffle subtree, so
    // the estimate saturates and the core count is the bound.
    var parts = math.min(
      graft.sources.Scans.estimatedMapParallelism(e.toDF()),
      e.sparkSession.sparkContext.defaultParallelism)
    var stalled = false
    var pass = 0
    while (cnt > localEdgeLimit && !stalled && pass < maxIter) {
      val contracted = forest(e).localCheckpoint(true)
      val c2 = contracted.count()
      stalled = c2 == cnt && parts <= 1
      e = contracted
      if (c2 > localEdgeLimit && parts > 1) {
        parts = math.max(1, parts / 4)
        // narrow coalesce over the checkpointed blocks — merged partitions
        // let the next pass union forests without a shuffle
        e = e.coalesce(parts)
      }
      cnt = c2
      pass += 1
    }
    if (cnt <= localEdgeLimit) componentsViaUnionFind(e.collect(), nodes)
    else componentsPointerJump(e.toDF("a", "b"), nodes, maxIter)
  }

  /** Min-label propagation with pointer jumping — the fallback for graphs
    * whose spanning forest alone exceeds the driver cap. O(log n) rounds,
    * ~5 jobs per round. */
  private def componentsPointerJump(pairs: DataFrame, nodes: DataFrame,
      maxIter: Int): DataFrame = {
    val sym = pairs.select(col("a"), col("b"))
      .unionAll(pairs.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint(true)
    var labels = nodes.select(col("id"), col("id").as("rep")).localCheckpoint(true)
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIter) {
      val nbr = sym.join(labels, sym("b") === labels("id"))
        .groupBy(sym("a").as("nid")).agg(min("rep").as("nrep"))
      val lowered = labels.join(nbr, labels("id") === nbr("nid"), "left")
        .select(col("id"), least(col("rep"), coalesce(col("nrep"), col("rep"))).as("rep"))
      val m = lowered.select(col("id").as("mid"), col("rep").as("mrep"))
      val jumped = lowered.join(m, lowered("rep") === m("mid"), "left")
        .select(col("id"), coalesce(col("mrep"), col("rep")).as("rep"))
        .localCheckpoint(true)
      changed = jumped.join(labels.withColumnRenamed("rep", "prev"), "id")
        .where(col("rep") =!= col("prev")).count()
      labels = jumped
      i += 1
    }
    require(changed == 0, s"connectedComponents did not converge in $maxIter rounds")
    labels
  }

  /** EXACT set-similarity self-join: every pair with whitespace-token-set
    * Jaccard >= tau, via AllPairs/PPJoin prefix filtering (Bayardo et al.,
    * WWW '07; Xiao et al., WWW '08) — the exact counterpart to the
    * MinHash/LSH estimate path ([[nearDupPairs]]). Tokens order globally
    * by (document frequency asc, token); each document keeps only its
    * first `|s| − ⌈tau·|s|⌉ + 1` tokens as its PREFIX, and a pair can
    * reach tau only if the two PREFIXES share a token — so candidates
    * come from a prefix-token equi-join (rarest tokens first ⇒ small
    * buckets), never an all-pairs comparison. The global order needs no
    * materialized rank: (freq, token) is already a total order, so each
    * document just sorts its own token structs. Candidates dedup on the
    * id pair and verify EXACTLY via `array_intersect` on the full token
    * sets; tau gates the unrounded IEEE division (identical operands on
    * any engine), the reported jaccard rounds 6 dp.
    *
    * Output: (id_a, id_b, size_a, size_b, inter, jaccard), id_a < id_b. */
  def jaccardJoin(df: DataFrame, idCol: String, textCol: String,
      tau: Double): DataFrame = {
    require(tau > 0.0 && tau <= 1.0, s"jaccardJoin tau must be in (0, 1]: $tau")
    val toks = df.select(col(idCol).cast("long").as("__jid"),
        array_distinct(tokens(col(textCol))).as("__ts"))
      .where(size(col("__ts")) > 0)
    val freq = toks.select(explode(col("__ts")).as("__t"))
      .groupBy("__t").agg(count(lit(1)).as("__f"))
    // The prefix-ordered frame is consumed THREE times (prefix explode +
    // one array fetch per pair side) and the candidate pairs twice —
    // materialize each exactly once. Without this, Catalyst re-evaluates
    // the tokenize→freq-join→sort pipeline per consumer (exchange reuse
    // does not bridge the differently-keyed downstream joins): measured
    // 23.5 s → ~6 s for the whole operator at 16× sf0.1. At 100 TB this
    // is the PPJoin index materialization every production run persists
    // anyway (one row per doc, the same bytes a temp table would hold).
    val ordered = toks.select(col("__jid"), explode(col("__ts")).as("__t"))
      .join(freq, "__t")
      .groupBy("__jid")
      .agg(sort_array(collect_list(struct(col("__f"), col("__t")))).as("__o"))
      .select(col("__jid"),
        transform(col("__o"), _.getField("__t")).as("__sorted"),
        size(col("__o")).cast("long").as("__sz"))
      .localCheckpoint(true)
    val prefixLen = (col("__sz") - ceil(lit(tau) * col("__sz")) + 1).cast("int")
    // Candidates travel as BARE ID PAIRS: a pair sharing k prefix tokens
    // would otherwise carry both full token arrays k times through the
    // join and the dedup shuffle (measured 3x the whole operator's cost on
    // a template-heavy corpus); the arrays join back once per side after
    // the pair-level distinct.
    val pre = ordered.select(col("__jid"),
      explode(slice(col("__sorted"), lit(1), prefixLen)).as("__pt"))
    // Round-robin the deduped BARE pairs before the verify: AQE coalesces
    // the distinct's KB-sized output to one partition, which would run the
    // expensive array_intersect verification single-task (measured: 13
    // tasks / one core busy for the whole verify at sf0.1). The pairs are
    // 16 B/row, so the extra exchange is noise next to the verify itself.
    val cand = pre.as("l").join(pre.as("r"),
        col("l.__pt") === col("r.__pt") && col("l.__jid") < col("r.__jid"))
      .select(col("l.__jid").as("id_a"), col("r.__jid").as("id_b"))
      .distinct()
      .repartition(df.sparkSession.sparkContext.defaultParallelism)
      .localCheckpoint(true)
    val withSets = cand
      .join(ordered.select(col("__jid").as("id_a"), col("__sorted").as("__ta"),
        col("__sz").as("size_a")), "id_a")
      .join(ordered.select(col("__jid").as("id_b"), col("__sorted").as("__tb"),
        col("__sz").as("size_b")), "id_b")
    val inter = size(array_intersect(col("__ta"), col("__tb"))).cast("long")
    withSets.withColumn("inter", inter)
      .withColumn("__un", col("size_a") + col("size_b") - col("inter"))
      .where(col("inter").cast("double") / col("__un") >= tau)
      .select(col("id_a"), col("id_b"), col("size_a"), col("size_b"),
        col("inter"), round(col("inter") / col("__un"), 6).as("jaccard"))
  }

  /** Normalization-equivalence dedup keep-list — the cheapest near-dup
    * class (case / punctuation / whitespace edits) collapsed EXACTLY:
    * canonical form = lower → strip non-`[a-z0-9 ]` → collapse space runs
    * → trim, group id = the md5-derived 60-bit hash of that form
    * ([[TextFunctions.tokenHash]], engine-replayable). One row PER INPUT
    * DOC: (id, group_id, group_n, keep) with keep = (id == min id of the
    * group) — the downstream filter is `WHERE keep`. One hash-partitioned
    * window pays the only shuffle; at 100 TB swap the window for the
    * min-struct aggregate + join ([[dedupSegments]]'s shape) if group
    * sizes skew. */
  def normalizedDedup(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col(textCol)), "[^a-z0-9 ]", ""), " +", " "))
    val w = Window.partitionBy("__norm")
    df.select(col(idCol).cast("long").as("id"), norm.as("__norm"))
      .select(col("id"), tokenHash(col("__norm")).as("group_id"),
        count(lit(1)).over(w).as("group_n"),
        (col("id") === min("id").over(w)).as("keep"))
  }

  /** Fuzzy-duplicate pairs by blocked edit distance — record linkage's
    * standard blocking + verify shape: candidates are the PREFIX-BLOCK
    * equi-join (rows sharing their first `prefixLen` characters), cheap
    * length pre-filter (a length gap > maxDist can't be within maxDist),
    * then the exact Levenshtein DP verifies ONLY candidates — Spark's
    * 3-arg `levenshtein` early-exits above the threshold, so the verify
    * cost is O(maxDist·len) per pair, not O(len²). Blocking is approximate
    * BY DESIGN (the standard linkage trade): a pair differing inside the
    * first `prefixLen` characters is never considered — choose prefixLen
    * against the expected error position distribution, or union several
    * blocking keys. The equi-join shape scales (block-keyed shuffle, no
    * all-pairs); FastSS ([[editDistance1Pairs]]) is the exact-recall
    * sibling for maxDist = 1. Output: (id_a, id_b, dist), id_a < id_b. */
  def blockedEditPairs(df: DataFrame, idCol: String, strCol: String,
      maxDist: Int, prefixLen: Int): DataFrame = {
    require(maxDist >= 1, s"blockedEditPairs requires maxDist >= 1, got $maxDist")
    require(prefixLen >= 1, s"blockedEditPairs requires prefixLen >= 1, got $prefixLen")
    val side = df.where(col(strCol).isNotNull)
      .select(col(idCol), col(strCol),
        substring(col(strCol), 1, prefixLen).as("__blk"))
    val a = side.select(col("__blk"), col(idCol).as("id_a"), col(strCol).as("__sa"))
    val b = side.select(col("__blk"), col(idCol).as("id_b"), col(strCol).as("__sb"))
    a.join(b, Seq("__blk"))
      .where(col("id_a") < col("id_b") &&
        abs(length(col("__sa")) - length(col("__sb"))) <= maxDist)
      .withColumn("dist", levenshtein(col("__sa"), col("__sb"), maxDist))
      .where(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"))
  }
}
