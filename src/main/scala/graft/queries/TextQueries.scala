package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkEntry.datasetStamp
import graft.functions.{Dedup, Packing, TextFunctions => TF}
import QueryFixtures._

/** Text queries: statistics, quality filters, decontamination, PII,
  * chunking and packing, and the BPE, WordPiece and unigram-LM
  * tokenizers, ending in the end-to-end pipeline (q220). */
private[graft] object TextQueries {

  /** q207's full BPE encode-to-ids replay — shared by the batch row
    * and q211's fixed-length training-sequence layer on top. */
  private lazy val q207Sql: String = q207SqlFor("TRUE", "TRUE", "TRUE")

  /** The BPE encode-to-ids replay with the TRAINING corpus (merges +
    * vocab), the ENCODE corpus, and a post-id-assignment vocab filter all
    * parameterized — q218 trains on the odd slice, censors 'q'-bearing
    * symbols (AFTER dense id assignment, so the persisted table's id gaps
    * replay exactly), and encodes the even slice. `TRUE`s everywhere give
    * the classic q207 replay. */
  private def q207SqlFor(trainPred: String, encodePred: String,
      vocabPred: String): String = {
      def o(acc: String) = s"split_part($acc, chr(1), 1)"
      def p(acc: String) = s"split_part($acc, chr(1), 2)"
      def app(out: String, x: String) =
        s"CASE WHEN $out = '' THEN $x ELSE $out || ' ' || $x END"
      def foldCtes(prev: String, m: String, out: String,
          carry: String): String =
        s"""${out}_0 AS (
           |  SELECT ${carry},
           |         list_reduce(list_prepend(chr(1), str_split(v.s, ' ')),
           |           (acc, x) -> CASE
           |             WHEN ${p("acc")} = ''
           |               THEN ${o("acc")} || chr(1) || x
           |             WHEN ${p("acc")} = m.s1 AND x = m.s2
           |               THEN ${app(o("acc"), "m.s1 || m.s2")} || chr(1)
           |             ELSE ${app(o("acc"), p("acc"))} || chr(1) || x
           |           END) AS r
           |  FROM $prev v CROSS JOIN $m m),
           |$out AS (SELECT ${carry.replace("v.", "")},
           |                CASE WHEN ${p("r")} = '' THEN ${o("r")}
           |                ELSE ${app(o("r"), p("r"))} END AS s
           |         FROM ${out}_0)""".stripMargin
      def vocabLayer(r: Int): String = {
        val v = s"v${r - 1}"
        s"""p${r}_0 AS (SELECT f, str_split(s, ' ') AS a FROM $v
           |            WHERE len(str_split(s, ' ')) >= 2),
           |p${r}_1 AS (SELECT f, a, unnest(range(1, len(a))) AS i FROM p${r}_0),
           |p$r AS (SELECT a[CAST(i AS INTEGER)] AS s1,
           |               a[CAST(i + 1 AS INTEGER)] AS s2,
           |               CAST(sum(f) AS BIGINT) AS n
           |        FROM p${r}_1 GROUP BY 1, 2),
           |m$r AS (SELECT s1, s2, n FROM p$r ORDER BY n DESC, s1, s2 LIMIT 1),
           |${foldCtes(v, s"m$r", s"v$r", "v.f AS f")}""".stripMargin
      }
      val rounds = 5
      s"""WITH w0 AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
         |            FROM documents WHERE $trainPred),
         |vw AS (SELECT w, count(*) AS f FROM w0 GROUP BY w),
         |v0 AS (SELECT array_to_string(
         |                 list_append(list_transform(range(1, len(w) + 1),
         |                   i -> substr(w, CAST(i AS INTEGER), 1)), '</w>'),
         |                 ' ') AS s, f
         |       FROM vw),
         |${(1 to rounds).map(vocabLayer).mkString(",\n")},
         |voc0 AS (SELECT DISTINCT unnest(str_split(s, ' ')) AS symbol
         |         FROM v$rounds),
         |vocall AS (SELECT symbol,
         |               CAST(row_number() OVER (ORDER BY symbol) AS BIGINT)
         |                 AS token_id
         |        FROM voc0),
         |voc AS (SELECT * FROM vocall WHERE $vocabPred),
         |dw AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
         |       FROM documents WHERE $encodePred),
         |e00 AS (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i
         |        FROM dw),
         |e0 AS (SELECT doc_id, i,
         |              array_to_string(
         |                list_append(list_transform(
         |                  range(1, len(ws[CAST(i AS INTEGER)]) + 1),
         |                  j -> substr(ws[CAST(i AS INTEGER)], CAST(j AS INTEGER), 1)),
         |                  '</w>'),
         |                ' ') AS s
         |       FROM e00),
         |${(1 to rounds).map(r =>
             foldCtes(s"e${r - 1}", s"m$r", s"e$r",
               "v.doc_id AS doc_id, v.i AS i"))
             .mkString(",\n")},
         |tok0 AS (SELECT doc_id, i, str_split(s, ' ') AS ss FROM e$rounds),
         |tok1 AS (SELECT doc_id, i, ss, unnest(range(1, len(ss) + 1)) AS j
         |         FROM tok0),
         |tok AS (SELECT doc_id, i, j, ss[CAST(j AS INTEGER)] AS symbol
         |        FROM tok1),
         |wids AS (SELECT t.doc_id, t.i, t.j, v.token_id
         |         FROM tok t JOIN voc v USING (symbol))
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sym,
         |       string_agg(CAST(token_id AS VARCHAR), ',' ORDER BY i, j)
         |         AS token_ids
         |FROM wids GROUP BY doc_id""".stripMargin
  }

  /** Shared WordPiece vocab-selection CTE chain (ends at `voc`): q213's
    * replay and the vocab half of q214's encode replay. */
  private lazy val wordpieceVocabCtes: String = wordpieceVocabCtesFor("TRUE")

  /** The vocab-selection chain with the TRAINING corpus parameterized —
    * q219 trains on the odd slice. */
  private def wordpieceVocabCtesFor(trainPred: String): String =
    s"""w0 AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
       |       FROM documents WHERE $trainPred),
       |vw AS (SELECT w, count(*) AS f FROM w0 GROUP BY w),
       |s1 AS (SELECT w, f, unnest(range(1, len(w) + 1)) AS p FROM vw),
       |s2 AS (SELECT w, f, p,
       |              unnest(range(1, least(4, len(w) - p + 1) + 1)) AS j
       |       FROM s1),
       |pc AS (SELECT CASE WHEN p = 1
       |                   THEN substr(w, CAST(p AS INTEGER), CAST(j AS INTEGER))
       |                   ELSE '##' || substr(w, CAST(p AS INTEGER), CAST(j AS INTEGER))
       |              END AS piece, f
       |       FROM s2),
       |cnt AS (SELECT piece, CAST(sum(f) AS BIGINT) AS n_occ FROM pc GROUP BY 1),
       |chars AS (SELECT * FROM cnt
       |          WHERE len(regexp_replace(piece, '^##', '')) = 1),
       |multi AS (SELECT * FROM cnt
       |          WHERE len(regexp_replace(piece, '^##', '')) > 1
       |          ORDER BY n_occ DESC, piece LIMIT 50),
       |voc AS (SELECT * FROM chars UNION ALL SELECT * FROM multi)""".stripMargin

  /** q214's greedy longest-match-first WordPiece walk: match lengths
    * precomputed per (distinct word, position), then a RECURSIVE CTE
    * consumes them left to right — one chain per word, final state = the
    * largest-position row. A list_reduce formulation of the same fold
    * hits a DuckDB 1.0.0 vectorization bug (cross-row accumulator bleed
    * once the frame is wide enough to batch; filtered probes of the same
    * CTEs evaluate correctly), so the walk uses the recursive-CTE idiom
    * q186 already relies on. */
  private lazy val wordpieceEncodeSql: String =
    wordpieceEncodeSqlFor("TRUE", "TRUE", "TRUE")

  /** The WordPiece encode replay with training corpus, encode corpus, and
    * vocab filter parameterized (q219: odd-slice vocab, q-censored, even
    * slice encoded — q-bearing words provably hit the whole-word [UNK]
    * bail). `TRUE`s everywhere give the classic q214 replay. */
  private def wordpieceEncodeSqlFor(trainPred: String, encodePred: String,
      vocabPred: String): String = {
    val cases = (4 to 1 by -1).map { j =>
      s"WHEN CAST(i AS INTEGER) + $j - 1 <= len(w) AND list_contains(vl, " +
        s"(CASE WHEN i > 1 THEN '##' ELSE '' END) || " +
        s"substr(w, CAST(i AS INTEGER), $j)) THEN $j"
    }.mkString(" ")
    s"""WITH RECURSIVE ${wordpieceVocabCtesFor(trainPred)},
       |vlt AS (SELECT list(piece) AS vl FROM voc WHERE $vocabPred),
       |dw AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
       |       FROM documents WHERE $encodePred),
       |o0 AS (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS oi FROM dw),
       |occ AS (SELECT doc_id, oi, ws[CAST(oi AS INTEGER)] AS w FROM o0),
       |dws AS (SELECT DISTINCT w FROM occ),
       |pos AS (SELECT w, unnest(range(1, len(w) + 1)) AS i FROM dws),
       |cand AS (SELECT w, i, CASE $cases ELSE 0 END AS ml
       |         FROM pos, vlt),
       |cand2 AS (SELECT w, i, ml,
       |                 (CASE WHEN i > 1 THEN '##' ELSE '' END)
       |                 || substr(w, CAST(i AS INTEGER), CAST(ml AS INTEGER))
       |                   AS taken
       |          FROM cand),
       |walk AS (
       |  SELECT w, CAST(1 AS BIGINT) AS pos, '' AS out, false AS unk
       |  FROM dws
       |  UNION ALL
       |  SELECT k.w,
       |         k.pos + CASE WHEN c.ml = 0 THEN 1000000 ELSE c.ml END,
       |         CASE WHEN c.ml = 0 THEN ''
       |              WHEN k.out = '' THEN c.taken
       |              ELSE k.out || ' ' || c.taken END,
       |         c.ml = 0
       |  FROM walk k JOIN cand2 c ON c.w = k.w AND c.i = k.pos
       |  WHERE NOT k.unk),
       |fin AS (SELECT w, CASE WHEN unk THEN '[UNK]' ELSE out END AS p,
       |               row_number() OVER (PARTITION BY w ORDER BY pos DESC)
       |                 AS rn
       |        FROM walk),
       |enc AS (SELECT w, p FROM fin WHERE rn = 1),
       |jn AS (SELECT o.doc_id, o.oi, e.p,
       |              CASE WHEN e.p = '[UNK]' THEN 1 ELSE 0 END AS unk,
       |              len(str_split(e.p, ' ')) AS np
       |       FROM occ o JOIN enc e USING (w))
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |       CAST(sum(unk) AS BIGINT) AS n_unk,
       |       CAST(sum(np) AS BIGINT) AS n_pieces,
       |       string_agg(p, ' ' ORDER BY oi) AS pieces
       |FROM jn GROUP BY doc_id""".stripMargin
  }

  /** One unigram Viterbi pass as recursive CTEs: forward DP per distinct
    * word (the working row carries the last four DP cells — exact long
    * arithmetic — plus the backpointer digits), then the backward walk
    * emitting the max-score segmentation. Tie rule: equal path scores
    * prefer the longer final piece (candidates checked j descending),
    * mirroring `TextFunctions.viterbiSegment` exactly. `scoreCte` must
    * expose (piece, s); produces `f$sfx`/`ffin$sfx`/`b$sfx`/`seg$sfx`. */
  private def unigramViterbiCtes(sfx: String, scoreCte: String): String = {
    val S = "CAST(-1000000000000000 AS BIGINT)"
    def c(j: Int) =
      s"(CASE WHEN v.d${j - 1} > $S AND p$j.s IS NOT NULL " +
        s"THEN v.d${j - 1} + p$j.s ELSE $S END)"
    val best = s"greatest(${(1 to 4).map(c).mkString(", ")})"
    val bp = (4 to 1 by -1).map(j =>
      s"WHEN ${c(j)} > $S AND ${c(j)} = $best THEN $j").mkString(" ")
    val bpd = s"CAST(substr(b.bps, CAST(b.pos AS INTEGER), 1) AS INTEGER)"
    val piece = s"substr(b.w, CAST(b.pos AS INTEGER) - $bpd + 1, $bpd)"
    s"""f$sfx AS (
       |  SELECT w, 0 AS i, CAST(0 AS BIGINT) AS d0, $S AS d1, $S AS d2,
       |         $S AS d3, '' AS bps
       |  FROM vw
       |  UNION ALL
       |  SELECT v.w, v.i + 1, $best, v.d0, v.d1, v.d2,
       |         v.bps || CAST(CASE $bp ELSE 0 END AS VARCHAR)
       |  FROM f$sfx v
       |  LEFT JOIN $scoreCte p1
       |    ON p1.piece = substr(v.w, v.i + 1, 1)
       |  LEFT JOIN $scoreCte p2
       |    ON v.i + 1 >= 2 AND p2.piece = substr(v.w, v.i, 2)
       |  LEFT JOIN $scoreCte p3
       |    ON v.i + 1 >= 3 AND p3.piece = substr(v.w, v.i - 1, 3)
       |  LEFT JOIN $scoreCte p4
       |    ON v.i + 1 >= 4 AND p4.piece = substr(v.w, v.i - 2, 4)
       |  WHERE v.i < len(v.w)),
       |ffin$sfx AS (SELECT w, d0 AS sn, bps FROM f$sfx WHERE i = len(w)),
       |b$sfx AS (
       |  SELECT w, CAST(len(w) AS BIGINT) AS pos, '' AS out, bps, sn
       |  FROM ffin$sfx
       |  UNION ALL
       |  SELECT b.w, b.pos - $bpd,
       |         CASE WHEN b.out = '' THEN $piece
       |              ELSE $piece || ' ' || b.out END,
       |         b.bps, b.sn
       |  FROM b$sfx b
       |  WHERE b.pos > 0 AND b.sn > $S),
       |seg$sfx AS (SELECT w, CASE WHEN sn <= $S THEN '[UNK]' ELSE out END AS p
       |            FROM b$sfx WHERE pos <= 0 OR sn <= $S)""".stripMargin
  }

  /** Unigram training replay through the round-1 scores (`usc1`): seed
    * substring counts with char totality, Viterbi E-step under the seed
    * scores, M-step recount with the char floor, final
    * round(ln(c/total)·1e6) scores. Shared by q215 and q216. */
  private lazy val unigramTrainCtes: String =
    s"""w0 AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
       |       FROM documents),
       |vw AS (SELECT w, count(*) AS f FROM w0 GROUP BY w),
       |u1 AS (SELECT w, f, unnest(range(1, len(w) + 1)) AS p FROM vw),
       |u2 AS (SELECT w, f, p,
       |              unnest(range(1, least(4, len(w) - p + 1) + 1)) AS j
       |       FROM u1),
       |upc AS (SELECT substr(w, CAST(p AS INTEGER), CAST(j AS INTEGER))
       |                 AS piece, f
       |        FROM u2),
       |ucnt AS (SELECT piece, CAST(sum(f) AS BIGINT) AS c FROM upc GROUP BY 1),
       |uch0 AS (SELECT * FROM ucnt WHERE len(piece) = 1),
       |umu0 AS (SELECT * FROM ucnt WHERE len(piece) > 1
       |         ORDER BY c DESC, piece LIMIT 60),
       |uv0 AS (SELECT * FROM uch0 UNION ALL SELECT * FROM umu0),
       |ut0 AS (SELECT CAST(sum(c) AS DOUBLE) AS tot FROM uv0),
       |usc0 AS (SELECT piece,
       |                CAST(round(ln(c / tot) * 1000000, 0) AS BIGINT) AS s
       |         FROM uv0, ut0),
       |${unigramViterbiCtes("t", "usc0")},
       |um1 AS (SELECT piece, CAST(sum(f) AS BIGINT) AS c
       |        FROM (SELECT vw.f, unnest(str_split(sg.p, ' ')) AS piece
       |              FROM vw JOIN segt sg ON sg.w = vw.w)
       |        GROUP BY 1),
       |uch1 AS (SELECT uch0.piece,
       |                greatest(coalesce(um1.c, 0), CAST(1 AS BIGINT)) AS c
       |         FROM uch0 LEFT JOIN um1 ON um1.piece = uch0.piece),
       |umu1 AS (SELECT piece, c FROM um1 WHERE len(piece) > 1),
       |uv1 AS (SELECT * FROM uch1 UNION ALL SELECT * FROM umu1),
       |ut1 AS (SELECT CAST(sum(c) AS DOUBLE) AS tot FROM uv1),
       |usc1 AS (SELECT piece, c,
       |                CAST(round(ln(c / tot) * 1000000, 0) AS BIGINT) AS s
       |         FROM uv1, ut1)""".stripMargin

  private lazy val q215Sql: String =
    s"""WITH RECURSIVE $unigramTrainCtes
       |SELECT CAST(row_number() OVER (ORDER BY piece) AS BIGINT) AS token_id,
       |       piece, c AS n_occ, s AS score
       |FROM usc1""".stripMargin

  private lazy val q216Sql: String =
    s"""WITH RECURSIVE $unigramTrainCtes,
       |${unigramViterbiCtes("e", "usc1")},
       |dw2 AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
       |        FROM documents),
       |o02 AS (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS oi FROM dw2),
       |occ2 AS (SELECT doc_id, oi, ws[CAST(oi AS INTEGER)] AS w FROM o02),
       |jn2 AS (SELECT o.doc_id, o.oi, e.p,
       |               CASE WHEN e.p = '[UNK]' THEN 1 ELSE 0 END AS unk,
       |               len(str_split(e.p, ' ')) AS np
       |        FROM occ2 o JOIN sege e USING (w))
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |       CAST(sum(unk) AS BIGINT) AS n_unk,
       |       CAST(sum(np) AS BIGINT) AS n_pieces,
       |       string_agg(p, ' ' ORDER BY oi) AS pieces
       |FROM jn2 GROUP BY doc_id""".stripMargin

  /** q216's replay with the encode pass run under the q-censored frozen
    * vocabulary: q-bearing words have no valid DP path and bail to
    * [UNK]. */
  private lazy val q217Sql: String =
    s"""WITH RECURSIVE $unigramTrainCtes,
       |usc1f AS (SELECT piece, s FROM usc1 WHERE piece NOT LIKE '%q%'),
       |${unigramViterbiCtes("e", "usc1f")},
       |dw2 AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
       |        FROM documents),
       |o02 AS (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS oi FROM dw2),
       |occ2 AS (SELECT doc_id, oi, ws[CAST(oi AS INTEGER)] AS w FROM o02),
       |jn2 AS (SELECT o.doc_id, o.oi, e.p,
       |               CASE WHEN e.p = '[UNK]' THEN 1 ELSE 0 END AS unk,
       |               len(str_split(e.p, ' ')) AS np
       |        FROM occ2 o JOIN sege e USING (w))
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |       CAST(sum(unk) AS BIGINT) AS n_unk,
       |       CAST(sum(np) AS BIGINT) AS n_pieces,
       |       string_agg(p, ' ' ORDER BY oi) AS pieces
       |FROM jn2 GROUP BY doc_id""".stripMargin

  /** q220's end-to-end pipeline replay — each stage is the corresponding
    * per-stage oracle's CTE chain, chained: quality filter (exact integer
    * predicates), exact-dup min-id keeper (q09), near-dup keep-first
    * removal over the survivors (q17's MinHash/LSH chain), 3-gram
    * decontamination vs the every-50th bench slice (q54), hash-Bernoulli
    * mixture (q65), per-lang running-sum budget on the (doc,epoch) key
    * (q67), hash-order global shuffle (q66), cumulative pack layout
    * (q56). */
  private lazy val q220Sql: String = {
    val bandSqls = (0 until 4).map(bd =>
      s"list_reduce(sig[${bd * 4 + 1}:${bd * 4 + 4}], (a, b) -> (a*31 + b) % ${Dedup.P}) AS bh$bd")
      .mkString(",\n       ")
    def gramsOf(tk: String) =
      s"list_distinct(list_transform(range(1, greatest(len($tk)-2, 0)+1), " +
        s"i -> array_to_string($tk[i:i+2], ' ')))"
    s"""WITH tok AS (
       |  SELECT doc_id, lang, text, $toksSql AS tk
       |  FROM documents WHERE doc_id % 50 <> 0),
       |f AS (
       |  SELECT doc_id, lang, text, tk, CAST(len(tk) AS BIGINT) AS n_tok
       |  FROM tok
       |  WHERE len(tk) >= 20 AND len(list_distinct(tk)) * 2 > len(tk)),
       |kp AS (SELECT min(doc_id) AS kid FROM f GROUP BY md5(text)),
       |ex AS (SELECT * FROM f WHERE doc_id IN (SELECT kid FROM kp)),
       |nd AS (SELECT doc_id, ${shinglesSql(5)} AS sh FROM ex),
       |nd2 AS (SELECT doc_id, sh FROM nd WHERE len(sh) > 0),
       |s AS (SELECT doc_id,
       |             list_distinct(list_transform(sh, sg -> ${hSql("sg")})) AS hs,
       |             $sigSql AS sig
       |      FROM nd2),
       |bnd AS (SELECT doc_id, hs,
       |       $bandSqls
       |      FROM s),
       |dup AS (SELECT DISTINCT b2.doc_id AS did
       |        FROM bnd a JOIN bnd b2
       |          ON a.doc_id < b2.doc_id
       |         AND (a.bh0 = b2.bh0 OR a.bh1 = b2.bh1
       |              OR a.bh2 = b2.bh2 OR a.bh3 = b2.bh3)
       |        WHERE round(len(list_intersect(a.hs, b2.hs))
       |              / len(list_distinct(list_concat(a.hs, b2.hs))), 6) >= 0.5),
       |dd AS (SELECT * FROM ex WHERE doc_id NOT IN (SELECT did FROM dup)),
       |bg AS (SELECT DISTINCT ('0x' || substr(md5(g),1,15))::BIGINT AS h
       |       FROM (SELECT unnest(${gramsOf("tkb")}) AS g
       |             FROM (SELECT $toksSql AS tkb
       |                   FROM documents WHERE doc_id % 50 = 0))),
       |cg AS (SELECT doc_id, ('0x' || substr(md5(g),1,15))::BIGINT AS h
       |       FROM (SELECT doc_id, unnest(${gramsOf("tk")}) AS g FROM dd)),
       |hit AS (SELECT DISTINCT doc_id AS hid FROM cg
       |        WHERE h IN (SELECT h FROM bg)),
       |cl AS (SELECT * FROM dd WHERE doc_id NOT IN (SELECT hid FROM hit)),
       |mx0 AS (SELECT doc_id, lang, n_tok,
       |          (${hSql("'resample:' || CAST(doc_id AS VARCHAR)")}) % 1000 AS bkt,
       |          CASE lang WHEN 'en' THEN 2.5 WHEN 'de' THEN 1.0
       |                    WHEN 'es' THEN 1.0 WHEN 'fr' THEN 0.6
       |                    WHEN 'zh' THEN 0.4 ELSE 1.0 END AS w
       |        FROM cl),
       |mx1 AS (SELECT doc_id, lang, n_tok,
       |          CAST(floor(w) AS BIGINT)
       |            + (CASE WHEN bkt < (w - floor(w)) * 1000 THEN 1 ELSE 0 END) AS n
       |        FROM mx0),
       |mx AS (SELECT doc_id, lang, n_tok, unnest(range(n)) AS epoch
       |       FROM mx1 WHERE n > 0),
       |ky AS (SELECT doc_id, lang, n_tok, epoch,
       |              CAST(doc_id AS VARCHAR) || '#' || CAST(epoch AS VARCHAR) AS key
       |       FROM mx),
       |bh AS (SELECT *, ${hSql("'budget:' || key")} AS hkey FROM ky),
       |bc AS (SELECT *, sum(n_tok) OVER (PARTITION BY lang ORDER BY hkey, key
       |                                  ROWS UNBOUNDED PRECEDING) AS cum
       |       FROM bh),
       |bd AS (SELECT doc_id, lang, n_tok, epoch, key FROM bc WHERE cum <= 2000),
       |sf AS (SELECT doc_id, lang, n_tok, epoch, key,
       |              CAST(row_number() OVER (
       |                ORDER BY ${hSql("'shuffle:' || key")}, key) - 1 AS BIGINT)
       |                AS idx
       |       FROM bd),
       |pk AS (SELECT *, ((${hSql("'pack:' || key")}) % 1000) % 8 AS bucket
       |       FROM sf),
       |pc AS (SELECT *, CAST(COALESCE(SUM(n_tok) OVER (
       |              PARTITION BY bucket ORDER BY key
       |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |              AS BIGINT) AS cum
       |       FROM pk)
       |SELECT key, doc_id, lang, epoch, idx, bucket, n_tok,
       |       cum // 256 AS pack_first,
       |       cum % 256 AS pack_offset,
       |       CASE WHEN n_tok > 0 THEN (cum + n_tok - 1) // 256
       |            ELSE cum // 256 END AS pack_last,
       |       CASE WHEN n_tok > 0 THEN (cum + n_tok - 1) // 256 - cum // 256 + 1
       |            ELSE 0 END AS n_packs
       |FROM pc""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(
    // Text quality: within-document repetition signals
    QueryDef("q35_repetition", (sp, dir) =>
      // one-pass imperative ratios (bit-identical to the Column path)
      TF.repetitionFast(table(sp, dir, "documents"), "text", "doc_id")
        .select(col("id").as("doc_id"), col("dup_tok"), col("dup_bigram")),
      s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |g AS (SELECT doc_id, tk,
         |             list_transform(range(1, greatest(len(tk), 1)),
         |                            i -> tk[i] || ' ' || tk[i+1]) AS bg
         |      FROM t)
         |SELECT doc_id,
         |  CASE WHEN len(tk) > 0
         |       THEN round(1.0 - CAST(len(list_distinct(tk)) AS DOUBLE)/len(tk), 6)
         |       ELSE 0.0 END AS dup_tok,
         |  CASE WHEN len(bg) > 0
         |       THEN round(1.0 - CAST(len(list_distinct(bg)) AS DOUBLE)/len(bg), 6)
         |       ELSE 0.0 END AS dup_bigram
         |FROM g""".stripMargin),

    // Text analysis: token counts, quality, language ID, rolling fingerprint
    QueryDef("q10_text_stats", (sp, dir) => {
      table(sp, dir, "documents").select(
        col("doc_id"),
        TF.tokenCount(col("text")).as("n_tok"),
        TF.bpeTokenCount(col("text")).as("n_bpe"),
        TF.qualityScore(col("text")).as("quality"),
        TF.fingerprint(col("text")).as("fp"),
        TF.langId(col("text")).as("lang_pred"))
    }, {
      val scoreSqls = TF.LangStopwords.map { case (l, ws) =>
        l -> s"len(list_intersect(list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> ''), ${ws.map(w => s"'$w'").mkString("[", ",", "]")}))"
      }
      val bestSql = s"greatest(${scoreSqls.map(s => s"s_${s._1}").mkString(", ")})"
      val caseSql = scoreSqls.map { case (l, _) =>
        s"WHEN s_$l = best AND s_$l > 0 THEN '$l'"
      }.mkString(" ")
      s"""WITH t AS (
         |  SELECT doc_id, text,
         |         len($toksSql) AS n_tok,
         |         len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS n_bpe,
         |         len(text) AS n_chars,
         |         len(regexp_replace(text, '[\\w\\s]', '', 'g')) AS n_punct,
         |         ${scoreSqls.map { case (l, s) => s"$s AS s_$l" }.mkString(",\n         ")}
         |  FROM documents),
         |t2 AS (SELECT *, $bestSql AS best,
         |         CASE WHEN n_tok > 0 THEN CAST(n_chars AS DOUBLE)/n_tok ELSE 0.0 END AS avgtok
         |       FROM t)
         |SELECT doc_id, n_tok, n_bpe,
         |  round(least(n_tok/100.0, 1.0)*0.4
         |      + (1.0 - least(n_punct/greatest(n_chars, 1)*5.0, 1.0))*0.3
         |      + (CASE WHEN avgtok >= 3.0 AND avgtok <= 10.0 THEN 1.0 ELSE 0.0 END)*0.3, 6) AS quality,
         |  CASE WHEN len($toksSql) = 0 THEN 0
         |       ELSE list_reduce(list_transform($toksSql, t -> ${hSql("t")}),
         |                        (a, b) -> (a*31 + b) % ${TF.HashMod}) END AS fp,
         |  CASE $caseSql ELSE 'und' END AS lang_pred
         |FROM t2""".stripMargin
    }),

    // Text: corpus TF-IDF, top-5 terms per document (inverted-index shape)
    QueryDef("q42_tfidf_top", (sp, dir) => {
      graft.functions.TfIdf.topTerms(table(sp, dir, "documents"), "doc_id", "text", 5)
        .select(col("id").as("doc_id"), col("term"), col("tf"), col("df"),
          round(col("score"), 6).as("score"), col("rank"))
    },
      """WITH t AS (
        |  SELECT doc_id,
        |         unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |                            x -> x <> '')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM t GROUP BY doc_id, term),
        |dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT count(*) AS nd FROM documents),
        |s AS (SELECT doc_id, term, tf, df,
        |             tf * (ln((nd + 1.0)/(df + 1.0)) + 1.0) AS score
        |      FROM tf JOIN dfr USING (term), n),
        |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
        |                                   ORDER BY score DESC, term) AS rank
        |      FROM s)
        |SELECT doc_id, term, tf, df, round(score, 6) AS score, rank
        |FROM r WHERE rank <= 5""".stripMargin),

    // Decontamination: corpus docs sharing token 3-grams with a "benchmark"
    // slice (every 50th doc) — the standard eval-set contamination check.
    // One broadcast equi-join on the n-gram string; corpus never shuffles.
    QueryDef("q54_decontaminate", (sp, dir) => {
      val d = table(sp, dir, "documents")
      val bench = d.where(pmod(col("doc_id"), lit(50L)) === 0L)
      val corpus = d.where(pmod(col("doc_id"), lit(50L)) =!= 0L)
      Dedup.benchmarkContamination(corpus, bench, "text", "doc_id", n = 3)
    },
      """WITH tok AS (SELECT doc_id,
        |                    list_filter(regexp_split_to_array(text, '\s+'),
        |                                x -> x <> '') AS t
        |             FROM documents),
        |ngs AS (SELECT doc_id, unnest(list_distinct(
        |          list_transform(range(1, greatest(len(t)-2, 0)+1),
        |                         i -> array_to_string(t[i:i+2], ' ')))) AS g
        |        FROM tok),
        |ng AS (SELECT doc_id, ('0x' || substr(md5(g),1,15))::BIGINT AS h FROM ngs),
        |b AS (SELECT DISTINCT h FROM ng WHERE doc_id % 50 = 0),
        |c AS (SELECT doc_id, h FROM ng WHERE doc_id % 50 <> 0)
        |SELECT c.doc_id AS id, count(*) AS n_hits
        |FROM c JOIN b USING (h) GROUP BY c.doc_id""".stripMargin),

    // PII redaction: deterministic regex scrub of emails/phones, exercised
    // on synthesized contact strings derived from table values (the corpus
    // itself carries no PII); same RE2-safe patterns replay in the oracle
    QueryDef("q55_pii_redact", (sp, dir) =>
      table(sp, dir, "documents").select(
        col("doc_id"),
        TF.redactPii(concat(
          substring(col("text"), 1, 40),
          lit(" contact: user"), col("doc_id").cast("string"),
          lit("@example.com or +1 555-00"),
          pmod(col("doc_id"), lit(100L)).cast("string"), lit("1")
        )).as("clean")), {
      val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
      val phone = "\\+?[0-9][0-9 ()-]{6,}[0-9]"
      s"""SELECT doc_id,
         |  regexp_replace(
         |    regexp_replace(
         |      substr(text, 1, 40) || ' contact: user' || doc_id
         |        || '@example.com or +1 555-00' || (doc_id % 100) || '1',
         |      '$email', '<EMAIL>', 'g'),
         |    '$phone', '<PHONE>', 'g') AS clean
         |FROM documents""".stripMargin
    }),

    // Sequence packing: concatenate-and-chop the corpus into 256-token
    // packs, sharded into 8 deterministic hash buckets (per-bucket window
    // = the distributable formulation; one shuffle)
    QueryDef("q56_pack_stream", (sp, dir) =>
      Packing.packStream(
          table(sp, dir, "documents").select(col("doc_id"), col("text")),
          "doc_id", TF.tokenCount(col("text")), capacity = 256, nBuckets = 8)
        .select("doc_id", "bucket", "n_tok", "pack_first", "pack_offset",
          "pack_last", "n_packs"),
      s"""WITH t AS (
         |  SELECT doc_id,
         |         ((('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)),1,15))::BIGINT
         |           % ${TF.HashMod}) % 1000) % 8 AS bucket,
         |         CAST(len($toksSql) AS BIGINT) AS n_tok
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, bucket, n_tok,
         |         CAST(COALESCE(SUM(n_tok) OVER (PARTITION BY bucket ORDER BY doc_id
         |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum
         |  FROM t)
         |SELECT doc_id, bucket, n_tok,
         |       cum // 256 AS pack_first,
         |       cum % 256 AS pack_offset,
         |       CASE WHEN n_tok > 0 THEN (cum + n_tok - 1) // 256
         |            ELSE cum // 256 END AS pack_last,
         |       CASE WHEN n_tok > 0 THEN (cum + n_tok - 1) // 256 - cum // 256 + 1
         |            ELSE 0 END AS n_packs
         |FROM c""".stripMargin),

    // Sliding-window chunking: 64-token windows at stride 48 per document
    // (no shuffle; explode fuses into the scan)
    QueryDef("q57_chunk_overlap", (sp, dir) =>
      Packing.chunkByTokens(table(sp, dir, "documents"), "doc_id", "text",
        window = 64, stride = 48),
      s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |n AS (SELECT doc_id, tk,
         |             1 + (greatest(len(tk) - 64, 0) + 47) // 48 AS n_chunks
         |      FROM t WHERE len(tk) > 0),
         |c AS (SELECT doc_id, tk, unnest(range(0, n_chunks)) AS ci FROM n)
         |SELECT doc_id, CAST(ci AS INT) AS chunk_idx,
         |       CAST(len(tk[CAST(ci*48+1 AS INT) : CAST(ci*48+64 AS INT)]) AS INT) AS chunk_tok,
         |       array_to_string(tk[CAST(ci*48+1 AS INT) : CAST(ci*48+64 AS INT)], ' ') AS chunk_text
         |FROM c""".stripMargin),

    // Corpus stats: top-100 token bigrams by document frequency
    // (map-side-combining agg + TakeOrderedAndProject, deterministic ties)
    QueryDef("q58_top_ngrams", (sp, dir) =>
      TF.topNgrams(table(sp, dir, "documents"), "text", n = 2, k = 100),
      s"""WITH t AS (SELECT doc_id, $toksSql AS tk FROM documents),
         |ng AS (SELECT doc_id, unnest(list_distinct(
         |         list_transform(range(1, greatest(len(tk)-1, 0)+1),
         |                        i -> array_to_string(tk[i:i+1], ' ')))) AS g
         |       FROM t)
         |SELECT max(g) AS ngram, count(*) AS doc_freq
         |FROM ng GROUP BY ('0x' || substr(md5(g),1,15))::BIGINT
         |ORDER BY doc_freq DESC, ngram
         |LIMIT 100""".stripMargin),

    // LM-quality proxy: per-doc mean unigram surprisal against the corpus
    // frequency table (sorted-fold float sum -> bit-exact vs the oracle)
    QueryDef("q59_unigram_surprisal", (sp, dir) =>
      TF.unigramSurprisal(table(sp, dir, "documents"), "doc_id", "text"),
      """WITH toks AS (SELECT doc_id,
        |                     unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |                                        x -> x <> '')) AS term
        |              FROM documents),
        |c AS (SELECT doc_id, term, count(*) AS c FROM toks GROUP BY 1, 2),
        |f AS (SELECT term, count(*) AS n FROM toks GROUP BY 1),
        |t AS (SELECT CAST(count(*) AS DOUBLE) AS N FROM toks),
        |g AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tok,
        |             list(CAST(c AS DOUBLE) * ln((SELECT N FROM t) / n) ORDER BY term) AS vs
        |      FROM c JOIN f USING (term) GROUP BY 1)
        |SELECT doc_id AS id, n_tok,
        |       list_reduce(list_prepend(0.0, vs), (a, b) -> a + b) / n_tok AS surprisal
        |FROM g""".stripMargin),

    // Model-based quality filter shape: feature-hashing linear classifier
    // score per doc. The dot product is a pure integer sum (engine-exact in
    // any addition order); only the final normalize + sigmoid are floats,
    // rounded 6 dp. Zero shuffle — one codegen'd fold fused into the scan.
    QueryDef("q80_quality_classifier", (sp, dir) =>
      table(sp, dir, "documents").select(col("doc_id"),
        TF.hashedLinearScore(col("text"), dim = 64, salt = "q80").as("qscore")), {
      // Integer-exact feature-hash dot product, then the one float step:
      // sigmoid(4 * mean) rounded 6 dp. Empty docs -> sigmoid(0) = 0.5.
      val half = TF.HashMod / 2L
      s"""WITH t AS (
         |  SELECT doc_id,
         |         list_filter(regexp_split_to_array(lower(text), '\\s+'),
         |                     x -> x <> '') AS toks
         |  FROM documents),
         |s AS (
         |  SELECT doc_id, len(toks) AS ntok,
         |         CAST(coalesce(list_sum(list_transform(toks, tok ->
         |           ((${hSql("'q80:' || tok")} % 64) * 2654435761)
         |             % ${TF.HashMod} - $half)), 0) AS BIGINT) AS raw
         |  FROM t)
         |SELECT doc_id,
         |       round(1.0 / (1.0 + exp(-(0.0 + 4.0 *
         |         (CASE WHEN ntok > 0
         |               THEN raw / (CAST(ntok AS DOUBLE) * $half.0)
         |               ELSE 0.0 END)))), 6) AS qscore
         |FROM s""".stripMargin
    }),

    // Spelling-variant pairs over the token vocabulary: FastSS deletion
    // neighborhoods make the candidate scan a bucketed equi-join (never
    // all-pairs), the exact levenshtein verifies — typo clustering, a
    // normalization pass before token-level stats. The synthetic corpus
    // has no natural typos, so a deterministic first-char-to-z variant is
    // planted for a third of the vocabulary (hash-selected, replayed
    // verbatim by the oracle) — the pairs recovered must be exactly the
    // planted substitutions.
    QueryDef("q85_spelling_pairs", (sp, dir) => {
      val toks = table(sp, dir, "documents")
        .select(explode(TF.tokens(lower(col("text")))).as("tok"))
        .where(length(col("tok")).between(3, 20)).distinct()
      val typos = toks.where(TF.tokenHashMod(col("tok")) % 3 === 0)
        .select(concat(lit("z"), expr("substr(tok, 2)")).as("tok"))
      val vocab = toks.union(typos).distinct()
      Dedup.editDistance1Pairs(
        vocab.select(col("tok").as("tid"), col("tok").as("tstr")), "tid", "tstr")
        .select(col("str_a"), col("str_b"), col("dist"))
    },
      s"""WITH toks AS (
        |  SELECT DISTINCT tok FROM (
        |    SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\\s+'),
        |                  x -> x <> '')) AS tok
        |    FROM documents)
        |  WHERE len(tok) BETWEEN 3 AND 20),
        |typos AS (
        |  SELECT 'z' || substr(tok, 2, CAST(len(tok) AS INT)) AS tok FROM toks
        |  WHERE ${hSql("tok")} % 3 = 0),
        |vocab AS (SELECT DISTINCT tok
        |          FROM (SELECT tok FROM toks UNION ALL SELECT tok FROM typos)),
        |keys AS (
        |  SELECT tok, unnest(list_distinct(list_prepend(tok,
        |    list_transform(range(1, len(tok) + 1),
        |      i -> substr(tok, 1, CAST(i - 1 AS INT))
        |           || substr(tok, CAST(i + 1 AS INT), CAST(len(tok) AS INT)))))) AS key
        |  FROM vocab),
        |p AS (
        |  SELECT DISTINCT a.tok AS str_a, b.tok AS str_b
        |  FROM keys a JOIN keys b ON a.key = b.key AND a.tok < b.tok
        |  WHERE levenshtein(a.tok, b.tok) <= 1)
        |SELECT str_a, str_b,
        |       CAST(levenshtein(str_a, str_b) AS BIGINT) AS dist FROM p""".stripMargin),

    // Per-language quality floor: keep docs at or above their language's
    // exact interpolated 75th-percentile quality — "top quarter per
    // domain". The threshold is rounded 6 dp on both sides so a sub-ulp
    // interpolation difference can never flip a boundary row. Exact
    // percentile buffers each language's values in one task BY CHOICE
    // (the oracle needs exactness); approx_percentile is the sketch path
    // at the 100 TB end, same plan otherwise.
    QueryDef("q89_quality_cut", (sp, dir) => {
      val d = table(sp, dir, "documents").select(col("doc_id"), col("lang"),
        TF.qualityScore(col("text")).as("quality"))
      val thr = d.groupBy("lang")
        .agg(round(expr("percentile(quality, 0.75)"), 6).as("thr"))
      d.join(broadcast(thr), "lang").where(col("quality") >= col("thr"))
        .select(col("doc_id"), col("lang"), col("quality"))
    },
      s"""WITH t AS (
        |  SELECT doc_id, lang,
        |         len($toksSql) AS n_tok,
        |         len(text) AS n_chars,
        |         len(regexp_replace(text, '[\\w\\s]', '', 'g')) AS n_punct
        |  FROM documents),
        |t2 AS (SELECT *,
        |         CASE WHEN n_tok > 0 THEN CAST(n_chars AS DOUBLE)/n_tok
        |              ELSE 0.0 END AS avgtok
        |       FROM t),
        |d AS (SELECT doc_id, lang,
        |        round(least(n_tok/100.0, 1.0)*0.4
        |            + (1.0 - least(n_punct/greatest(n_chars, 1)*5.0, 1.0))*0.3
        |            + (CASE WHEN avgtok >= 3.0 AND avgtok <= 10.0
        |                    THEN 1.0 ELSE 0.0 END)*0.3, 6) AS quality
        |      FROM t2),
        |thr AS (SELECT lang, round(quantile_cont(quality, 0.75), 6) AS thr
        |        FROM d GROUP BY lang)
        |SELECT d.doc_id, d.lang, d.quality
        |FROM d JOIN thr USING (lang) WHERE d.quality >= thr.thr""".stripMargin),

    // Character-level Shannon entropy per doc — gibberish/base64 detector.
    // One-pass imperative fast path, bit-identical to the Column path
    // (parity-pinned): terms rounded 6 dp, folded in code-point order
    // (q94's engine-stability rule). The Column path's per-character
    // explode shuffle measured 7x slower at sf0.1.
    QueryDef("q102_char_entropy", (sp, dir) =>
      TF.charEntropyFast(table(sp, dir, "documents"), "doc_id", "text"),
      """WITH ch AS (SELECT doc_id,
        |                   unnest(list_transform(range(1, len(text) + 1),
        |                          i -> substr(text, CAST(i AS INTEGER), 1))) AS ch
        |            FROM documents WHERE len(text) >= 1),
        |c AS (SELECT doc_id, ch, count(*) AS c FROM ch GROUP BY 1, 2),
        |n AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_chars FROM c GROUP BY 1),
        |g AS (SELECT c.doc_id, n.n_chars,
        |             list(round(-(c.c / n.n_chars) * ln(c.c / n.n_chars), 6)
        |                  ORDER BY c.ch) AS vs
        |      FROM c JOIN n USING (doc_id) GROUP BY c.doc_id, n.n_chars)
        |SELECT doc_id AS id, n_chars,
        |       list_reduce(list_prepend(0.0, vs), (a, b) -> a + b) AS entropy
        |FROM g""".stripMargin),

    // PII detection counts over q55's planted fixture — the audit metric
    // next to redaction: per doc, how many emails/phones a scan finds.
    // Pure codegen'd regexp counts fused into the scan.
    QueryDef("q116_pii_counts", (sp, dir) => {
      val planted = concat(
        substring(col("text"), 1, 40),
        lit(" contact: user"), col("doc_id").cast("string"),
        lit("@example.com or +1 555-00"),
        pmod(col("doc_id"), lit(100L)).cast("string"), lit("1"))
      table(sp, dir, "documents").select(col("doc_id"),
          size(regexp_extract_all(planted, lit(TF.EmailPattern), lit(0)))
            .as("n_email"),
          size(regexp_extract_all(planted, lit(TF.PhonePattern), lit(0)))
            .as("n_phone"))
        .withColumn("has_pii", col("n_email") > 0 || col("n_phone") > 0)
    }, {
      val planted = "substr(text, 1, 40) || ' contact: user' || " +
        "CAST(doc_id AS VARCHAR) || '@example.com or +1 555-00' || " +
        "CAST(doc_id % 100 AS VARCHAR) || '1'"
      s"""WITH p AS (SELECT doc_id, $planted AS t FROM documents)
         |SELECT doc_id,
         |       len(regexp_extract_all(t, '${TF.EmailPattern}')) AS n_email,
         |       len(regexp_extract_all(t, '${TF.PhonePattern}')) AS n_phone,
         |       len(regexp_extract_all(t, '${TF.EmailPattern}')) > 0
         |        OR len(regexp_extract_all(t, '${TF.PhonePattern}')) > 0
         |         AS has_pii
         |FROM p""".stripMargin
    }),

    // Language-ID confusion matrix: the model-eval rollup of q10's
    // heuristic against the labeled lang column — (actual, predicted)
    // counts, one aggregate.
    QueryDef("q117_lang_confusion", (sp, dir) =>
      table(sp, dir, "documents")
        .select(col("lang"), TF.langId(col("text")).as("pred"))
        .groupBy("lang", "pred").agg(count(lit(1)).as("n")), {
      val scoreSqls = TF.LangStopwords.map { case (l, ws) =>
        l -> s"len(list_intersect(list_filter(regexp_split_to_array(lower(text), '\\s+'), x -> x <> ''), ${ws.map(w => s"'$w'").mkString("[", ",", "]")}))"
      }
      val bestSql = s"greatest(${scoreSqls.map(s => s"s_${s._1}").mkString(", ")})"
      val caseSql = scoreSqls.map { case (l, _) =>
        s"WHEN s_$l = best AND s_$l > 0 THEN '$l'"
      }.mkString(" ")
      s"""WITH t AS (
         |  SELECT doc_id, lang,
         |         ${scoreSqls.map { case (l, s) => s"$s AS s_$l" }.mkString(",\n         ")}
         |  FROM documents),
         |t2 AS (SELECT *, $bestSql AS best FROM t),
         |p AS (SELECT lang, CASE $caseSql ELSE 'und' END AS pred FROM t2)
         |SELECT lang, pred, count(*) AS n FROM p GROUP BY 1, 2""".stripMargin
    }),

    // Bigram conditional surprisal: one Markov order up from q59 — mean
    // -ln P(w2|w1) under the corpus MLE bigram LM. Same sorted-fold float
    // determinism; context counts derive from the aggregated bigram counts.
    QueryDef("q94_bigram_surprisal", (sp, dir) =>
      TF.bigramSurprisal(table(sp, dir, "documents"), "doc_id", "text"),
      """WITH tk AS (SELECT doc_id,
        |                   list_filter(regexp_split_to_array(lower(text), '\s+'),
        |                               x -> x <> '') AS tk
        |            FROM documents),
        |bg AS (SELECT doc_id,
        |              unnest(list_transform(range(1, len(tk)),
        |                                    i -> tk[i] || ' ' || tk[i+1])) AS bg
        |       FROM tk WHERE len(tk) >= 2),
        |c AS (SELECT doc_id, bg, count(*) AS c FROM bg GROUP BY 1, 2),
        |f AS (SELECT bg, count(*) AS n FROM bg GROUP BY 1),
        |x AS (SELECT split_part(bg, ' ', 1) AS ctx, CAST(sum(n) AS BIGINT) AS cn
        |      FROM f GROUP BY 1),
        |g AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_big,
        |             list(round(CAST(c AS DOUBLE) * ln(CAST(cn AS DOUBLE) / n), 6)
        |                  ORDER BY bg) AS vs
        |      FROM c JOIN f USING (bg) JOIN x ON split_part(bg, ' ', 1) = x.ctx
        |      GROUP BY 1)
        |SELECT doc_id AS id, n_big,
        |       list_reduce(list_prepend(0.0, vs), (a, b) -> a + b) / n_big
        |         AS surprisal
        |FROM g""".stripMargin),

    // Gopher-style rule-based quality filter: the seven surface-statistic
    // rules (word count, mean word length, symbol/bullet/ellipsis ratios,
    // alpha-word fraction, stopword hits) as one codegen'd projection.
    QueryDef("q121_gopher_rules", (sp, dir) =>
      TF.gopherFlags(table(sp, dir, "documents"), "doc_id", "text")
        .withColumnRenamed("id", "doc_id"), {
      val stopList = TF.LangStopwords.toMap.apply("en")
        .map(w => s"'$w'").mkString("[", ",", "]")
      s"""WITH w AS (
         |  SELECT doc_id, text,
         |         $toksSql AS toks,
         |         list_filter(regexp_split_to_array(lower(text), '\\s+'),
         |                     x -> x <> '') AS ltoks,
         |         list_filter(string_split(text, chr(10)),
         |                     l -> trim(l) <> '') AS lines
         |  FROM documents),
         |m AS (
         |  SELECT doc_id,
         |         CAST(len(toks) AS BIGINT) AS n_words,
         |         CAST(coalesce(list_sum(list_transform(toks,
         |              x -> CAST(length(x) AS BIGINT))), 0) AS BIGINT) AS sum_len,
         |         len(string_split(text, '#')) - 1 AS n_hash,
         |         len(regexp_extract_all(text, '\\.\\.\\.')) AS n_ellip,
         |         CAST(len(lines) AS BIGINT) AS n_lines,
         |         len(list_filter(lines,
         |              l -> regexp_matches(trim(l), '^[-*•‣▪]'))) AS n_bullet,
         |         len(list_filter(lines,
         |              l -> regexp_matches(trim(l), '\\.\\.\\.${"$"}'))) AS n_elline,
         |         len(list_filter(toks,
         |              x -> regexp_matches(x, '[A-Za-z]'))) AS n_alpha,
         |         CAST(len(list_intersect(ltoks, $stopList)) AS BIGINT) AS n_stop
         |  FROM w),
         |r AS (
         |  SELECT doc_id, n_words,
         |         round(CASE WHEN n_words > 0
         |               THEN CAST(sum_len AS DOUBLE) / n_words ELSE 0.0 END, 6)
         |           AS mean_word_len,
         |         round(CASE WHEN n_words > 0
         |               THEN CAST(n_hash + n_ellip AS DOUBLE) / n_words
         |               ELSE 0.0 END, 6) AS symbol_ratio,
         |         round(CASE WHEN n_lines > 0
         |               THEN CAST(n_bullet AS DOUBLE) / n_lines
         |               ELSE 0.0 END, 6) AS bullet_ratio,
         |         round(CASE WHEN n_lines > 0
         |               THEN CAST(n_elline AS DOUBLE) / n_lines
         |               ELSE 0.0 END, 6) AS ellipsis_ratio,
         |         round(CASE WHEN n_words > 0
         |               THEN CAST(n_alpha AS DOUBLE) / n_words
         |               ELSE 0.0 END, 6) AS alpha_ratio,
         |         n_stop
         |  FROM m)
         |SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_ratio,
         |       ellipsis_ratio, alpha_ratio, n_stop,
         |       n_words >= 50 AND n_words <= 100000 AS f_word_count,
         |       mean_word_len >= 3.0 AND mean_word_len <= 10.0 AS f_mean_len,
         |       symbol_ratio <= 0.1 AS f_symbol,
         |       bullet_ratio <= 0.9 AS f_bullet,
         |       ellipsis_ratio <= 0.3 AS f_ellipsis,
         |       alpha_ratio >= 0.8 AS f_alpha,
         |       n_stop >= 2 AS f_stop,
         |       (n_words >= 50 AND n_words <= 100000)
         |         AND (mean_word_len >= 3.0 AND mean_word_len <= 10.0)
         |         AND symbol_ratio <= 0.1 AND bullet_ratio <= 0.9
         |         AND ellipsis_ratio <= 0.3 AND alpha_ratio >= 0.8
         |         AND n_stop >= 2 AS pass
         |FROM r""".stripMargin
    }),

    // Tokenizer fertility per language: BPE-ish subword tokens per
    // whitespace word, exact integer totals + one rounded division.
    QueryDef("q125_fertility", (sp, dir) =>
      TF.tokenizerFertility(table(sp, dir, "documents"), "lang", "text"),
      s"""WITH m AS (
         |  SELECT lang,
         |         CAST(len($toksSql) AS BIGINT) AS w,
         |         CAST(len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS BIGINT) AS b
         |  FROM documents)
         |SELECT lang, count(*) AS n_docs,
         |       CAST(sum(w) AS BIGINT) AS tot_words,
         |       CAST(sum(b) AS BIGINT) AS tot_tokens,
         |       round(CASE WHEN CAST(sum(w) AS BIGINT) > 0
         |             THEN CAST(CAST(sum(b) AS BIGINT) AS DOUBLE)
         |                  / CAST(sum(w) AS BIGINT)
         |             ELSE 0.0 END, 6) AS fertility
         |FROM m GROUP BY lang""".stripMargin),

    // Per-source unigram KL divergence from the corpus blend — rounded
    // per-term contributions summed as DECIMAL (order-exact, no sorted
    // fold, no per-group array).
    QueryDef("q132_kl_divergence", (sp, dir) =>
      TF.unigramKl(table(sp, dir, "documents"), "source", "text"),
      // Rounded per-term contributions summed as DECIMAL(18,6) —
      // order-exact; the decimal cast of a 6dp-rounded double is exact.
      s"""WITH t AS (SELECT source, unnest($toksSql) AS term FROM documents),
         |st AS (SELECT source, term, count(*) AS cst FROM t GROUP BY 1, 2),
         |ctt AS (SELECT term, CAST(sum(cst) AS BIGINT) AS ct FROM st
         |        GROUP BY 1),
         |ns AS (SELECT source, CAST(sum(cst) AS BIGINT) AS ns FROM st
         |       GROUP BY 1),
         |n AS (SELECT CAST(sum(ct) AS BIGINT) AS n FROM ctt),
         |terms AS (SELECT st.source,
         |            CAST(round((CAST(cst AS DOUBLE) / ns.ns)
         |                 * ln((CAST(cst AS DOUBLE) / ns.ns)
         |                      / (CAST(ct AS DOUBLE) / n.n)), 6)
         |              AS DECIMAL(18,6)) AS term6
         |          FROM st JOIN ctt USING (term) JOIN ns USING (source), n)
         |SELECT source, count(*) AS n_terms,
         |       CAST(sum(term6) AS DOUBLE) AS kl
         |FROM terms GROUP BY source""".stripMargin),

    // Cross-source contamination matrix: shared distinct 5-gram counts
    // (+ fraction of the lower source's vocabulary) between every source
    // pair — the decontamination rollup. Gram sets collapse to DISTINCT
    // (source, gram) before the gram-keyed equi-join.
    QueryDef("q133_overlap_matrix", (sp, dir) => {
      // ONE corpus tokenize + ONE gram-keyed shuffle: collect_set dedupes
      // (source, gram) incidence map-side, the per-gram source set is
      // bounded by the source vocabulary, and pairs explode in-array
      // (sorted set ⇒ a < b falls out). Both n_a and the pair counts
      // derive from that grouped frame — the corpus is never scanned or
      // joined twice (was: two tokenize passes + a gram self-join, 4.8 s
      // at sf0.1; now ~1 pass). Tokenize rides the imperative
      // tokenNgramsByKey fast path (parity-pinned): the Column HOF twin
      // alone cost 2.8 s of this query's former 4.3 s.
      val bySrc = TF.tokenNgramsByKey(table(sp, dir, "documents"),
          col("source"), col("text"), 5)
        .toDF("source", "g")
        .groupBy("g").agg(sort_array(collect_set(col("source"))).as("__ss"))
      val perSrc = bySrc.select(explode(col("__ss")).as("source_a"))
        .groupBy("source_a").agg(count(lit(1)).as("n_a"))
      val pairs = bySrc.select(explode(expr(
          "flatten(transform(sequence(1, size(__ss)), " +
            "i -> transform(slice(__ss, i + 1, size(__ss) - i), " +
            "y -> struct(element_at(__ss, i) AS source_a, y AS source_b))))"))
          .as("__p"))
        .groupBy(col("__p.source_a").as("source_a"),
          col("__p.source_b").as("source_b"))
        .agg(count(lit(1)).as("shared"))
      pairs.join(broadcast(perSrc), "source_a")
        .select(col("source_a"), col("source_b"), col("n_a"), col("shared"),
          round(col("shared") / col("n_a"), 6).as("overlap_frac"))
    },
      """WITH tok AS (SELECT source,
        |                    list_filter(regexp_split_to_array(text, '\s+'),
        |                                x -> x <> '') AS t
        |             FROM documents),
        |ng0 AS (SELECT source, unnest(list_distinct(
        |          list_transform(range(1, greatest(len(t)-4, 0)+1),
        |                         i -> array_to_string(t[i:i+4], ' ')))) AS g
        |        FROM tok),
        |ng AS (SELECT DISTINCT source, g FROM ng0),
        |per AS (SELECT source, count(*) AS n_a FROM ng GROUP BY 1),
        |sh AS (SELECT a.source AS source_a, b.source AS source_b,
        |              count(*) AS shared
        |       FROM ng a JOIN ng b ON a.g = b.g AND a.source < b.source
        |       GROUP BY 1, 2)
        |SELECT source_a, source_b, per.n_a, shared,
        |       round(shared / per.n_a, 6) AS overlap_frac
        |FROM sh JOIN per ON sh.source_a = per.source""".stripMargin),

    // One BPE merge-candidate counting step (tokenizer training's inner
    // loop): adjacent symbol pairs weighted by word frequency, with the
    // pair explode running over the VOCAB, not the corpus. Top-20 merges,
    // ties by pair.
    QueryDef("q154_bpe_pairs", (sp, dir) =>
      TF.bpePairStats(table(sp, dir, "documents"), "text", 20),
      // Word-frequency-weighted adjacent symbol pairs, replayed over the
      // vocab; pairs travel as 'a b' strings (symbols never contain spaces).
      """WITH w0 AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+', 0)) AS w
        |            FROM documents),
        |v AS (SELECT w, CAST(count(*) AS BIGINT) AS f FROM w0 GROUP BY 1),
        |sy AS (SELECT f, list_concat(list_transform(range(1, length(w) + 1),
        |                                            i -> substr(w, i, 1)),
        |                             ['</w>']) AS s
        |       FROM v),
        |p0 AS (SELECT f, unnest(list_transform(range(1, len(s)),
        |                        i -> s[i] || ' ' || s[i + 1])) AS pr
        |       FROM sy),
        |g AS (SELECT split_part(pr, ' ', 1) AS pair_a,
        |             split_part(pr, ' ', 2) AS pair_b,
        |             CAST(sum(f) AS BIGINT) AS cnt
        |      FROM p0 GROUP BY 1, 2),
        |r AS (SELECT *, row_number() OVER (ORDER BY cnt DESC, pair_a, pair_b) AS rank
        |      FROM g)
        |SELECT pair_a, pair_b, cnt, CAST(rank AS BIGINT) AS rank
        |FROM r WHERE rank <= 20""".stripMargin),

    // Calibration curve of the q80 hashed-linear quality score against
    // the lang='en' label (q142's labeling): 10 equal-width bins, exact
    // integer counts, fixed-point mean score. The reliability diagram
    // next to q142's AUC.
    QueryDef("q160_calibration", (sp, dir) => {
      val scored = graft.sources.Scans.parallelized(
          table(sp, dir, "documents").select(col("text"), col("lang")))
        .select(
          TF.hashedLinearScore(col("text"), dim = 64, salt = "q80").as("score"),
          col("lang"))
      graft.functions.Stats.calibrationCurve(scored, "score",
        col("lang") === "en", 10)
    }, {
      // q80's bit-exact score replay bucketed to the reliability diagram;
      // fixed-point mean (6 dp scores ⇒ round(s·1e6) is an exact integer).
      val half = TF.HashMod / 2L
      s"""WITH t AS (
         |  SELECT lang,
         |         list_filter(regexp_split_to_array(lower(text), '\\s+'),
         |                     x -> x <> '') AS toks
         |  FROM documents),
         |s AS (
         |  SELECT lang, len(toks) AS ntok,
         |         CAST(coalesce(list_sum(list_transform(toks, tok ->
         |           ((${hSql("'q80:' || tok")} % 64) * 2654435761)
         |             % ${TF.HashMod} - $half)), 0) AS BIGINT) AS raw
         |  FROM t),
         |sc AS (
         |  SELECT lang,
         |         round(1.0 / (1.0 + exp(-(0.0 + 4.0 *
         |           (CASE WHEN ntok > 0
         |                 THEN raw / (CAST(ntok AS DOUBLE) * $half.0)
         |                 ELSE 0.0 END)))), 6) AS score
         |  FROM s),
         |b AS (
         |  SELECT greatest(least(CAST(floor(score * 10) AS BIGINT), 9), 0) AS bin,
         |         CAST(round(score * 1e6, 0) AS DECIMAL(38,0)) AS fx,
         |         CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
         |  FROM sc)
         |SELECT bin, CAST(count(*) AS BIGINT) AS n,
         |       CAST(sum(y) AS BIGINT) AS n_pos,
         |       round(CAST(sum(fx) AS DOUBLE) /
         |             (CAST(count(*) AS DOUBLE) * 1e6), 6) AS mean_score,
         |       round(CAST(sum(y) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
         |         AS pos_rate
         |FROM b GROUP BY 1""".stripMargin
    }),

    // CCNet-shaped LM quality filtering: a unigram LM trained on the
    // English slice scores EVERY document (add-one smoothing, OOV terms
    // hit the finite ln(N+V+1) ceiling). The production form of
    // q59's self-scored surprisal — train on trusted text, score the
    // crawl; `oov` rides along as the companion signal.
    QueryDef("q185_cross_surprisal", (sp, dir) => {
      val d = table(sp, dir, "documents")
      TF.crossSurprisal(d.where(col("lang") === "en"), d, "doc_id", "text")
    },
      // q59's fold discipline with the reference/target split and add-one
      // smoothing; per-term values round 6 dp before the sorted fold (the
      // q94 sub-ulp ln guard).
      """WITH rt AS (SELECT unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |                                      x -> x <> '')) AS term
        |            FROM documents WHERE lang = 'en'),
        |f AS (SELECT term, count(*) AS n FROM rt GROUP BY 1),
        |st AS (SELECT CAST(sum(n) AS DOUBLE) AS N,
        |              CAST(count(*) AS DOUBLE) AS V FROM f),
        |tt AS (SELECT doc_id,
        |              unnest(list_filter(regexp_split_to_array(lower(text), '\s+'),
        |                                 x -> x <> '')) AS term
        |       FROM documents),
        |c AS (SELECT doc_id, term, count(*) AS c FROM tt GROUP BY 1, 2),
        |g AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tok,
        |             CAST(sum(CASE WHEN f.n IS NULL THEN c ELSE 0 END) AS BIGINT) AS oov,
        |             list(round(CAST(c AS DOUBLE) *
        |                        ln(((SELECT N FROM st) + (SELECT V FROM st) + 1.0)
        |                           / (CAST(coalesce(f.n, 0) AS DOUBLE) + 1.0)), 6)
        |                  ORDER BY term) AS vs
        |      FROM c LEFT JOIN f USING (term) GROUP BY 1)
        |SELECT doc_id AS id, n_tok, oov,
        |       list_reduce(list_prepend(0.0, vs), (a, b) -> a + b) / n_tok
        |         AS surprisal
        |FROM g""".stripMargin),

    // Whole-document packing (next-fit-decreasing per bucket) — the SFT
    // layout where docs may NOT span pack boundaries, next to q56's
    // concatenate-and-chop. The per-bucket fill recurrence has no closed
    // window form, so this is a documented imperative pass; the oracle
    // replays it as a recursive CTE walking each bucket's
    // (n_tok desc, doc_id) rank order.
    QueryDef("q186_pack_whole", (sp, dir) =>
      graft.functions.Packing.packWhole(
        table(sp, dir, "documents").select(col("doc_id"), col("text")),
        "doc_id", TF.tokenCount(col("text")), capacity = 256, nBuckets = 8)
        .select(col("doc_id"), col("bucket"), col("n_tok"), col("pack"),
          col("pack_offset"), col("oversize")),
      s"""WITH RECURSIVE t AS (
         |  SELECT doc_id,
         |         ((('0x' || substr(md5('pack:' || CAST(doc_id AS VARCHAR)),1,15))::BIGINT
         |           % ${TF.HashMod}) % 1000) % 8 AS bucket,
         |         CAST(len($toksSql) AS BIGINT) AS n_tok
         |  FROM documents),
         |d AS (
         |  SELECT doc_id, bucket, n_tok,
         |         row_number() OVER (PARTITION BY bucket
         |                            ORDER BY n_tok DESC, doc_id) AS rk
         |  FROM t),
         |st AS (
         |  SELECT doc_id, bucket, n_tok, rk,
         |         CAST(0 AS BIGINT) AS pack, CAST(0 AS BIGINT) AS off,
         |         n_tok AS fill
         |  FROM d WHERE rk = 1
         |  UNION ALL
         |  SELECT d.doc_id, d.bucket, d.n_tok, d.rk,
         |         CASE WHEN st.fill + d.n_tok > 256 AND st.fill > 0
         |              THEN st.pack + 1 ELSE st.pack END,
         |         CASE WHEN st.fill + d.n_tok > 256 AND st.fill > 0
         |              THEN CAST(0 AS BIGINT) ELSE st.fill END,
         |         CASE WHEN st.fill + d.n_tok > 256 AND st.fill > 0
         |              THEN d.n_tok ELSE st.fill + d.n_tok END
         |  FROM st JOIN d ON d.bucket = st.bucket AND d.rk = st.rk + 1)
         |SELECT doc_id, bucket, n_tok, pack, off AS pack_offset,
         |       n_tok > 256 AS oversize
         |FROM st""".stripMargin),

    // BPE tokenizer TRAINING: five full merge rounds of the iterative
    // loop whose round-0 count is q154 — vocab-frequency reduction once,
    // then per-round pair count + top-1 + greedy-left corpus rewrite.
    // The oracle replays all five rounds layer by layer, including the
    // greedy-left fold (encoded-accumulator list_reduce), so the trained
    // merge list is engine-exact.
    QueryDef("q187_bpe_train", (sp, dir) =>
      TF.bpeTrain(table(sp, dir, "documents"), "text", 5), {
      // Five generated layers: pair count over the vocab, top-1 by
      // (n desc, s1, s2), then the greedy-left rewrite as an
      // encoded-accumulator list_reduce (out <chr(1)> pend) — the exact
      // fold bpeTrain runs; "" is a safe none-marker (symbols are never
      // empty).
      def o(acc: String) = s"split_part($acc, chr(1), 1)"
      def p(acc: String) = s"split_part($acc, chr(1), 2)"
      def app(out: String, x: String) =
        s"CASE WHEN $out = '' THEN $x ELSE $out || ' ' || $x END"
      def layer(r: Int): String = {
        val v = s"v${r - 1}"
        s"""p${r}_0 AS (SELECT f, str_split(s, ' ') AS a FROM $v
           |            WHERE len(str_split(s, ' ')) >= 2),
           |p${r}_1 AS (SELECT f, a, unnest(range(1, len(a))) AS i FROM p${r}_0),
           |p$r AS (SELECT a[CAST(i AS INTEGER)] AS s1,
           |               a[CAST(i + 1 AS INTEGER)] AS s2,
           |               CAST(sum(f) AS BIGINT) AS n
           |        FROM p${r}_1 GROUP BY 1, 2),
           |m$r AS (SELECT s1, s2, n FROM p$r ORDER BY n DESC, s1, s2 LIMIT 1),
           |v${r}_0 AS (
           |  SELECT v.f AS f,
           |         list_reduce(list_prepend(chr(1), str_split(v.s, ' ')),
           |           (acc, x) -> CASE
           |             WHEN ${p("acc")} = ''
           |               THEN ${o("acc")} || chr(1) || x
           |             WHEN ${p("acc")} = m.s1 AND x = m.s2
           |               THEN ${app(o("acc"), "m.s1 || m.s2")} || chr(1)
           |             ELSE ${app(o("acc"), p("acc"))} || chr(1) || x
           |           END) AS r
           |  FROM $v v CROSS JOIN m$r m),
           |v$r AS (SELECT CASE WHEN ${p("r")} = '' THEN ${o("r")}
           |               ELSE ${app(o("r"), p("r"))} END AS s, f
           |        FROM v${r}_0)""".stripMargin
      }
      val rounds = 5
      s"""WITH w0 AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
         |            FROM documents),
         |vw AS (SELECT w, count(*) AS f FROM w0 GROUP BY w),
         |v0 AS (SELECT array_to_string(
         |                 list_append(list_transform(range(1, len(w) + 1),
         |                   i -> substr(w, CAST(i AS INTEGER), 1)), '</w>'),
         |                 ' ') AS s, f
         |       FROM vw),
         |${(1 to rounds).map(layer).mkString(",\n")}
         |${(1 to rounds).map(r =>
             s"SELECT CAST($r AS BIGINT) AS round, s1 AS lhs, s2 AS rhs, " +
               s"s1 || s2 AS merged, n AS cnt FROM m$r")
             .mkString("\nUNION ALL\n")}""".stripMargin
    }),

    // BPE ENCODE with the q187-trained merges: the 5 learned merges
    // compose into one codegen'd fold chain applied per word in learned
    // order (zero shuffle before the per-doc aggregate); output is each
    // doc's word and symbol count under the trained tokenizer — the
    // real-tokenizer fertility denominator.
    QueryDef("q188_bpe_encode", (sp, dir) => {
      val d = table(sp, dir, "documents")
      val m = TF.bpeTrain(d, "text", 5).orderBy("round").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      TF.bpeEncode(d, "doc_id", "text", m)
    }, {
      def o(acc: String) = s"split_part($acc, chr(1), 1)"
      def p(acc: String) = s"split_part($acc, chr(1), 2)"
      def app(out: String, x: String) =
        s"CASE WHEN $out = '' THEN $x ELSE $out || ' ' || $x END"
      def foldCtes(prev: String, m: String, out: String,
          carry: String): String =
        s"""${out}_0 AS (
           |  SELECT ${carry},
           |         list_reduce(list_prepend(chr(1), str_split(v.s, ' ')),
           |           (acc, x) -> CASE
           |             WHEN ${p("acc")} = ''
           |               THEN ${o("acc")} || chr(1) || x
           |             WHEN ${p("acc")} = m.s1 AND x = m.s2
           |               THEN ${app(o("acc"), "m.s1 || m.s2")} || chr(1)
           |             ELSE ${app(o("acc"), p("acc"))} || chr(1) || x
           |           END) AS r
           |  FROM $prev v CROSS JOIN $m m),
           |$out AS (SELECT ${carry.replace("v.", "")},
           |                CASE WHEN ${p("r")} = '' THEN ${o("r")}
           |                ELSE ${app(o("r"), p("r"))} END AS s
           |         FROM ${out}_0)""".stripMargin
      def vocabLayer(r: Int): String = {
        val v = s"v${r - 1}"
        s"""p${r}_0 AS (SELECT f, str_split(s, ' ') AS a FROM $v
           |            WHERE len(str_split(s, ' ')) >= 2),
           |p${r}_1 AS (SELECT f, a, unnest(range(1, len(a))) AS i FROM p${r}_0),
           |p$r AS (SELECT a[CAST(i AS INTEGER)] AS s1,
           |               a[CAST(i + 1 AS INTEGER)] AS s2,
           |               CAST(sum(f) AS BIGINT) AS n
           |        FROM p${r}_1 GROUP BY 1, 2),
           |m$r AS (SELECT s1, s2, n FROM p$r ORDER BY n DESC, s1, s2 LIMIT 1),
           |${foldCtes(v, s"m$r", s"v$r", "v.f AS f")}""".stripMargin
      }
      val rounds = 5
      s"""WITH w0 AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
         |            FROM documents),
         |vw AS (SELECT w, count(*) AS f FROM w0 GROUP BY w),
         |v0 AS (SELECT array_to_string(
         |                 list_append(list_transform(range(1, len(w) + 1),
         |                   i -> substr(w, CAST(i AS INTEGER), 1)), '</w>'),
         |                 ' ') AS s, f
         |       FROM vw),
         |${(1 to rounds).map(vocabLayer).mkString(",\n")},
         |e0 AS (SELECT doc_id,
         |              array_to_string(
         |                list_append(list_transform(range(1, len(w) + 1),
         |                  i -> substr(w, CAST(i AS INTEGER), 1)), '</w>'),
         |                ' ') AS s
         |       FROM (SELECT doc_id,
         |                    unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
         |             FROM documents)),
         |${(1 to rounds).map(r =>
             foldCtes(s"e${r - 1}", s"m$r", s"e$r", "v.doc_id AS doc_id"))
             .mkString(",\n")}
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |       CAST(sum(len(str_split(s, ' '))) AS BIGINT) AS n_sym
         |FROM e$rounds GROUP BY doc_id""".stripMargin
    }),

    // Benchmark decontamination, the REMOVAL pass over q54's detection:
    // corpus docs ship scrubbed of every token span covered by a
    // benchmark 5-gram (span-level — keeps the clean rest of a page that
    // quotes one eval question) instead of being dropped whole. Same
    // even/odd split as q54; the bench gram set broadcasts, the corpus
    // never shuffles for the marking.
    QueryDef("q189_decontaminate_spans", (sp, dir) => {
      val d = table(sp, dir, "documents")
      Dedup.decontaminateSpans(
        d.where(pmod(col("doc_id"), lit(50L)) =!= 0L), "doc_id", "text",
        d.where(pmod(col("doc_id"), lit(50L)) === 0L), "text", 5)
    },
      """WITH sized AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks,
        |         CAST(len(list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')) AS BIGINT) AS ntok
        |  FROM documents WHERE doc_id % 50 <> 0),
        |bt AS (
        |  SELECT list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS t
        |  FROM documents WHERE doc_id % 50 = 0),
        |bg AS (SELECT DISTINCT unnest(
        |         list_transform(range(1, greatest(len(t) - 4, 0) + 1),
        |                        i -> array_to_string(t[i : i + 4], ' '))) AS g
        |       FROM bt),
        |wins0 AS (
        |  SELECT doc_id, toks,
        |         unnest(generate_series(1, CAST(ntok AS INTEGER) - 4)) AS p
        |  FROM sized WHERE ntok >= 5),
        |wins AS (
        |  SELECT doc_id, CAST(p AS BIGINT) AS p,
        |         array_to_string(toks[p : p + 4], ' ') AS gram
        |  FROM wins0),
        |dw AS (SELECT w.doc_id, w.p FROM wins w
        |       WHERE w.gram IN (SELECT g FROM bg)),
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

    // BPE ENCODE emitting the TOKEN SEQUENCE (VERDICT-r9 #2): q188's
    // trained merges applied per distinct word, occurrences reassembled in
    // document order — `tokens` is the space-joined symbol stream a
    // tokenizer consumer actually reads (serialized to one string per the
    // top-level-array ban). The oracle replays the same fold chain per
    // occurrence and string_agg's in word order.
    QueryDef("q201_bpe_encode_seq", (sp, dir) => {
      val d = table(sp, dir, "documents")
      val m = TF.bpeTrain(d, "text", 5).orderBy("round").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      TF.bpeEncodeSeq(d, "doc_id", "text", m)
    }, {
      def o(acc: String) = s"split_part($acc, chr(1), 1)"
      def p(acc: String) = s"split_part($acc, chr(1), 2)"
      def app(out: String, x: String) =
        s"CASE WHEN $out = '' THEN $x ELSE $out || ' ' || $x END"
      def foldCtes(prev: String, m: String, out: String,
          carry: String): String =
        s"""${out}_0 AS (
           |  SELECT ${carry},
           |         list_reduce(list_prepend(chr(1), str_split(v.s, ' ')),
           |           (acc, x) -> CASE
           |             WHEN ${p("acc")} = ''
           |               THEN ${o("acc")} || chr(1) || x
           |             WHEN ${p("acc")} = m.s1 AND x = m.s2
           |               THEN ${app(o("acc"), "m.s1 || m.s2")} || chr(1)
           |             ELSE ${app(o("acc"), p("acc"))} || chr(1) || x
           |           END) AS r
           |  FROM $prev v CROSS JOIN $m m),
           |$out AS (SELECT ${carry.replace("v.", "")},
           |                CASE WHEN ${p("r")} = '' THEN ${o("r")}
           |                ELSE ${app(o("r"), p("r"))} END AS s
           |         FROM ${out}_0)""".stripMargin
      def vocabLayer(r: Int): String = {
        val v = s"v${r - 1}"
        s"""p${r}_0 AS (SELECT f, str_split(s, ' ') AS a FROM $v
           |            WHERE len(str_split(s, ' ')) >= 2),
           |p${r}_1 AS (SELECT f, a, unnest(range(1, len(a))) AS i FROM p${r}_0),
           |p$r AS (SELECT a[CAST(i AS INTEGER)] AS s1,
           |               a[CAST(i + 1 AS INTEGER)] AS s2,
           |               CAST(sum(f) AS BIGINT) AS n
           |        FROM p${r}_1 GROUP BY 1, 2),
           |m$r AS (SELECT s1, s2, n FROM p$r ORDER BY n DESC, s1, s2 LIMIT 1),
           |${foldCtes(v, s"m$r", s"v$r", "v.f AS f")}""".stripMargin
      }
      val rounds = 5
      s"""WITH w0 AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
         |            FROM documents),
         |vw AS (SELECT w, count(*) AS f FROM w0 GROUP BY w),
         |v0 AS (SELECT array_to_string(
         |                 list_append(list_transform(range(1, len(w) + 1),
         |                   i -> substr(w, CAST(i AS INTEGER), 1)), '</w>'),
         |                 ' ') AS s, f
         |       FROM vw),
         |${(1 to rounds).map(vocabLayer).mkString(",\n")},
         |dw AS (SELECT doc_id, regexp_extract_all(lower(text), '[a-z0-9]+') AS ws
         |       FROM documents),
         |e00 AS (SELECT doc_id, ws, unnest(range(1, len(ws) + 1)) AS i
         |        FROM dw),
         |e0 AS (SELECT doc_id, i,
         |              array_to_string(
         |                list_append(list_transform(
         |                  range(1, len(ws[CAST(i AS INTEGER)]) + 1),
         |                  j -> substr(ws[CAST(i AS INTEGER)], CAST(j AS INTEGER), 1)),
         |                  '</w>'),
         |                ' ') AS s
         |       FROM e00),
         |${(1 to rounds).map(r =>
             foldCtes(s"e${r - 1}", s"m$r", s"e$r",
               "v.doc_id AS doc_id, v.i AS i"))
             .mkString(",\n")}
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |       CAST(sum(len(str_split(s, ' '))) AS BIGINT) AS n_sym,
         |       string_agg(s, ' ' ORDER BY i) AS tokens
         |FROM e$rounds GROUP BY doc_id""".stripMargin
    }),

    // BPE token-id VOCABULARY: the q187-trained encoder's distinct output
    // symbols over the corpus, dense ids in lexicographic symbol order
    // (the deterministic, tie-free assignment rule) with weighted corpus
    // occurrence counts — the tokenizer artifact a training pipeline
    // ships. The id window sorts a vocab-bounded frame only.
    QueryDef("q206_bpe_vocab", (sp, dir) => {
      val d = table(sp, dir, "documents")
      val m = TF.bpeTrain(d, "text", 5).orderBy("round").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      TF.bpeVocab(d, "text", m)
    }, {
      def o(acc: String) = s"split_part($acc, chr(1), 1)"
      def p(acc: String) = s"split_part($acc, chr(1), 2)"
      def app(out: String, x: String) =
        s"CASE WHEN $out = '' THEN $x ELSE $out || ' ' || $x END"
      def vocabLayer(r: Int): String = {
        val v = s"v${r - 1}"
        s"""p${r}_0 AS (SELECT f, str_split(s, ' ') AS a FROM $v
           |            WHERE len(str_split(s, ' ')) >= 2),
           |p${r}_1 AS (SELECT f, a, unnest(range(1, len(a))) AS i FROM p${r}_0),
           |p$r AS (SELECT a[CAST(i AS INTEGER)] AS s1,
           |               a[CAST(i + 1 AS INTEGER)] AS s2,
           |               CAST(sum(f) AS BIGINT) AS n
           |        FROM p${r}_1 GROUP BY 1, 2),
           |m$r AS (SELECT s1, s2, n FROM p$r ORDER BY n DESC, s1, s2 LIMIT 1),
           |v${r}_0 AS (
           |  SELECT v.f AS f,
           |         list_reduce(list_prepend(chr(1), str_split(v.s, ' ')),
           |           (acc, x) -> CASE
           |             WHEN ${p("acc")} = ''
           |               THEN ${o("acc")} || chr(1) || x
           |             WHEN ${p("acc")} = m.s1 AND x = m.s2
           |               THEN ${app(o("acc"), "m.s1 || m.s2")} || chr(1)
           |             ELSE ${app(o("acc"), p("acc"))} || chr(1) || x
           |           END) AS r
           |  FROM $v v CROSS JOIN m$r m),
           |v$r AS (SELECT CASE WHEN ${p("r")} = '' THEN ${o("r")}
           |               ELSE ${app(o("r"), p("r"))} END AS s, f
           |        FROM v${r}_0)""".stripMargin
      }
      val rounds = 5
      s"""WITH w0 AS (SELECT unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS w
         |            FROM documents),
         |vw AS (SELECT w, count(*) AS f FROM w0 GROUP BY w),
         |v0 AS (SELECT array_to_string(
         |                 list_append(list_transform(range(1, len(w) + 1),
         |                   i -> substr(w, CAST(i AS INTEGER), 1)), '</w>'),
         |                 ' ') AS s, f
         |       FROM vw),
         |${(1 to rounds).map(vocabLayer).mkString(",\n")},
         |syms AS (SELECT f, unnest(str_split(s, ' ')) AS symbol FROM v$rounds),
         |agg AS (SELECT symbol, CAST(sum(f) AS BIGINT) AS n_occ
         |        FROM syms GROUP BY 1)
         |SELECT CAST(row_number() OVER (ORDER BY symbol) AS BIGINT) AS token_id,
         |       symbol, n_occ
         |FROM agg""".stripMargin
    }),

    // BPE ENCODE TO IDS — the final model-feed surface: q201's symbol
    // sequences mapped through the q206 vocab, one comma-joined id string
    // per doc. Fold chain + symbol→id join run once per distinct word;
    // the vocab broadcasts.
    QueryDef("q207_bpe_encode_ids", (sp, dir) => {
      val d = table(sp, dir, "documents")
      val m = TF.bpeTrain(d, "text", 5).orderBy("round").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      TF.bpeEncodeIds(d, "doc_id", "text", m)
    },
      q207Sql),

    // TRAINING SEQUENCES — the end of the tokenizer pipeline: q207's
    // per-doc token ids split into fixed 16-token windows, the last
    // right-padded with -1, n_real carrying the attention-mask boundary.
    // Documents never mix (cross-doc packing is q56/q186); the window
    // layer is pure codegen'd array expressions inside the scan stage —
    // no shuffle beyond what the encode itself does at any corpus size.
    QueryDef("q211_train_sequences", (sp, dir) => {
      val d = table(sp, dir, "documents")
      val m = TF.bpeTrain(d, "text", 5).orderBy("round").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      graft.functions.Packing.fixedLenSequences(
        TF.bpeEncodeIds(d, "doc_id", "text", m),
        "doc_id", "token_ids", seqLen = 16, padId = -1L)
    },
      s"""WITH ids AS ($q207Sql),
        |arr AS (SELECT doc_id, str_split(token_ids, ',') AS a
        |        FROM ids WHERE token_ids <> ''),
        |w AS (SELECT doc_id, a,
        |             unnest(range(0, CAST(ceil(len(a) / 16.0) AS BIGINT)))
        |               AS seq_idx
        |      FROM arr),
        |sq AS (SELECT doc_id, CAST(seq_idx AS BIGINT) AS seq_idx,
        |              a[CAST(seq_idx * 16 + 1 AS INTEGER)
        |                :CAST(seq_idx * 16 + 16 AS INTEGER)] AS win
        |       FROM w)
        |SELECT doc_id, seq_idx,
        |       array_to_string(list_concat(win,
        |         list_transform(range(1, 16 - len(win) + 1), x -> '-1')),
        |         ',') AS ids,
        |       CAST(len(win) AS BIGINT) AS n_real
        |FROM sq""".stripMargin),

    // WordPiece VOCAB — the second tokenizer family next to BPE
    // (q187/q206): substring forms (plain at word start, ## inside)
    // counted over the distinct-word frame weighted by occurrence, top-50
    // multi-char forms by (count, piece) + every observed single-char
    // form (so encode under this vocab is total). Dense ids in piece
    // order over a vocab-bounded window.
    QueryDef("q213_wordpiece_vocab", (sp, dir) =>
      TF.wordpieceVocab(table(sp, dir, "documents"), "text", k = 50, maxPieceLen = 4),
      s"""WITH $wordpieceVocabCtes
        |SELECT CAST(row_number() OVER (ORDER BY piece) AS BIGINT)
        |         AS token_id, piece, n_occ
        |FROM voc""".stripMargin),

    // WordPiece ENCODE — BERT's greedy longest-match-first segmentation
    // under the q213 vocab (collected driver-side: vocabularies are
    // KB-scale literals by construction). Pure integer/string folds, so
    // the oracle replays the exact greedy walk; the fold runs once per
    // DISTINCT word (the vocab trick), occurrences pay one word-keyed
    // join plus the per-doc ordered reassembly.
    QueryDef("q214_wordpiece_encode", (sp, dir) => {
      val d = table(sp, dir, "documents")
      val voc = TF.wordpieceVocab(d, "text", k = 50, maxPieceLen = 4)
        .select("piece").collect().map(_.getString(0)).toSeq
      TF.wordpieceEncode(d, "doc_id", "text", voc, maxPieceLen = 4)
    },
      wordpieceEncodeSql),

    // Unigram-LM tokenizer TRAINING (Kudo ACL '18) — the third subword
    // family next to BPE (q187) and WordPiece (q213): frequency-seeded
    // piece counts (top-60 multi-char + char totality), one EM round of
    // Viterbi segmentation (integer-scaled log-prob scores, exact long
    // DP) and piece recounting. The oracle replays seeding, the Viterbi
    // E-step (recursive CTE carrying the last-4 DP cells + backpointer
    // digits), the M-step recount, and the final score computation.
    QueryDef("q215_unigram_vocab", (sp, dir) =>
      TF.unigramTrain(table(sp, dir, "documents"), "text", k = 60,
        maxPieceLen = 4, rounds = 1),
      q215Sql),

    // Unigram-LM ENCODE under the q215 scores: per-document Viterbi
    // max-log-prob segmentation (q214's output surface, probabilistic
    // split instead of greedy). The DP folds once per DISTINCT word with
    // the vocab as a map literal; occurrences pay one word-keyed join
    // plus the per-doc ordered reassembly.
    QueryDef("q216_unigram_encode", (sp, dir) => {
      val d = table(sp, dir, "documents")
      val sc = TF.unigramTrain(d, "text", k = 60, maxPieceLen = 4, rounds = 1)
        .select("piece", "score").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      TF.unigramEncode(d, "doc_id", "text", sc, maxPieceLen = 4)
    },
      q216Sql),

    // Encode under a FROZEN vocabulary with real OOV — the shipped-
    // tokenizer contract q216 can't exercise (its vocab derives from the
    // corpus it encodes, so every char is covered): the q215 scores minus
    // every piece containing 'q' make each q-bearing word UNREACHABLE in
    // the Viterbi DP, and the whole-word [UNK] bail — until now only
    // spec-pinned — lands under the oracle gate on both engines.
    QueryDef("q217_unigram_frozen_oov", (sp, dir) => {
      val d = table(sp, dir, "documents")
      val sc = TF.unigramTrain(d, "text", k = 60, maxPieceLen = 4, rounds = 1)
        .select("piece", "score").collect()
        .map(r => r.getString(0) -> r.getLong(1))
        .filterNot(_._1.contains("q")).toMap
      TF.unigramEncode(d, "doc_id", "text", sc, maxPieceLen = 4)
    },
      q217Sql),

    // BPE under a PERSISTED FROZEN vocabulary — the production tokenizer
    // contract for the first family, matching q217's unigram shape: merges
    // + vocab TRAIN on the odd-doc slice, the vocab ships as a parquet
    // table (censored of every 'q'-bearing symbol, the q217 idiom that
    // guarantees real OOV), and the EVEN slice encodes against the table.
    // Pinned OOV policy: a symbol absent from the frozen vocab DROPS
    // (per-symbol, not whole-word — bpeEncodeIds' documented contract);
    // n_sym counts surviving symbols only. The vocab table is KB-scale by
    // construction, so the collect-free probe broadcasts it.
    QueryDef("q218_bpe_frozen_ids", (sp, dir) => {
      val d = table(sp, dir, "documents")
      val train = d.where(pmod(col("doc_id"), lit(2L)) === 1L)
      val m = TF.bpeTrain(train, "text", 5).orderBy("round").collect()
        .map(r => (r.getString(1), r.getString(2))).toSeq
      val tbl = s"graft_bpe_vocab_${datasetStamp(dir)}"
      if (!sp.catalog.tableExists(tbl)) {
        graft.sources.ManagedTables.clearOrphanedLocation(sp, tbl)
        TF.bpeVocab(train, "text", m)
          .where(!col("symbol").contains("q"))
          .write.format("parquet").mode("overwrite").saveAsTable(tbl)
      }
      TF.bpeEncodeIds(d.where(pmod(col("doc_id"), lit(2L)) === 0L),
        "doc_id", "text", m, vocab = Some(sp.table(tbl)))
    },
      q207SqlFor("doc_id % 2 = 1", "doc_id % 2 = 0", "symbol NOT LIKE '%q%'")),

    // WordPiece under a PERSISTED FROZEN vocabulary — q218's contract for
    // the second family: vocab trained on the odd slice, persisted,
    // q-censored, even slice encodes. Pinned OOV policy: WordPiece bails
    // the WHOLE word to [UNK] when any position has no matching piece
    // (BERT's rule) — with the 'q' char piece censored, every q-bearing
    // word provably exercises it.
    QueryDef("q219_wordpiece_frozen", (sp, dir) => {
      val d = table(sp, dir, "documents")
      val train = d.where(pmod(col("doc_id"), lit(2L)) === 1L)
      val tbl = s"graft_wp_vocab_${datasetStamp(dir)}"
      if (!sp.catalog.tableExists(tbl)) {
        graft.sources.ManagedTables.clearOrphanedLocation(sp, tbl)
        TF.wordpieceVocab(train, "text", k = 50, maxPieceLen = 4)
          .where(!col("piece").contains("q"))
          .write.format("parquet").mode("overwrite").saveAsTable(tbl)
      }
      val voc = sp.table(tbl).select("piece").collect().map(_.getString(0)).toSeq
      TF.wordpieceEncode(d.where(pmod(col("doc_id"), lit(2L)) === 0L),
        "doc_id", "text", voc, maxPieceLen = 4)
    },
      wordpieceEncodeSqlFor("doc_id % 2 = 1", "doc_id % 2 = 0",
        "piece NOT LIKE '%q%'")),

    // The END-TO-END training-data pipeline as ONE oracle-gated query —
    // EndToEndPipelineSpec's composition promoted to the gate: quality
    // filter → exact dedup → near-dup removal → benchmark decontamination
    // → mixture resampling → per-language token budget → deterministic
    // global shuffle → sequence packing, every stage the library operator
    // the per-stage rows (q09/q17/q54/q65/q67/q66/q56) already pin
    // individually. The bench slice is q54's every-50th doc; near-dup
    // removal drops any doc that near-duplicates a LOWER-id doc (the
    // keep-first policy — cheaper than CC at scale and exactly
    // SQL-replayable); the quality cut uses exact integer predicates
    // (>= 20 tokens, strict-majority distinct) so no float boundary can
    // diverge between engines. Scale shape: the only shuffles are the
    // stages' own (dedup group-by, LSH band join, window partitions);
    // the bench gram set and budget-offset table broadcast.
    QueryDef("q220_pipeline", (sp, dir) => {
      val d = table(sp, dir, "documents")
      val bench = d.where(pmod(col("doc_id"), lit(50L)) === 0L)
      val corpus0 = d.where(pmod(col("doc_id"), lit(50L)) =!= 0L)
      val nTok = TF.tokenCount(col("text"))
      val filtered = corpus0.where(nTok >= 20 &&
        size(array_distinct(TF.tokens(col("text")))) * 2 > nTok)
      val keepers = Dedup.exactDupGroups(filtered, "text", "doc_id")
        .select(col("keeper"))
      val exact = filtered.join(keepers,
        filtered("doc_id") === col("keeper"), "left_semi")
      val dups = Dedup.nearDupPairs(exact, "text", "doc_id",
          k = 16, bands = 4, shingleN = 5, threshold = 0.5)
        .select(col("id_b").as("doc_id")).distinct()
      val deduped = exact.join(dups, Seq("doc_id"), "left_anti")
      val hits = Dedup.benchmarkContamination(deduped, bench, "text",
        "doc_id", n = 3)
      // Materialize the cleaned corpus ONCE: the three downstream sampler
      // stages each run a driver-side totals/weights pass over their full
      // upstream (documented two-pass operators), so the un-materialized
      // composition recomputed the filter→dedup→decontaminate chain four
      // times (40 jobs at sf0.1). Production pipelines persist exactly this
      // boundary; results are unchanged.
      val clean = deduped.join(hits.select(col("id").as("doc_id")),
          Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), nTok.cast("long").as("n_tok"))
        .localCheckpoint(true)
      val mixed = graft.functions.Sampling.resampleByWeight(
        clean.select(col("doc_id"), col("lang"), col("n_tok")),
        "doc_id", "lang",
        Map("en" -> 2.5, "de" -> 1.0, "es" -> 1.0, "fr" -> 0.6, "zh" -> 0.4))
      val keyed = mixed.withColumn("key",
        concat_ws("#", col("doc_id"), col("epoch")))
      // same reason: the shuffle's totals pass would otherwise re-run the
      // resample + budget windows a second and third time
      val budgeted = graft.functions.Sampling.capByBudget(keyed, "key",
          "n_tok", 2000L, strataCols = Seq("lang"))
        .localCheckpoint(true)
      val shuffled = graft.functions.Sampling.globalShuffle(budgeted, "key")
      Packing.packStream(shuffled, "key", col("n_tok"),
          capacity = 256, nBuckets = 8)
        .select(col("key"), col("doc_id"), col("lang"), col("epoch"),
          col("idx"), col("bucket"), col("n_tok"), col("pack_first"),
          col("pack_offset"), col("pack_last"), col("n_packs"))
    },
      q220Sql)
  )
}
