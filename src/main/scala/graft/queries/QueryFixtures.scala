package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Dedup, TextFunctions => TF}

/** Fixtures and oracle-SQL fragments that queries of more than one
  * family use. */
private[queries] object QueryFixtures {

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** DuckDB rendering of [[TF.tokenHashMod]]: md5-derived 60-bit hash mod P. */
  def hSql(x: String) =
    s"('0x' || substr(md5($x),1,15))::BIGINT % ${TF.HashMod}"

  val toksSql =
    """list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '')"""

  /** Full BM25 replay shared by q74 (direct) and q78 (persisted index —
    * must equal the direct path bit for bit): same lowercase tokens, same
    * idf/tf/length math in the same float op order, contributions folded
    * in sorted term order from 0.0, rank on the 6-dp-rounded score. */
  lazy val bm25ReplaySql = bm25ReplaySqlFor("TRUE")

  /** The full BM25 replay with the CORPUS restricted by `corpusPred` —
    * queries still draw from the unrestricted documents table (a deleted
    * doc may keep issuing queries; it just stops being retrievable).
    * `corpusPred = "TRUE"` is the classic full-corpus replay shared by
    * q78/q190/q204/q205; q210 passes the tombstone survivors. */
  def bm25ReplaySqlFor(corpusPred: String) = {
    val toksLower =
      """list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '')"""
    s"""WITH toks AS (SELECT doc_id AS id, unnest($toksLower) AS term
       |              FROM documents WHERE $corpusPred),
       |tf AS (SELECT id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
       |dl AS (SELECT id, count(*) AS dl FROM toks GROUP BY 1),
       |dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |st AS (SELECT (SELECT count(*) FROM documents WHERE $corpusPred) AS n,
       |              (SELECT CAST(count(*) AS DOUBLE) FROM toks)
       |                / (SELECT count(*) FROM documents WHERE $corpusPred)
       |                AS avgdl),
       |q AS (SELECT qid, unnest(qt) AS term
       |      FROM (SELECT doc_id AS qid,
       |                   list_distinct(($toksLower)[1:8]) AS qt
       |            FROM documents WHERE doc_id % 50 = 0)),
       |j AS (SELECT q.qid, tf.id, tf.term,
       |             ln(1.0 + (n - df + 0.5) / (df + 0.5))
       |               * (tf * ${1.2 + 1.0})
       |               / (tf + 1.2 * (${1.0 - 0.75} + (0.75 * dl) / avgdl)) AS c
       |      FROM q JOIN tf USING (term) JOIN dl USING (id)
       |             JOIN dfr USING (term), st),
       |f AS (SELECT qid, id AS doc_id,
       |             CAST(sum(CAST(round(c, 6) AS DECIMAL(18,6))) AS DOUBLE)
       |               AS score
       |      FROM j GROUP BY 1, 2),
       |r AS (SELECT *, row_number() OVER (PARTITION BY qid
       |                                   ORDER BY score DESC, doc_id) AS rank
       |      FROM f)
       |SELECT qid, doc_id, score, rank FROM r WHERE rank <= 10""".stripMargin
  }

  /** q67's strict-prefix budget admission — shared verbatim by the batch
    * row and q198's streamed replay (the stream arrives in this exact
    * (hkey, doc_id) order, so online admission ≡ the prefix rule). */
  lazy val q67Sql =
    s"""WITH t AS (
       |  SELECT doc_id, lang, CAST(len($toksSql) AS BIGINT) AS n_tok,
       |         ${hSql("'budget:' || CAST(doc_id AS VARCHAR)")} AS hkey
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, lang, n_tok,
       |         sum(n_tok) OVER (PARTITION BY lang ORDER BY hkey, doc_id
       |                          ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM t)
       |SELECT doc_id, lang, n_tok FROM c WHERE cum <= 2000""".stripMargin

  /** q71's count-min replay — shared verbatim by the batch row and q195's
    * streamed replay (a running CMS is a pure aggregation: the snapshot
    * after the last micro-batch IS the batch sketch of the union). */
  lazy val q71Sql = {
    val cmsH = (v: String) =>
      s"(${hSql(s"'cms:q71:' || CAST(r AS VARCHAR) || ':' || $v")}) % 64"
    s"""WITH tok AS (SELECT unnest($toksSql) AS tok FROM documents),
       |truth AS (SELECT tok, CAST(count(*) AS BIGINT) AS true_cnt
       |          FROM tok GROUP BY 1),
       |cells AS (SELECT r, ${cmsH("tok")} AS bucket
       |          FROM tok, range(4) t(r)),
       |sk AS (SELECT r, bucket, CAST(count(*) AS BIGINT) AS cnt
       |       FROM cells GROUP BY 1, 2),
       |probe AS (SELECT tok, r, ${cmsH("tok")} AS bucket
       |          FROM truth, range(4) t(r)),
       |est AS (SELECT tok, min(coalesce(cnt, 0)) AS est
       |        FROM probe LEFT JOIN sk USING (r, bucket) GROUP BY 1)
       |SELECT tok, true_cnt, est
       |FROM truth JOIN est USING (tok)""".stripMargin
  }

  /** q72's HLL replay — shared verbatim by the batch row and q196's
    * streamed replay (running max registers, same argument as q71). */
  lazy val q72Sql = {
    val m = 256
    val est0 = graft.functions.Sketches.hllAlpha(m) * m * m
    s"""WITH tok AS (SELECT unnest($toksSql) AS tok FROM documents),
       |h AS (SELECT ('0x' || substr(md5('hll:q72:' || tok),1,15))::BIGINT AS h
       |      FROM tok),
       |rr AS (SELECT h % $m AS register,
       |              CASE WHEN (h >> 8) = 0 THEN 53
       |                   ELSE 53 - length(bin(h >> 8)) END AS rho
       |       FROM h),
       |regs AS (SELECT register, max(rho) AS rho FROM rr GROUP BY 1),
       |allr AS (SELECT r AS register, coalesce(rho, 0) AS rho
       |         FROM range($m) t(r) LEFT JOIN regs ON r = register),
       |agg AS (SELECT list(pow(2.0, -rho) ORDER BY register) AS hs,
       |               CAST(sum(CASE WHEN rho = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |                 AS n_zero
       |        FROM allr),
       |f AS (SELECT list_reduce(list_prepend(0.0, hs), (a, b) -> a + b)
       |               AS hsum, n_zero FROM agg)
       |SELECT $m AS m, n_zero,
       |       round(CASE WHEN $est0 / hsum <= ${2.5 * m} AND n_zero > 0
       |                  THEN ${m.toDouble} * ln(${m.toDouble} / n_zero)
       |                  ELSE $est0 / hsum END, 6) AS est,
       |       (SELECT CAST(count(DISTINCT tok) AS BIGINT) FROM tok)
       |         AS exact_distinct
       |FROM f""".stripMargin
  }

  def shinglesSql(n: Int) =
    s"list_distinct(list_transform(range(1, greatest(len(lower(text))-${n - 1}, 0)+1), " +
      s"i -> substr(lower(text), CAST(i AS INT), $n)))"

  /** The k=16 MinHash params as a DuckDB struct-list literal — same
    * constants as [[Dedup.hashParams]]. */
  val paramsSql = Dedup.hashParams(16)
    .map { case (a, b) => s"{'a': ${a}, 'b': ${b}}" }.mkString("[", ", ", "]")

  val sigSql =
    s"""list_transform($paramsSql, p ->
       |  list_min(list_transform(sh, sg -> (p.a * (${hSql("sg")}) + p.b) % ${Dedup.P})))""".stripMargin
}
