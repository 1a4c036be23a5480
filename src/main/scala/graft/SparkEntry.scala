package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Query contract — one query per implemented operator (SURVEY.md §2),
  * each with DuckDB-oracle SQL (SURVEY §2.3). A query is one [[QueryDef]]
  * (name, `build` function, oracle SQL) in its family's file under
  * `graft.queries`; this object concatenates the families and derives
  * `queries` and `oracleSql` from the same records, so a query cannot exist
  * without its oracle.
  *
  * Interval convention: canonical `struct<start,stop>` long nanoseconds,
  * half-open. All timestamp columns (`events.ts`, orders/lineitem dates)
  * are Parquet TIMESTAMP(MICROS), read as TIMESTAMP_NTZ and converted to
  * long ns via `unix_micros(cast(.. as timestamp)) × 1000` under the
  * UTC-pinned session; the DuckDB side uses `epoch_ns` / `epoch_us × 1000`
  * on the same naive values. (Round-6-and-earlier testdata wrote `ts` as
  * TIMESTAMP(NANOS) and was read as long ns via the `nanosAsLong` conf
  * `Session.build` still sets — inert on today's µs files.) All oracle
  * comparisons are order-insensitive; every aggregate/computed column
  * carries the same alias on both sides.
  */
object SparkEntry {

  private[graft] lazy val registry: Seq[QueryDef] = Seq(
    IntervalQueries.defs, DelegatedQueries.defs, TextQueries.defs,
    DedupQueries.defs, VectorQueries.defs, StatsQueries.defs,
    GraphQueries.defs, StreamQueries.defs, MultimodalQueries.defs).flatten

  /** `defs` keyed by name. A name declared twice fails here instead of one
    * record silently replacing the other in the map. */
  private[graft] def byName[V](defs: Seq[QueryDef])(f: QueryDef => V): Map[String, V] = {
    val dups = defs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(dups.isEmpty, s"query names declared twice: ${dups.toSeq.sorted.mkString(", ")}")
    defs.map(d => d.name -> f(d)).toMap
  }

  lazy val queries: Map[String, (SparkSession, String) => DataFrame] =
    byName(registry)(_.build)

  lazy val oracleSql: Map[String, String] = byName(registry)(_.oracleSql)

  /** Flagship: the reference README's demo query (README.md:66-84) — join
    * event spans against quantile windows and aggregate per window. */
  def entry(spark: SparkSession): DataFrame =
    queries("q07_grouped_interval_join")(spark, "/root/testdata/sf0.001")

  /** Collision-free per-dataset suffix for session-cached index names: the
    * FULL sanitized dir path (a 32-bit `String.hashCode` can collide two
    * data dirs onto one cached index) plus a content fingerprint of the
    * `documents` parquet — a 64-bit fold over every part file's (name,
    * length, mtime), sorted by name. Max-mtime alone has millisecond
    * granularity: a dataset overwritten in place fast enough (or with
    * mtimes preserved) could serve a stale index; the size+name fold
    * changes whenever the snapshot's bytes change. */
  private[graft] def datasetStamp(dir: String): String = {
    val src = new java.io.File(dir, "documents.parquet")
    val files = Option(src.listFiles).filter(_.nonEmpty)
      .getOrElse(Array(src)).sortBy(_.getName)
    val fp = files.foldLeft(1469598103934665603L) { (h, f) =>
      val s = s"${f.getName}:${f.length}:${f.lastModified}"
      s.foldLeft(h)((a, c) => (a ^ c) * 1099511628211L)
    }
    dir.replaceAll("[^A-Za-z0-9]+", "_").stripPrefix("_") + "_" +
      java.lang.Long.toUnsignedString(fp, 16)
  }
}
