package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: `build` makes its frame from a session and a
  * dataset directory, and `oracleSql` is the DuckDB SQL over the same
  * dataset whose rows the frame must equal as a multiset. */
final case class QueryDef(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracleSql: String)
