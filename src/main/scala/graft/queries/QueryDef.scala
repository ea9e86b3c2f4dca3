package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query: its `build` over (session, dataset dir) and the
  * DuckDB `oracle` SQL whose result it must hash-match. */
final case class QueryDef(name: String, build: (SparkSession, String) => DataFrame,
                          oracle: String)
