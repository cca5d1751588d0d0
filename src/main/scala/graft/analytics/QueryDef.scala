package graft.analytics

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: the builder the engine runs, the ANSI SQL that
  * DuckDB runs over the same parquet tables for the hash-compare, and
  * whether the builder drives a StreamingQuery (plan audits skip those:
  * their plans live inside the stream, not in the returned frame). */
final case class QueryDef(
    build: (SparkSession, String) => DataFrame,
    oracle: String,
    streaming: Boolean = false)
