package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver query: its Spark body over a corpus directory and the DuckDB
  * SQL that must return the same rows (same column names and types) from
  * the same parquet tables. */
final case class Query(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracleSql: String)
