package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A group of catalog queries and their DuckDB oracles. A pack listed in
  * `SparkEntry.packs` contributes to both `SparkEntry.queries` and
  * `SparkEntry.oracleSql`; a key without an oracle gets the rows-only
  * check. */
trait QueryPack {
  def queries: Map[String, (SparkSession, String) => DataFrame]
  def oracles: Map[String, String]
}
