package graft.core

import scala.collection.concurrent.TrieMap

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, timestamp_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Catalog over a driver-provided scale-factor directory of parquet tables
  * (see TESTDATA.md). One parquet file per table; schemas in FIXTURES.md §7.
  *
  * All engine operators take DataFrames, so this is the only place that knows
  * about paths. At cluster scale the same API would point at a warehouse
  * directory; nothing else changes.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Session config required to scan the driver's tables. The generator has
    * emitted `events.ts` as either TIMESTAMP(NANOS) (readable only as a long)
    * or untagged TIMESTAMP(MICROS) (which Spark 4 would infer as
    * TIMESTAMP_NTZ — unusable by `unix_micros`/bigint casts). Sessions pin the
    * timezone to UTC, so reading untagged micros as a regular (LTZ) timestamp
    * is semantically identical to NTZ and matches the DuckDB oracle. */
  val requiredConf: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.parquet.inferTimestampNTZ.enabled" -> "false")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    normalizeTs(spark.read.parquet(s"$dir/$name.parquet"))

  /** Identity of a table's files — name, length and modification time of
    * each, from one listing. Rewriting the table changes it. */
  def fingerprint(spark: SparkSession, dir: String, name: String): String = {
    val p = new Path(s"$dir/$name.parquet")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p)
      .map(st => s"${st.getPath.getName}:${st.getLen}:${st.getModificationTime}")
      .sorted.mkString(",")
  }

  /** Normalize whatever encoding `ts` arrived in to a plain TimestampType
    * column with event-time semantics. Covers all three generator eras:
    * long nanos, TIMESTAMP_NTZ micros, and already-correct timestamps. */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(LongType) => // nanos as long; generator values are micro-res
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case Some(TimestampNTZType) => // session TZ is UTC, so NTZ ≡ LTZ
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
}

/** Process-scoped memo of state fitted from one table, keyed by data dir
  * and served only while the table's files are unchanged
  * ([[Tables.fingerprint]]): a table rewritten under the same path is
  * refitted, never served the old fit. */
final class TableMemo[V](table: String) {
  private val memo = TrieMap.empty[String, (String, V)]

  def apply(spark: SparkSession, dir: String)(build: => V): V = {
    val fp = Tables.fingerprint(spark, dir, table)
    memo.get(dir) match {
      case Some((`fp`, v)) => v
      case _ =>
        val v = build
        memo.put(dir, fp -> v)
        v
    }
  }
}
