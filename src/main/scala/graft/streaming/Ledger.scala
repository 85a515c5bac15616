package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The two row-resolution rules the streaming twins share: which row of
  * an accumulated `ingest_batch=<id>` ledger serves, and which fetch of
  * a doc_id fetched twice within one micro-batch is kept. */
private[streaming] object Ledger {

  /** Read a ledger of `ingest_batch=<id>` partitions with one row per
    * `key`: on re-ingest the newest batch wins. */
  def newest(s: SparkSession, dir: String, key: String,
             cols: String*): DataFrame =
    s.read.parquet(dir)
      .withColumn("_rk", row_number().over(
        Window.partitionBy(key).orderBy(col("ingest_batch").desc)))
      .filter(col("_rk") === 1)
      .select(cols.map(col): _*)

  /** Keep one deterministic row per doc_id on a same-batch re-fetch:
    * the longest text, then the lexicographically greatest. Keeps the
    * caller's columns. */
  def oneRowPerDoc(batch: DataFrame): DataFrame =
    batch
      .withColumn("_rk", row_number().over(
        Window.partitionBy("doc_id")
          .orderBy(length(col("text")).desc, col("text").desc)))
      .filter(col("_rk") === 1)
      .drop("_rk")
}
