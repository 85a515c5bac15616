package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{ContentTypeMap, Engagement}
import graft.sources.{Sink, Sources}

/** Pipeline A — customer interaction profiles (reference
  * ETL_customer_interaction.py end to end, re-planned per SURVEY §3.1/§4):
  *
  *   one multi-path NDJSON read (not 30 driver-loop scans)
  *   → envelope unwrap + AppName mapping + sentinel filters
  *   → ONE pivot with explicit values (not 30 data-dependent pivots),
  *     folded into the daily aggregate: one `groupBy(Contract, Date)`
  *     with a conditional sum per type
  *   → engagement profile (totals, active days, most-watched, taste,
  *     activeness band)
  *   → injected sink.
  *
  * Shuffle count: exactly 2 exchanges (daily aggregate, profile
  * aggregate) and 3 jobs per write, vs the reference's 31+ jobs.
  */
object InteractionPipeline {

  /** Build the engagement profile frame (lazy; no action). */
  def build(spark: SparkSession, dayPaths: Seq[String]): DataFrame =
    Engagement(ContentTypeMap(Sources.interactionLogs(spark, dayPaths)))

  /** Run end to end into a sink (table `interaction_data`, like the
    * reference's MySQL target). */
  def run(spark: SparkSession, dayPaths: Seq[String], sink: Sink): Unit =
    sink.write(build(spark, dayPaths), "interaction_data")
}
