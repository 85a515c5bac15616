package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.operators.{TopKeyword, Trend}
import graft.semantic.{KeywordClassifier, RuleClassifier}
import graft.sources.{Sink, Sources}

/** Pipeline B — customer search-behavior trends (reference
  * ETL_customer_behavior.py end to end, re-planned per SURVEY §3.2/§3.3):
  *
  *   one parquet read over both months' day dirs (not 28 unioned
  *   scans), each file tagged with its month as a partition value
  *   → per-(user, month, keyword) counts
  *   → ONE `groupBy(user_id)` that picks each month's top keyword
  *     (deterministic tie-break) and keeps the users with a pick in both
  *     months — the reference's June × July inner join, without a window
  *     or a join ([[TopKeyword.paired]])
  *   → distributed keyword classification of the distinct picked
  *     keywords of both months, once (distinct → classify → one mapping
  *     joined back onto both columns; no driver collect, no 10k cap, no
  *     hardcoded key), so the classifier never sees a keyword of a user
  *     the join would drop
  *   → trend/category-change derivation
  *   → injected sink.
  */
object BehaviorPipeline {

  /** Build the behavior frame (lazy; no action). */
  def build(spark: SparkSession, juneDirs: Seq[String], julyDirs: Seq[String],
            classifier: KeywordClassifier = RuleClassifier): DataFrame = {
    val logs = Sources.searchMonths(spark, Seq("T6" -> juneDirs, "T7" -> julyDirs))
    val picks = TopKeyword.paired(logs, col("month"),
      Seq("T6" -> "most_search_T6", "T7" -> "most_search_T7"))
    Trend(classifier.applyDistinct(spark, picks,
      Seq("most_search_T6" -> "category_T6", "most_search_T7" -> "category_T7")))
  }

  /** Run end to end into a sink (table `behavior_data`). */
  def run(spark: SparkSession, juneDirs: Seq[String], julyDirs: Seq[String],
          sink: Sink, classifier: KeywordClassifier = RuleClassifier): Unit =
    sink.write(build(spark, juneDirs, julyDirs, classifier), "behavior_data")
}
