package graft.semantic

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Batch-execution shape for classifiers that can't be a Catalyst
  * expression — the remote-LLM form of the reference's X1 operator
  * (ETL_customer_behavior.py:27-136), redesigned for scale:
  *
  *   reference: collect ≤10k rows to the driver, batch 300 keywords per
  *              HTTPS call, map back in pandas;
  *   engine:    DISTINCT keywords stay distributed; each partition
  *              batches its keywords (same 300/call protocol) through
  *              [[classifyBatch]] (this trait's [[mapping]]); the
  *              mapping joins back onto the frame through
  *              [[KeywordClassifier.applyDistinct]]. No driver collect,
  *              no row cap, lazy (runs inside the job), deterministic
  *              under retry when the implementation is.
  *
  * A remote implementation supplies credentials via constructor —
  * never hardcoded (the reference ships a live API key; SURVEY §7.4).
  */
trait BatchClassifier extends KeywordClassifier {

  /** Max keywords per call — the reference's protocol batch size. */
  def batchSize: Int = 300

  /** Classify one batch of distinct keywords. Total function: must map
    * every input key (use [[KeywordClassifier.Fallback]] on failure). */
  def classifyBatch(keywords: Seq[String]): Map[String, String]

  /** Column form for SQL callers: routed through the rule fallback is
    * not possible for a remote model, so batch classifiers refuse the
    * expression path and must be applied via [[applyDistinct]]. */
  override def categorize(keyword: org.apache.spark.sql.Column) =
    throw new UnsupportedOperationException(
      s"$getClass is batch-only; use applyDistinct")

  override def mapping(spark: SparkSession, keywords: DataFrame): DataFrame = {
    import spark.implicits._
    val bs = batchSize
    val self = this
    keywords.as[String]
      .mapPartitions { it =>
        it.grouped(bs).flatMap { batch =>
          val m = self.classifyBatch(batch)
          batch.iterator.map(k =>
            (k, m.getOrElse(k, KeywordClassifier.Fallback)))
        }
      }
      .toDF("keyword", "category")
  }
}

/** Deterministic stand-in for a remote model: classifies via the rule
  * table (scoring on the driver-free executor path), exercising the full
  * batch protocol — partition batching, partial responses (keys the
  * "model" drops fall back to Other). With `dropEvery = n` the model
  * loses about one key in n, chosen by the key's hash rather than its
  * place in a batch, so the same keys fall back whatever the partitions,
  * batches and retries. Swap for a real HTTPS client without touching
  * the plumbing. */
class MockLlmClassifier(dropEvery: Int = 0) extends BatchClassifier {

  private def ruleOf(k: String): String = {
    // Locale.ROOT: executor JVMs with e.g. Turkish default locale would
    // lowercase differently from Spark's locale-agnostic lower()
    val n = k.trim.toLowerCase(java.util.Locale.ROOT)
    RuleClassifier.Rules
      .collectFirst { case (pat, cat) if n.contains(pat) => cat }
      .getOrElse(KeywordClassifier.Fallback)
  }

  override def classifyBatch(keywords: Seq[String]): Map[String, String] = {
    val kept =
      if (dropEvery > 0) keywords.filter(k => Math.floorMod(k.hashCode, dropEvery) != 0)
      else keywords
    kept.map(k => k -> ruleOf(k)).toMap
  }
}
