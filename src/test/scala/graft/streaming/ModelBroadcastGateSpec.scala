package graft.streaming

import graft.SparkSpec
import graft.operators.KnLifecycle
import org.apache.spark.sql.functions._

/** Pins the frozen-model joins' broadcast decision: the KN scoring joins
  * are plain left joins, so Spark's own size rule
  * (`spark.sql.autoBroadcastJoinThreshold`) broadcasts the
  * vocabulary-sized model frames while they are small and plans
  * equi-keyed shuffled joins (never a forced broadcast that would
  * hard-fail at the 8 GB cap) once the rule says no. The two regimes
  * are Spark's default threshold, under which the sf0.001 model
  * broadcasts, and `-1`, which turns size-based broadcasting off. Both
  * must produce identical rows — the decision moves bytes, never
  * values. */
class ModelBroadcastGateSpec extends SparkSpec {

  private val base = "/tmp/graft_model_gate"
  private val threshold = "spark.sql.autoBroadcastJoinThreshold"

  private def cleanup(): Unit = {
    val p = new org.apache.hadoop.fs.Path(base)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  private def bhjCount(df: org.apache.spark.sql.DataFrame): Int =
    "BroadcastHashJoin".r
      .findAllIn(df.queryExecution.sparkPlan.toString).length

  private def docs = graft.Tables.documents(spark, sf0001)
    .select("doc_id", "source", "text")

  test("scoreFrame broadcasts the model under the row gate, demotes to " +
       "unhinted equi-joins above it, and the scored rows are identical") {
    cleanup()
    val store = s"$base/model"
    KnLifecycle.retrain(docs, store)
    val m = KnLifecycle.asModel(spark, store)
    val conf = spark.conf
    val prev = conf.get(threshold)
    try {
      // Spark's default threshold: the three model joins + the hinted
      // per-source cuts join are all broadcasts at sf0.001
      conf.unset(threshold)
      val small = QualityStreams.scoreFrame(docs, m)
      assert(bhjCount(small) >= 4,
        s"expected >=4 broadcasts under the default threshold, plan:\n" +
          small.queryExecution.sparkPlan.toString.take(2000))
      // threshold -1: no model join broadcasts — only the bounded
      // per-source cuts join (an explicit, |sources|-row hint) may remain
      conf.set(threshold, "-1")
      val large = QualityStreams.scoreFrame(docs, m)
      assert(bhjCount(large) <= 1,
        s"model joins still broadcast with the threshold off, plan:\n" +
          large.queryExecution.sparkPlan.toString.take(2000))
      // value identity: the decision may move bytes, never values
      val cols = Seq("doc_id", "source", "n_bigrams", "kn_bits",
        "avg_ppm", "band").map(col)
      assert(small.select(cols: _*).exceptAll(large.select(cols: _*)).isEmpty &&
             large.select(cols: _*).exceptAll(small.select(cols: _*)).isEmpty,
        "the two regimes disagree on scored rows")
    } finally {
      conf.set(threshold, prev)
      cleanup()
    }
  }

  test("KnLifecycle.driftCheck gauges identically in both regimes") {
    cleanup()
    val store = s"$base/knstore"
    KnLifecycle.retrain(docs, store)
    val conf = spark.conf
    val prev = conf.get(threshold)
    try {
      conf.unset(threshold)
      val smallD = KnLifecycle.driftCheck(docs, store)
      conf.set(threshold, "-1")
      val largeD = KnLifecycle.driftCheck(docs, store)
      assert(smallD == largeD,
        s"the two regimes disagree on the drift gauge: $smallD vs $largeD")
    } finally {
      conf.set(threshold, prev)
      cleanup()
    }
  }
}
