package graft.semantic

import graft.SparkSpec
import org.apache.spark.sql.functions.col

/** The batch (remote-LLM-shaped) classifier path: distributed distinct →
  * partition batching → broadcast join-back, agreeing with the
  * expression path and honoring the fallback protocol. */
class BatchClassifierSpec extends SparkSpec {
  import spark.implicits._

  private val kws = Seq("VTV3", "running man", "bóng đá", "phim hàn quốc",
    "no-match-1", "nhạc trẻ", "doraemon", "phim ma", "love", "hài")

  test("batch path agrees with the expression path on every keyword") {
    val df = kws.zipWithIndex.map { case (k, i) => (s"u$i", k) }
      .toDF("user_id", "most_search")
    val viaBatch = new MockLlmClassifier()
      .applyDistinct(spark, df, "most_search", "category")
      .select("most_search", "category").as[(String, String)].collect().toMap
    val viaExpr = RuleClassifier
      .applyDistinct(spark, df, "most_search", "category")
      .select("most_search", "category").as[(String, String)].collect().toMap
    assert(viaBatch == viaExpr)
  }

  test("keys the model drops fall back to Other (partial-response protocol)") {
    val df = kws.map(Tuple1(_)).toDF("most_search")
    val out = new MockLlmClassifier(dropEvery = 2) // model "loses" about every 2nd key
      .applyDistinct(spark, df, "most_search", "category")
      .select("category").as[String].collect()
    assert(out.count(_ == KeywordClassifier.Fallback) >= kws.size / 2 - 1)
    assert(out.forall(KeywordClassifier.Vocabulary.contains))
  }

  test("null keywords survive the left join with fallback category") {
    val df = Seq(Some("VTV3"), None).map(Tuple1(_)).toDF("most_search")
    val out = new MockLlmClassifier()
      .applyDistinct(spark, df, "most_search", "category")
    assert(out.count() == 2)
    val m = out.collect().map(r => Option(r.getString(0)) -> r.getString(1)).toMap
    assert(m(Some("VTV3")) == "TV Channel")
    assert(m(None) == "Other")
  }

  test("batch classifier refuses the expression path explicitly") {
    intercept[UnsupportedOperationException] {
      new MockLlmClassifier().categorize(col("x"))
    }
  }
}
