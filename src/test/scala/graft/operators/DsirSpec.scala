package graft.operators

import graft.SparkSpec

/** DSIR importance weighting (`q_dsir_weights` / `q_dsir_sample`): pins
  * (a) pool discipline + token accounting on the real corpus and that the
  * sample is exactly the top-30 of the weight frame, (b) a crafted
  * two-vocabulary corpus where the sign of the weight is forced: a raw
  * doc written in the target slice's vocabulary must outscore a raw doc
  * written in raw-only vocabulary. */
class DsirSpec extends SparkSpec {

  import spark.implicits._

  private val dir = "/tmp/graft_dsir_spec"

  test("real corpus: raw pool only, exact token counts, sample = top-30") {
    val w = DsirQueries.dsirWeights.run(spark, sf0001).collect()
    assert(w.nonEmpty)
    w.foreach { r =>
      val src = r.getString(1)
      assert(src != "src0" && src != "src1", s"target doc leaked into pool: $r")
      assert(r.getLong(2) >= 1)
    }
    // doc 2 (src2 at sf0.001): n_tokens must equal its whitespace count
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(3))).toMap
    w.take(20).foreach { r =>
      val (text, _) = docs(r.getLong(0))
      assert(r.getLong(2) == text.trim.split("\\s+").length,
        s"doc ${r.getLong(0)}: token accounting")
    }
    val top = w.sortBy(r => (-r.getLong(3), r.getLong(0))).take(30)
      .map(_.getLong(0)).toSet
    val sample = DsirQueries.dsirSample.run(spark, sf0001).collect()
    assert(sample.length == 30)
    assert(sample.map(_.getLong(0)).toSet == top,
      "sample is not the argmax-30 of the weight frame")
  }

  test("crafted corpus: target-vocabulary raw doc outscores raw-only doc") {
    def rep(word: String, n: Int) = Seq.fill(n)(word).mkString(" ")
    Seq(
      // target slice: vocabulary {tgt0..tgt3}
      (0L, s"${rep("tgt0", 10)} ${rep("tgt1", 10)}", "en", "src0"),
      (1L, s"${rep("tgt2", 10)} ${rep("tgt3", 10)}", "en", "src1"),
      // raw pool: doc 2 speaks the target vocabulary, doc 3 its own
      (2L, s"${rep("tgt0", 5)} ${rep("tgt1", 5)}", "en", "src5"),
      (3L, s"${rep("noise0", 5)} ${rep("noise1", 5)}", "en", "src5"),
      // bulk raw mass so the raw distribution is dominated by noise
      (4L, rep("noise0", 40), "en", "src6"),
      (5L, rep("noise1", 40), "en", "src7"))
      .toDF("doc_id", "text", "lang", "source").asSfTable("documents")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val w = DsirQueries.dsirWeights.run(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(w.keySet == Set(2L, 3L, 4L, 5L))
    assert(w(2L) > w(3L),
      s"target-sounding doc must outscore noise doc: ${w(2L)} <= ${w(3L)}")
    val sample = DsirQueries.dsirSample.run(spark, dir).collect()
    assert(sample.head.getLong(0) == 2L || sample.map(_.getLong(0)).contains(2L))
  }
}
