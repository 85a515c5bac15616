package graft.operators

import graft.SparkSpec

/** Dirichlet query likelihood: pins the rankings the smoothing exists
  * to produce — tf dominance, the length penalty at equal tf, and the
  * background mass absent terms contribute (a doc hit by one query
  * term is still scored against all three) — plus real-corpus shape
  * invariants next to BM25. */
class QueryLikelihoodSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/tmp/graft_ql_spec"

  test("crafted corpus: tf dominance, length penalty, background mass") {
    def doc(id: Long, text: String) = (id, text, "en", "web")
    val pad = (0 until 40).map("p" + _).mkString(" ")
    // The bit-length log2 surrogate quantizes at factor-2 resolution,
    // so the length penalty is only VISIBLE once (dl2 + mu) >= 2 * (dl1
    // + mu) — with mu = 2000 and dl1 = 41 that means dl2 >= 4041 words.
    Seq(
      doc(0L, s"scan join quantile $pad"),       // all three terms
      doc(1L, s"scan $pad"),                      // one term, 41 words
      doc(2L, s"scan ${(0 until 4100).map("q" + _).mkString(" ")}"),
      // same tf as doc 1, ~100x the length -> must rank BELOW doc 1
      doc(3L, (0 until 41).map("z" + _).mkString(" "))) // no terms: not a candidate
      .toDF("doc_id", "text", "lang", "source").asSfTable("documents")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val out = TextQueries.queryLikelihood.run(spark, dir).collect()
    val ids = out.map(_.getLong(0))
    assert(!ids.contains(3L), "a doc with zero hits is not a candidate")
    val byId = out.map(r => r.getLong(0) -> r).toMap
    assert(byId(0L).getLong(1) == 3 && byId(1L).getLong(1) == 1)
    // lower bits = higher likelihood; ranking is ascending in score_bits
    assert(byId(0L).getLong(2) < byId(1L).getLong(2),
      "three matched terms must outscore one")
    assert(byId(1L).getLong(2) < byId(2L).getLong(2),
      "equal tf, 100x length must score worse (the Dirichlet penalty)")
    assert(ids.toSeq == out.sortBy(r => (r.getLong(2), r.getLong(0)))
      .map(_.getLong(0)).toSeq)
  }

  test("real corpus: top-20 well-formed, hit counts within the query size") {
    val out = TextQueries.queryLikelihood.run(spark, sf0001).collect()
    assert(out.length == 20)
    out.foreach { r =>
      assert(r.getLong(1) >= 1 && r.getLong(1) <= 3)
      assert(r.getLong(2) > 0)
    }
    val scores = out.map(_.getLong(2))
    assert(scores.sameElements(scores.sorted), "ranked ascending in bits")
  }
}
