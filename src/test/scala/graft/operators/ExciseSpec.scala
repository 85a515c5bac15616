package graft.operators

import graft.SparkSpec

/** `q_dedup_excise` (round-10 verdict item 4): exact repeated-span
  * removal. Pins (a) the conservation law on the real corpus, (b) a
  * hand-computable crafted corpus covering overlap-merge, cross-doc
  * repeats, a fully-duplicated doc, and short-doc passthrough. */
class ExciseSpec extends SparkSpec {

  import spark.implicits._

  private val dir = "/tmp/graft_excise_spec"
  private val k = DedupQueries.SubstringK // 8

  test("conservation law holds on the real corpus and spans actually fire") {
    val rows = DedupQueries.substringExcise.run(spark, sf0001).collect()
    assert(rows.length == 500)
    rows.foreach { r =>
      val (n, nSpans, rem, kept) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(kept + rem == n, s"doc ${r.getLong(0)}: $kept + $rem != $n")
      val cleaned = r.getString(7)
      val keptWords = if (cleaned.isEmpty) 0 else cleaned.split(" ").length
      assert(keptWords == kept, s"doc ${r.getLong(0)}: cleaned word count")
      if (nSpans == 0) assert(rem == 0)
    }
    // the synthetic corpus is replica-heavy: excision must actually fire
    assert(rows.exists(_.getLong(2) > 0), "no duplicated span found anywhere")
  }

  test("crafted corpus: overlap merge, full-doc kill, short-doc passthrough") {
    // words w0..w19; doc A and doc B share words 0..9 (10 words → three
    // overlapping k=8 grams at positions 0,1,2 → ONE merged span [0,9]);
    // doc C = doc D exactly (every gram duplicated → fully excised);
    // doc E is k-1 words long (no grams → untouched).
    def ws(r: Range, p: String = "w") = r.map(p + _).mkString(" ")
    val shared = ws(0 until 10)              // 10 shared words
    val tailA = ws(0 until 6, "a")           // unique tails keep the docs distinct
    val tailB = ws(0 until 6, "b")
    val full = ws(0 until 12, "c")
    Seq(
      (0L, s"$shared $tailA", "en", "web"),
      (1L, s"$shared $tailB", "en", "web"),
      (2L, full, "en", "web"),
      (3L, full, "en", "web"),
      (4L, ws(0 until (k - 1), "e"), "en", "web"))
      .toDF("doc_id", "text", "lang", "source").asSfTable("documents")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val out = DedupQueries.substringExcise.run(spark, dir)
      .collect().map(r => r.getLong(0) -> r).toMap

    // A/B: one merged span covering exactly the 10 shared words
    Seq(0L, 1L).foreach { id =>
      val r = out(id)
      assert(r.getLong(1) == 16 && r.getLong(2) == 1 && r.getLong(3) == 10,
        s"doc $id: expected one 10-word span, got ${r.mkString(",")}")
      assert(r.getString(7) == (if (id == 0L) ws(0 until 6, "a") else ws(0 until 6, "b")))
    }
    // C/D: fully duplicated → everything excised, empty cleaned text
    Seq(2L, 3L).foreach { id =>
      val r = out(id)
      assert(r.getLong(3) == 12 && r.getLong(4) == 0 && r.getString(7).isEmpty,
        s"doc $id: expected full excision, got ${r.mkString(",")}")
    }
    // E: shorter than k → untouched
    val e = out(4L)
    assert(e.getLong(2) == 0 && e.getLong(4) == k - 1 &&
      e.getString(7) == ws(0 until (k - 1), "e"))
  }
}
