package graft.operators

import graft.SparkSpec

/** Line-grain boilerplate removal (`q_line_dupes` / `q_line_excise`):
  * pins (a) the conservation law + profile/excision consistency on the
  * real corpus, (b) a crafted corpus where the boilerplate segment, the
  * threshold boundary (2 carriers — below MinDocs=3), a fully-boilerplate
  * doc, and intra-doc repetition (one doc, many copies — still ONE
  * distinct carrier) are each hand-checkable. */
class BoilerplateSpec extends SparkSpec {

  import spark.implicits._

  private val dir = "/tmp/graft_boilerplate_spec"

  test("real corpus: conservation law, profile consistency, removal fires") {
    val prof = BoilerplateQueries.lineDupes.run(spark, sf0001).collect()
    assert(prof.nonEmpty, "no boilerplate segment found in the replica-heavy corpus")
    prof.foreach(r => assert(r.getLong(1) >= 3, s"profile row under threshold: $r"))
    assert(prof.map(_.getString(0)).distinct.length == prof.length)

    val rows = BoilerplateQueries.lineExcise.run(spark, sf0001).collect()
    assert(rows.length == 500)
    var removedDocs = 0
    rows.foreach { r =>
      val (total, removed, wTotal, wKept) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(removed <= total && wKept <= wTotal)
      if (removed == 0)
        assert(wKept == wTotal, s"doc ${r.getLong(0)}: untouched doc lost words")
      if (removed > 0) removedDocs += 1
      if (wKept == 0) assert(r.isNullAt(5), "empty cleaned doc must have NULL fp")
      else assert(!r.isNullAt(5))
    }
    assert(removedDocs > 0, "no document was actually cleaned")
  }

  test("crafted corpus: threshold boundary, full kill, intra-doc repeats") {
    def ws(r: Range, p: String) = r.map(p + _).mkString(" ")
    val bp = ws(0 until 8, "bp")      // exactly one segment wide
    val pair = ws(0 until 8, "pr")    // shared by only TWO docs — kept
    Seq(
      (0L, s"$bp ${ws(0 until 8, "a")}", "en", "web"),
      (1L, s"$bp ${ws(0 until 8, "b")}", "en", "web"),
      (2L, s"$bp ${ws(0 until 8, "c")}", "en", "web"),
      (3L, bp, "en", "web"),                       // fully boilerplate
      (4L, s"$pair ${ws(0 until 8, "d")}", "en", "web"),
      (5L, s"$pair ${ws(0 until 8, "e")}", "en", "web"),
      // one doc carrying its own segment 3 times: ONE distinct carrier,
      // must NOT become boilerplate
      (6L, { val own = ws(0 until 8, "own"); s"$own $own $own" }, "en", "web"))
      .toDF("doc_id", "text", "lang", "source").asSfTable("documents")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val prof = BoilerplateQueries.lineDupes.run(spark, dir).collect()
    assert(prof.length == 1, s"expected only the 4-carrier segment: ${prof.mkString(";")}")
    assert(prof.head.getLong(1) == 4)

    val out = BoilerplateQueries.lineExcise.run(spark, dir)
      .collect().map(r => r.getLong(0) -> r).toMap
    Seq(0L, 1L, 2L).foreach { id =>
      val r = out(id)
      assert(r.getLong(2) == 1 && r.getLong(4) == 8, s"doc $id: ${r.mkString(",")}")
    }
    val killed = out(3L)
    assert(killed.getLong(4) == 0 && killed.isNullAt(5), "full-bp doc must be emptied")
    Seq(4L, 5L, 6L).foreach { id =>
      val r = out(id)
      assert(r.getLong(2) == 0 && r.getLong(4) == r.getLong(3),
        s"sub-threshold segment was removed from doc $id")
    }
  }
}
