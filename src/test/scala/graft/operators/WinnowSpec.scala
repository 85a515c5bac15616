package graft.operators

import graft.SparkSpec

/** Winnowing fingerprints (`q_winnow_fingerprint` / `q_winnow_matches`):
  * pins (a) the real-corpus invariants (counts, density bound, match
  * threshold), (b) the WINNOWING GUARANTEE — two docs sharing a run of
  * exactly k + w − 1 words select at least one common fingerprint hash,
  * (c) the sub-threshold contract (no full window → zero fingerprints),
  * (d) the rightmost tie-break on a constant-hash doc (density 100 —
  * the documented repetition signal), and (e) the bucket cap's graceful
  * recall degradation (an over-cap fingerprint bucket generates no
  * pairs). */
class WinnowSpec extends SparkSpec {

  import spark.implicits._
  import WinnowQueries.{WinnowK, WinnowW, MatchMin, WinnowMaxBucket}

  private val dir = "/tmp/graft_winnow_spec"
  private val T = WinnowK + WinnowW - 1 // guarantee threshold (7 words)

  private def writeDocs(rows: Seq[(Long, String)], d: String = dir): Unit =
    rows.map { case (id, t) => (id, t, "en", "web") }
      .toDF("doc_id", "text", "lang", "source").asSfTable("documents")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")

  private def fpHashes(sfDir: String): Map[Long, Set[Long]] =
    WinnowQueries.fingerprintHashes(graft.Tables.documents(spark, sfDir))
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap

  test("real corpus: profile invariants and match threshold") {
    val prof = WinnowQueries.fingerprints.run(spark, sf0001).collect()
    assert(prof.length == 500)
    prof.foreach { r =>
      val (words, grams, wins, fp, dens) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))
      assert(grams == math.max(words - (WinnowK - 1), 0), r.toString)
      assert(wins == math.max(words - (T - 1), 0), r.toString)
      assert(fp <= wins, s"more fingerprints than windows: $r")
      if (wins > 0) assert(fp >= 1, s"a full window must select: $r")
      assert(dens == (if (wins > 0) fp * 100 / wins else 0L))
    }
    // hash-diverse corpus: median density near the 2/(w+1) theorem bound
    val longDocs = prof.filter(_.getLong(3) >= 20).map(_.getLong(5)).sorted
    val median = longDocs(longDocs.length / 2)
    assert(median >= 20 && median <= 80, s"implausible median density $median")

    val m = WinnowQueries.matches.run(spark, sf0001).collect()
    assert(m.nonEmpty, "replica-heavy corpus must produce matches")
    m.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getLong(2) >= MatchMin)
    }
  }

  test("span attribution: every matched pair is attributed, and the " +
    "named word offsets hold the SAME k words on both sides") {
    val spans = WinnowQueries.matchSpans.run(spark, sf0001).collect()
    val matches = WinnowQueries.matches.run(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val byPair = spans.groupBy(r => (r.getLong(0), r.getLong(1)))
    assert(byPair.keySet == matches.keySet, "attribution must cover exactly the matches")
    byPair.foreach { case (pair, rows) =>
      // spans may include over-cap shared hashes matches doesn't count
      assert(rows.map(_.getLong(2)).distinct.length >= matches(pair))
    }
    val words = graft.Tables.documents(spark, sf0001)
      .selectExpr("doc_id", "split(trim(text), '\\\\s+') AS w")
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    spans.take(20).foreach { r =>
      val (a, b, pa, pb) = (r.getLong(0), r.getLong(1),
        r.getLong(3).toInt, r.getLong(4).toInt)
      assert(words(a).slice(pa, pa + WinnowK) == words(b).slice(pb, pb + WinnowK),
        s"span at ($a:$pa, $b:$pb) is not the same $WinnowK words")
    }
  }

  test("guarantee: a shared run of k+w-1 words selects a common fingerprint") {
    def ws(r: Range, p: String) = r.map(p + _).mkString(" ")
    val shared = ws(0 until T, "sh") // exactly the guarantee threshold
    writeDocs(Seq(
      0L -> s"${ws(0 until 12, "a")} $shared ${ws(0 until 12, "b")}",
      1L -> s"${ws(0 until 12, "c")} $shared ${ws(0 until 12, "d")}",
      2L -> ws(0 until 30, "e"),          // disjoint control
      3L -> ws(0 until T - 1, "f")))      // one word below threshold
    val fp = fpHashes(dir)
    assert((fp(0L) intersect fp(1L)).nonEmpty,
      "winnowing guarantee violated: shared 7-word run, no common fingerprint")
    assert((fp(0L) intersect fp.getOrElse(2L, Set.empty)).isEmpty)
    assert(!fp.contains(3L), "doc below k+w-1 words must select nothing")
  }

  test("constant-hash doc: rightmost tie-break selects every window (density 100)") {
    writeDocs(Seq(0L -> Seq.fill(20)("rep").mkString(" ")))
    val r = WinnowQueries.fingerprints.run(spark, dir).collect().head
    assert(r.getLong(4) == r.getLong(3), s"expected one fp per window: $r")
    assert(r.getLong(5) == 100)
  }

  test("top-k bound: partners per doc capped at MatchTopK, dropped tail " +
    "visible in telemetry, connectivity preserved") {
    import WinnowQueries.MatchTopK
    // clique of 6 (ids 0-5, 5 partners each — above the bound) plus a
    // disjoint pair (ids 10-11, 1 partner each — below the bound)
    val body = (0 until 30).map("q" + _).mkString(" ")
    val other = (0 until 30).map("z" + _).mkString(" ")
    writeDocs((0L until 6L).map(_ -> body) ++ Seq(10L -> other, 11L -> other),
      s"${dir}_topk")
    val pairs = WinnowQueries.matches.run(spark, s"${dir}_topk").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(pairs.size == 16, s"C(6,2)+1 pairs expected, got ${pairs.size}")

    val topk = WinnowQueries.matchesTopK.run(spark, s"${dir}_topk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // per-doc bound and rank discipline
    topk.groupBy(_._1).foreach { case (doc, rows) =>
      assert(rows.length <= MatchTopK, s"doc $doc exceeds the bound")
      assert(rows.map(_._4).sorted.toSeq == (1L to rows.length).toSeq,
        s"ranks of doc $doc are not 1..k")
    }
    // clique docs keep exactly K (equal counts -> smallest partner ids);
    // the disjoint pair keeps its single partner
    assert(topk.count(_._1 < 6L) == 6 * MatchTopK)
    assert(topk.filter(_._1 == 0L).map(_._2).toSet ==
      (1L to MatchTopK.toLong).toSet)
    assert(topk.filter(_._1 == 10L).map(_._2).toSeq == Seq(11L))
    // every kept row is a real thresholded match with the same count
    topk.foreach { case (doc, p, n, _) =>
      val key = (math.min(doc, p), math.max(doc, p))
      assert(pairs.get(key).contains(n), s"kept row $key not in the pair set")
    }
    // single-linkage connectivity survives the bound: the directed
    // top-k edges still connect the whole clique (every doc keeps its
    // best partner)
    val adj = topk.map(t => Set(t._1, t._2)).toSeq
    val comp = scala.collection.mutable.Set(0L)
    var grew = true
    while (grew) {
      val before = comp.size
      adj.foreach(e => if (e.intersect(comp).nonEmpty) comp ++= e)
      grew = comp.size > before
    }
    assert(comp == (0L until 6L).toSet, s"clique split by the bound: $comp")

    // telemetry: the dropped tail is counted, never silent
    val stats = WinnowQueries.partnerStats.run(spark, s"${dir}_topk").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    (0L until 6L).foreach { doc =>
      assert(stats(doc) == ((5L, MatchTopK.toLong, 5L - MatchTopK)),
        s"clique doc $doc telemetry: ${stats(doc)}")
    }
    assert(stats(10L) == ((1L, 1L, 0L)) && stats(11L) == ((1L, 1L, 0L)))
  }

  test("bucket cap: an over-cap fingerprint bucket generates no pairs") {
    // 30 hash-diverse words: >= ceil(24/4) = 6 distinct fingerprints per
    // doc (a selection survives at most w window shifts), clearing
    // MatchMin; every doc identical, so each bucket holds the whole set
    val body = (0 until 30).map("q" + _).mkString(" ")
    val clique = (0L until (WinnowMaxBucket + 2L)).map(_ -> body)
    // matches serves from the per-corpus IndexCatalog artifact, which
    // memoizes per key within a JVM — each case gets its own dir so
    // the second can't read the first's index
    writeDocs(clique, s"${dir}_over")
    // every fingerprint bucket is 502 > cap -> excluded
    val m = WinnowQueries.matches.run(spark, s"${dir}_over").collect()
    assert(m.isEmpty, "over-cap buckets must be excluded from pair generation")

    // under the cap the same clique pairs fully at n_shared >= MatchMin
    writeDocs(clique.take(6), s"${dir}_under")
    val m2 = WinnowQueries.matches.run(spark, s"${dir}_under").collect()
    assert(m2.length == 15, s"expected C(6,2)=15 pairs, got ${m2.length}")
    m2.foreach(r => assert(r.getLong(2) >= MatchMin))
  }
}
