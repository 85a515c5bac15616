package graft.operators

import graft.SparkSpec

/** Matryoshka truncated retrieval: (a) on a corpus whose signal lives
  * entirely in the leading MatDims dims, truncation is LOSSLESS — the
  * truncated ranking equals the full-dim ranking exactly (the MRL
  * promise when the model concentrates the prefix); (b) real-corpus
  * invariants — well-formed top-5 per query, recall in [0, 1] and
  * consistent with the two rankings it compares. */
class MatryoshkaSpec extends SparkSpec {
  import spark.implicits._
  import SimilarityQueries.MatDims

  private val dir = "/tmp/graft_matryoshka_spec"

  test("prefix-only corpus: truncated ranking equals the full ranking") {
    val rnd = new scala.util.Random(7)
    val rows = (0L until 60L).map { id =>
      val head = Array.fill(MatDims)(rnd.nextFloat() * 2 - 1)
      (id, (head ++ Array.fill(64 - MatDims)(0f)).toSeq, (id % 4).toInt)
    }
    rows.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val full = SimilarityQueries.bruteForceTopK.run(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val mat = SimilarityQueries.matryoshkaTopK.run(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(mat == full, "zero tail dims must make truncation lossless")

    val rec = SimilarityQueries.matryoshkaRecall.run(spark, dir).collect()
    assert(rec.length == 10)
    rec.foreach(r => assert(r.getLong(1) == 5 && r.getDouble(2) == 1.0))
  }

  test("two-stage rerank: never below raw truncation, equals exact when " +
    "the shortlist holds the true top-5, lossless on the prefix corpus") {
    // on the prefix-only corpus both stages are exact
    val rec = SimilarityQueries.rerankRecall.run(spark, dir).collect()
    rec.foreach(r => assert(r.getDouble(2) == 1.0, r.toString))

    // real corpus: rerank recall >= raw truncated recall per query
    // (stage two can only fix the shortlist's internal order)
    val raw = SimilarityQueries.matryoshkaRecall.run(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val rr = SimilarityQueries.rerankRecall.run(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    raw.keys.foreach(q => assert(rr(q) >= raw(q), s"query $q: ${rr(q)} < ${raw(q)}"))
    assert(rr.values.sum > raw.values.sum,
      "the exact rerank should buy back some recall on this corpus")

    val rrTop = SimilarityQueries.rerankTopK.run(spark, sf0001).collect()
    assert(rrTop.length == 50)
    rrTop.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.map(_.getInt(2)).sorted.toSeq == (1 to 5))
    }
  }

  test("MRL-shaped fixture: geometric per-dim decay lifts prefix-16 " +
    "recall >= 0.8 while the isotropic floor stays documented") {
    // r11 verdict item 6: the raw fixture embeddings are NOT
    // MRL-trained, so q_ann_matryoshka_recall honestly reports a
    // 0-0.4 floor that UNDERSELLS the operator. This derives the
    // MRL-shaped set the dial is for — the same vectors with
    // geometrically decaying per-dim scale (dim i scaled by 0.9^i,
    // front-loaded information, the Kusupati et al. training outcome) —
    // and shows the real deploy tradeoff on it.
    val mrlDir = "/tmp/graft_matryoshka_mrl"
    val decay = 0.9f
    graft.Tables.embeddings(spark, sf0001)
      .selectExpr("vec_id",
        s"transform(embedding, (x, i) -> cast(x * pow(${decay}D, i) as float)) AS embedding",
        "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$mrlDir/embeddings.parquet")

    // the registered dial on the MRL-shaped set
    val mrlRec = SimilarityQueries.matryoshkaRecall.run(spark, mrlDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val mrlMean = mrlRec.values.sum.toDouble / (mrlRec.size * 5)
    assert(mrlMean >= 0.8,
      s"prefix-${MatDims} recall on the MRL-shaped set is $mrlMean < 0.8")

    // the isotropic floor stays what the scaladoc documents (the
    // honest pessimistic number on untrained vectors)
    val isoRec = SimilarityQueries.matryoshkaRecall.run(spark, sf0001)
      .collect().map(r => r.getLong(1)).sum.toDouble / (mrlRec.size * 5)
    assert(mrlMean > isoRec,
      s"decay must front-load signal: mrl=$mrlMean iso=$isoRec")

    // recall CURVE at prefix 8/16/32 via an independent plain-Scala
    // reference (the MmrSpec discipline): mean recall must not
    // decrease as the prefix widens, and every point >= the point
    // before — the dial a deploy reads to pick its truncation
    val vecs = spark.read.parquet(s"$mrlDir/embeddings.parquet")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def top5(prefix: Int): Map[Long, Set[Long]] = {
      def cos(a: Array[Float], b: Array[Float]): Double = {
        var d = 0.0; var na = 0.0; var nb = 0.0
        var i = 0
        while (i < prefix) {
          d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
          nb += b(i).toDouble * b(i); i += 1
        }
        d / (math.sqrt(na) * math.sqrt(nb))
      }
      (0L until 10L).map { q =>
        q -> vecs.keys.filter(_ != q).toSeq
          .map(c => (c, cos(vecs(q), vecs(c))))
          .sortBy { case (c, s) => (-s, c) }.take(5).map(_._1).toSet
      }.toMap
    }
    val exact = top5(64)
    val curve = Seq(8, 16, 32).map { p =>
      val t = top5(p)
      p -> (0L until 10L).map(q => (t(q) intersect exact(q)).size).sum / 50.0
    }
    curve.sliding(2).foreach { case Seq((pLo, rLo), (pHi, rHi)) =>
      assert(rHi >= rLo, s"recall curve not monotone: $curve")
    }
    assert(curve.toMap.apply(16) >= 0.8, s"curve point 16 below 0.8: $curve")
  }

  test("real corpus: well-formed ranking, recall consistent") {
    val mat = SimilarityQueries.matryoshkaTopK.run(spark, sf0001).collect()
    assert(mat.length == 50)
    mat.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.map(_.getInt(2)).sorted.toSeq == (1 to 5))
      assert(rs.map(_.getLong(1)).distinct.length == 5)
    }
    val bf = SimilarityQueries.bruteForceTopK.run(spark, sf0001)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val mt = mat.groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getLong(1)).toSet).toMap
    SimilarityQueries.matryoshkaRecall.run(spark, sf0001).collect().foreach { r =>
      val q = r.getLong(0)
      assert(r.getLong(1) == (bf(q) intersect mt(q)).size,
        s"recall hits must be the overlap of the two top-5 sets for query $q")
    }
  }
}
