package graft.streaming

import graft.SparkSpec
import graft.operators.{KnLifecycle, LangModelQueries}
import graft.sources.GenerationedTable
import org.apache.spark.sql.functions._

/** Stream/batch parity for perplexity-filter-on-arrival: scoring is
  * bit-identical to `q_lm_kn` for in-vocabulary documents; banding
  * equals the batch tertiles except at boundary-tied ppm values; OOV
  * transitions take the exact KN backoff (not an ad-hoc penalty);
  * unseen sources band as `unbanded`; replay is idempotent; a store
  * with no committed generation is refused and an interrupted retrain
  * is never served. */
class StreamingQualitySpec extends SparkSpec {
  import spark.implicits._

  private val outD = "/tmp/graft_qstream"

  private def cleanup(dir: String = outD): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  test("out-of-order streamed scoring equals the batch KN scores; " +
    "band divergence confined to boundary ties") {
    cleanup(); cleanup(s"$outD-model")
    val docs = graft.Tables.documents(spark, sf0001)
      .select("doc_id", "source", "text")
    KnLifecycle.retrain(docs, s"$outD-model")
    val m = KnLifecycle.asModel(spark, s"$outD-model")
    QualityStreams.scoreBatch(docs.filter(col("doc_id") >= 250), 0L, m, outD)
    QualityStreams.scoreBatch(docs.filter(col("doc_id") < 250), 1L, m, outD)
    val got = QualityStreams.scored(spark, outD)
    val want = LangModelQueries.knScores(spark, sf0001)
    // scores: exact parity (every corpus bigram is in-vocabulary)
    val g = got.select("doc_id", "source", "n_bigrams", "kn_bits", "avg_ppm")
    val w = want.select("doc_id", "source", "n_bigrams", "kn_bits", "avg_ppm")
    assert(g.exceptAll(w).isEmpty && w.exceptAll(g).isEmpty,
      "streamed KN scores diverge from the batch pass")
    // bands: mismatches only where avg_ppm ties a cut value exactly
    val batchBand = want
      .withColumn("b3", ntile(3).over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("source").orderBy("avg_ppm", "doc_id")))
      .withColumn("bband",
        when(col("b3") === 1, "head")
          .when(col("b3") === 2, "middle").otherwise("tail"))
      .select("doc_id", "avg_ppm", "bband")
    val diverged = got.select("doc_id", "source", "band")
      .join(batchBand, "doc_id")
      .filter(col("band") =!= col("bband"))
      .join(m.cuts, "source")
      .collect()
    diverged.foreach { r =>
      val ppm = r.getLong(r.fieldIndex("avg_ppm"))
      assert(ppm == r.getLong(r.fieldIndex("c1")) ||
        ppm == r.getLong(r.fieldIndex("c2")),
        s"band divergence off the tie boundary: $r")
    }
    // replay idempotence
    QualityStreams.scoreBatch(docs.filter(col("doc_id") >= 250), 0L, m, outD)
    val again = QualityStreams.scored(spark, outD)
      .select("doc_id", "source", "n_bigrams", "kn_bits", "avg_ppm")
    assert(again.exceptAll(w).isEmpty && w.exceptAll(again).isEmpty,
      "replayed batch changed the scored corpus")
  }

  test("load() refuses an uncommitted model dir; retrain retracts the " +
    "marker before touching components") {
    val mD = s"$outD-marker"
    cleanup(mD)
    // a store with no committed generation is refused by name
    val e = intercept[IllegalStateException] {
      KnLifecycle.asModel(spark, mD)
    }
    assert(e.getMessage.contains(s"$mD has no trained generation"),
      "the refusal must name the store")
    val docs = graft.Tables.documents(spark, sf0001)
      .select("doc_id", "source", "text")
    KnLifecycle.retrain(docs, mD)
    val m = KnLifecycle.asModel(spark, mD)
    assert(m.t > 0)
    val key = (df: org.apache.spark.sql.DataFrame) =>
      df.select("doc_id", "kn_bits", "band").collect().toSet
    val served = key(QualityStreams.scoreFrame(docs, m))
    // simulate a crash mid-retrain: every gen-2 component landed (empty)
    // and swung its own pointer, the type total (the commit point) not
    Seq(KnLifecycle.at(mD).dir("stats") -> KnLifecycle.at(mD).read(spark, "stats"),
        KnLifecycle.at(mD).dir("bigrams") -> m.bigrams,
        KnLifecycle.at(mD).dir("firsts") -> m.firsts,
        KnLifecycle.at(mD).dir("conts") -> m.conts,
        KnLifecycle.at(mD).dir("cuts") -> m.cuts).foreach { case (dir, df) =>
      GenerationedTable.writeAs(df.limit(0), dir, 2)
    }
    assert(KnLifecycle.at(mD).committed(spark) == 1)
    assert(key(QualityStreams.scoreFrame(docs, KnLifecycle.asModel(spark, mD)))
      == served, "an uncommitted generation was served")
    // re-training re-commits over the orphans
    assert(KnLifecycle.retrain(docs, mD) == 2)
    assert(key(QualityStreams.scoreFrame(docs, KnLifecycle.asModel(spark, mD)))
      == served)
    cleanup(mD)
  }

  test("OOV transitions take the exact KN backoff; unseen sources " +
    "band as unbanded") {
    cleanup()
    // hand corpus: "a b" x2, "a c" — T=2; c(a.)=3, N1+(a.)=2,
    // N1+(.b)=N1+(.c)=1
    val refD = s"$outD-hand"
    cleanup(refD)
    val corpus = Seq((1L, "s", "a b"), (2L, "s", "a b"), (3L, "s", "a c"))
      .toDF("doc_id", "source", "text")
    val inst = corpus.select(col("doc_id"), col("source"),
      explode(graft.functions.TextFunctions.wordShingles(
        split(trim(col("text")), "\\s+"), 2)).as("bg"))
    val st = LangModelQueries.knTypeStats(inst)
    val m = QualityStreams.KnModel(
      bigrams = st.select("bg", "cvw"),
      firsts = st.select("v", "cv", "n1v").distinct(),
      conts = st.select("wd", "n1w").distinct(),
      t = 2L,
      cuts = Seq(("s", 0L, 0L)).toDF("source", "c1", "c2"))
    QualityStreams.scoreBatch(Seq(
      // "b a": b never first, a never second → hapax priors:
      //   num = 3, den = 4*1*2 = 8 → bits = 4-2 = 2
      (10L, "s", "b a"),
      // "a a": a seen first (cv=3, n1v=2), a unseen second (n1w'=1):
      //   num = 0 + 3*2*1 = 6, den = 4*3*2 = 24 → bits = 5-3 = 2
      (11L, "s", "a a"),
      // seen bigram "a b" from an unseen source: scores as the model
      // says (bits 0), bands as unbanded
      (12L, "fresh", "a b")).toDF("doc_id", "source", "text"),
      0L, m, refD)
    val rows = QualityStreams.scored(spark, refD)
      .orderBy("doc_id").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(3), r.getString(5))).toSeq
      === Seq((10L, 2L, "tail"), (11L, 2L, "tail"), (12L, 0L, "unbanded")))
  }
}
