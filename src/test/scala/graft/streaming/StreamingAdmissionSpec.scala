package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Composed funnel-admission-on-arrival: replaying the reference corpus
  * out of order reproduces the batch v2 survivor frame's per-document
  * gate levels (divergence confined to LM-band boundary ties); an
  * unseen-source doc fails the LM gate as `unbanded` but stays visible;
  * replay is idempotent; every verdict carries stage attribution. */
class StreamingAdmissionSpec extends SparkSpec {
  import spark.implicits._

  private val outD = "/tmp/graft_admstream"

  private def cleanup(dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  // trained once per suite run, fresh (never a stale dir from an older
  // code version), and shared so either test runs in isolation
  private lazy val model = {
    cleanup(s"$outD-model")
    AdmissionStreams.train(spark, sf0001, s"$outD-model")
  }

  test("out-of-order replay reproduces the batch funnel levels; " +
    "divergence only at band-cut ties; replay idempotent") {
    cleanup(outD)
    val m = model
    val docs = graft.Tables.documents(spark, sf0001)
      .select("doc_id", "source", "text")
    AdmissionStreams.admitBatch(docs.filter(col("doc_id") % 3 === 2), 0L, m, outD)
    AdmissionStreams.admitBatch(docs.filter(col("doc_id") % 3 === 0), 1L, m, outD)
    AdmissionStreams.admitBatch(docs.filter(col("doc_id") % 3 === 1), 2L, m, outD)

    val got = AdmissionStreams.admitted(spark, outD)
    assert(got.count() == docs.count(), "every ingested doc gets a verdict")

    // batch truth: survivor levels 0-3 map 1:1; 5/6 (split grades) -> 4
    val want = graft.operators.PipelineV2Queries.survivorFrame(spark, sf0001)
      .select(col("doc_id"),
        when(col("level") >= 5, 4).otherwise(col("level")).as("blevel"))
    val joined = got.join(want, "doc_id").cache()
    try {
      val diverged = joined.filter(col("level") =!= col("blevel"))
        .join(graft.operators.LangModelQueries.knScores(spark, sf0001)
          .select("doc_id", "avg_ppm"), "doc_id")
        .join(m.kn.cuts, "source")
        .collect()
      diverged.foreach { r =>
        val ppm = r.getLong(r.fieldIndex("avg_ppm"))
        assert(ppm == r.getLong(r.fieldIndex("c1")) ||
          ppm == r.getLong(r.fieldIndex("c2")),
          s"level divergence off the band-tie boundary: $r")
      }
      // the funnel totals agree stage by stage (ties move a doc between
      // adjacent levels but the spot-check above bounds them; exact
      // totals must hold when no ties diverged)
      if (diverged.isEmpty) {
        val g = got.groupBy("level").count().collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap
        val w = want.groupBy("blevel").count().collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toMap
        assert(g == w, s"stage totals diverge: $g vs $w")
      }
    } finally joined.unpersist()

    // replay idempotence: re-ingesting an old batch changes nothing
    AdmissionStreams.admitBatch(docs.filter(col("doc_id") % 3 === 2), 3L, m, outD)
    val again = AdmissionStreams.admitted(spark, outD)
    assert(again.exceptAll(got).isEmpty && got.exceptAll(again).isEmpty,
      "replayed batch changed the admission ledger")
  }

  test("the Pareto dial on arrival reproduces the batch Pareto funnel " +
    "levels; the two dials genuinely differ at the admission stage") {
    val outP = s"$outD-pareto"
    cleanup(outP)
    val m = model
    val docs = graft.Tables.documents(spark, sf0001)
      .select("doc_id", "source", "text")
    AdmissionStreams.admitBatch(docs.filter(col("doc_id") % 2 === 1), 0L, m,
      outP, pareto = true)
    AdmissionStreams.admitBatch(docs.filter(col("doc_id") % 2 === 0), 1L, m,
      outP, pareto = true)
    val got = AdmissionStreams.admitted(spark, outP)
    assert(got.count() == docs.count(), "every ingested doc gets a verdict")
    // batch truth under the SAME dial: survivor levels 0-3 map 1:1;
    // 5/6 (split grades, undecidable on arrival) -> 4
    val want = graft.operators.PipelineV2Queries
      .survivorFrame(spark, sf0001, pareto = true)
      .select(col("doc_id"),
        when(col("level") >= 5, 4).otherwise(col("level")).as("blevel"))
    val joined = got.join(want, "doc_id").cache()
    try {
      val diverged = joined.filter(col("level") =!= col("blevel"))
        .join(graft.operators.LangModelQueries.knScores(spark, sf0001)
          .select("doc_id", "avg_ppm"), "doc_id")
        .join(m.kn.cuts, "source")
        .collect()
      // same band-tie caveat as the threshold dial; the admission gate
      // itself is deterministic md5 arithmetic and can never diverge
      diverged.foreach { r =>
        val ppm = r.getLong(r.fieldIndex("avg_ppm"))
        assert(ppm == r.getLong(r.fieldIndex("c1")) ||
          ppm == r.getLong(r.fieldIndex("c2")),
          s"pareto-dial divergence off the band-tie boundary: $r")
      }
    } finally joined.unpersist()
    // the dial is not a no-op: the Pareto gate admits a different pool
    // than the sign threshold on this corpus (63 vs 22 docs at sf0.001)
    cleanup(s"$outD-thr")
    AdmissionStreams.admitBatch(docs, 0L, m, s"$outD-thr")
    val thr = AdmissionStreams.admitted(spark, s"$outD-thr")
      .groupBy("level").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val par = got.groupBy("level").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(thr.getOrElse(4, 0L) != par.getOrElse(4, 0L),
      s"the two admission dials admitted identical pools: $thr vs $par")
    cleanup(outP); cleanup(s"$outD-thr")
  }

  test("unseen source fails the LM gate as unbanded but stays visible; " +
    "a boilerplate-only doc attributes to excision") {
    cleanup(s"$outD-novel")
    val m = model
    // a long fluent doc from a source the trainer never saw, and a doc
    // that IS a known boilerplate segment (its only segment excises,
    // leaving zero kept words)
    val bpSeg = m.bp.select("bseg").head().getString(0)
    val novel = Seq(
      (900001L, "src_new",
        (1 to 80).map(i => s"the quick brown fox $i").mkString(" ")),
      (900002L, "src0", bpSeg)).toDF("doc_id", "source", "text")
    AdmissionStreams.admitBatch(novel, 0L, m, s"$outD-novel")
    val got = AdmissionStreams.admitted(spark, s"$outD-novel")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(4), r.getInt(6), r.getLong(3)))).toMap
    val (band, lvl, _) = got(900001L)
    assert(band == "unbanded" && lvl == 2,
      s"unseen source must fail the LM gate visibly: $band/$lvl")
    val (_, lvl2, kept2) = got(900002L)
    assert(kept2 == 0L && lvl2 == 0,
      s"boilerplate-only doc must attribute to excision: $kept2/$lvl2")
  }

  test("a retrain that crashes before its commit pointer swings leaves " +
    "the twin scoring under the previous generation") {
    val root = s"$outD-crash-model"
    val corpus = s"$outD-crash-corpus"
    cleanup(root); cleanup(corpus)
    val docs = graft.Tables.documents(spark, sf0001)
      .select("doc_id", "source", "text")
    val verdicts = (m: AdmissionStreams.AdmissionModel) =>
      AdmissionStreams.admitFrame(docs, m).collect().toSet
    val before = verdicts(AdmissionStreams.train(spark, sf0001, root))
    // a corpus whose second data file is not parquet: the footer check
    // reads the first file and passes, then the retrain's first job fails
    graft.Tables.documents(spark, sf0001).limit(20)
      .write.mode("overwrite").parquet(s"$corpus/documents.parquet")
    val bad = new org.apache.hadoop.fs.Path(s"$corpus/documents.parquet/zz-corrupt.parquet")
    val out = bad.getFileSystem(spark.sparkContext.hadoopConfiguration).create(bad, true)
    out.write("not a parquet file".getBytes("UTF-8"))
    out.close()
    intercept[Exception] {
      AdmissionStreams.train(spark, corpus, root)
    }
    assert(verdicts(AdmissionStreams.load(spark, root)) == before,
      "a crashed retrain changed what the stores serve")
    cleanup(root); cleanup(corpus)
  }
}
