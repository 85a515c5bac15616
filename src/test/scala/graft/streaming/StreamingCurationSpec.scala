package graft.streaming

import graft.SparkSpec
import graft.operators.{BoilerplateLifecycle, BoilerplateQueries, DsirLifecycle, DsirQueries}
import graft.sources.GenerationedTable
import org.apache.spark.sql.functions._

/** Stream/batch parity for curation-on-arrival (streaming twins of
  * `q_dsir_weights` / `q_line_excise`): out-of-order micro-batches of
  * the corpus reproduce the batch frames bit-exactly under the frozen
  * models; selection divergence is confined to cut-tied weights; OOV
  * buckets and unseen segments take their documented frozen-state
  * behavior; replay is idempotent; stores with no committed generation
  * are refused and an interrupted retrain is never served. */
class StreamingCurationSpec extends SparkSpec {
  import spark.implicits._

  private val base = "/tmp/graft_curation_stream"

  private def cleanup(dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  test("out-of-order streamed DSIR scoring equals the batch weights; " +
    "selection diverges only at cut ties; replay idempotent") {
    val (mD, oD) = (s"$base-dsir-model", s"$base-dsir-out")
    cleanup(mD); cleanup(oD)
    val docs = graft.Tables.documents(spark, sf0001)
      .select("doc_id", "source", "text")
    DsirLifecycle.retrain(docs, mD)
    val m = DsirLifecycle.asModel(spark, mD)
    CurationStreams.dsirScoreBatch(docs.filter(col("doc_id") >= 250), 0L, m, oD)
    CurationStreams.dsirScoreBatch(docs.filter(col("doc_id") < 250), 1L, m, oD)
    val got = CurationStreams.dsirScored(spark, oD)
    val want = DsirQueries.dsirWeights.run(spark, sf0001)
    // raw-pool rows: exact score parity with the batch operator
    val g = got.filter(!col("source").isin(DsirQueries.TargetSrcs: _*))
      .select("doc_id", "source", "n_tokens", "weight_bits")
    val w = want.select("doc_id", "source", "n_tokens", "weight_bits")
    assert(g.exceptAll(w).isEmpty && w.exceptAll(g).isEmpty,
      "streamed DSIR weights diverge from the batch pass")
    // target-slice docs score too (every arrival gets a row)
    assert(got.filter(col("source").isin(DsirQueries.TargetSrcs: _*)).count() > 0)
    // selection: selected == (weight >= cut); vs batch top-30 the only
    // admissible divergence is rows tied exactly at the cut
    val sample = DsirQueries.dsirSample.run(spark, sf0001)
      .select("doc_id").as[Long].collect().toSet
    got.filter(col("selected"))
      .filter(!col("source").isin(DsirQueries.TargetSrcs: _*))
      .select("doc_id", "weight_bits").collect()
      .foreach { r =>
        assert(sample.contains(r.getLong(0)) || r.getLong(1) == m.cut,
          s"selected off the batch top-30 and off the cut boundary: $r")
      }
    assert(sample.forall(id =>
      got.filter(col("doc_id") === id && col("selected")).count() == 1),
      "a batch top-30 doc was not selected by the frozen cut")
    // replay idempotence
    CurationStreams.dsirScoreBatch(docs.filter(col("doc_id") >= 250), 0L, m, oD)
    val again = CurationStreams.dsirScored(spark, oD)
      .filter(!col("source").isin(DsirQueries.TargetSrcs: _*))
      .select("doc_id", "source", "n_tokens", "weight_bits")
    assert(again.exceptAll(w).isEmpty && w.exceptAll(again).isEmpty)
  }

  test("unseen-bucket arrival prices at the smoothed prior, " +
    "deterministically") {
    val (mD, oD) = (s"$base-dsir-oov-model", s"$base-dsir-oov-out")
    cleanup(mD); cleanup(oD)
    // tiny corpus occupying few buckets; the arrival's tokens are new
    val corpus = s"$base-dsir-oov-corpus"
    // nt = 3 tokens, nr = 13 → normalizer = bitlen(14) − bitlen(4) = 1,
    // so a zero norm can't make the assertion pass vacuously
    Seq((0L, "alpha alpha beta", "en", "src0"),
        (1L, Seq.fill(13)("gamma").mkString(" "), "en", "src5"))
      .toDF("doc_id", "text", "lang", "source").asSfTable("documents")
      .coalesce(1).write.mode("overwrite")
      .parquet(s"$corpus/documents.parquet")
    DsirLifecycle.retrain(graft.Tables.documents(spark, corpus), mD)
    val m = DsirLifecycle.asModel(spark, mD)
    val norm0 = (java.lang.Long.toBinaryString(m.nr + 1).length
      - java.lang.Long.toBinaryString(m.nt + 1).length).toLong
    assert(norm0 != 0, "test corpus must have a nonzero normalizer")
    val arrivals = Seq((7L, "src9", "zzznovel zzznovel zzznovel"))
      .toDF("doc_id", "source", "text")
    CurationStreams.dsirScoreBatch(arrivals, 0L, m, oD)
    val r = CurationStreams.dsirScored(spark, oD).head()
    // every token in an empty bucket: s = (bitlen(1)-bitlen(1)) +
    // (bitlen(nr+1)-bitlen(nt+1)) per token — the pure normalizer
    val norm = (java.lang.Long.toBinaryString(m.nr + 1).length
      - java.lang.Long.toBinaryString(m.nt + 1).length).toLong
    assert(r.getAs[Long]("weight_bits") == 3 * norm,
      s"OOV pricing: got ${r.getAs[Long]("weight_bits")}, want ${3 * norm}")
  }

  test("out-of-order streamed excision equals q_line_excise; unseen " +
    "segments pass through; replay idempotent; markers enforced") {
    val (mD, oD) = (s"$base-bp-model", s"$base-bp-out")
    cleanup(mD); cleanup(oD)
    val docs = graft.Tables.documents(spark, sf0001)
      .select("doc_id", "source", "text")
    BoilerplateLifecycle.retrain(docs, mD)
    val bp = BoilerplateLifecycle.at(mD).read(spark, "bplist")
    CurationStreams.bpExciseBatch(docs.filter(col("doc_id") % 2 === 1), 0L, bp, oD)
    CurationStreams.bpExciseBatch(docs.filter(col("doc_id") % 2 === 0), 1L, bp, oD)
    val got = CurationStreams.bpExcised(spark, oD)
    val want = BoilerplateQueries.lineExcise.run(spark, sf0001)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "streamed excision diverges from the batch pass")
    // an arrival full of never-seen segments is untouched (frozen list)
    val novel = Seq((9999L, "srcX", (0 until 16).map("nv" + _).mkString(" ")))
      .toDF("doc_id", "source", "text")
    CurationStreams.bpExciseBatch(novel, 2L, bp, oD)
    val nr = CurationStreams.bpExcised(spark, oD)
      .filter(col("doc_id") === 9999L).head()
    assert(nr.getAs[Long]("segs_removed") == 0 &&
      nr.getAs[Long]("words_kept") == 16)
    // replay idempotence
    CurationStreams.bpExciseBatch(docs.filter(col("doc_id") % 2 === 1), 0L, bp, oD)
    val again = CurationStreams.bpExcised(spark, oD)
      .filter(col("doc_id") =!= 9999L)
    assert(again.exceptAll(want).isEmpty && want.exceptAll(again).isEmpty)
    // stores with no committed generation are refused by name
    val (bpNone, dsirNone) = (s"$base-bp-none", s"$base-dsir-none")
    cleanup(bpNone); cleanup(dsirNone)
    val eb = intercept[IllegalStateException] {
      BoilerplateLifecycle.at(bpNone).read(spark, "bplist")
    }
    assert(eb.getMessage.contains(s"$bpNone has no trained generation"))
    val ed = intercept[IllegalStateException] {
      DsirLifecycle.asModel(spark, dsirNone)
    }
    assert(ed.getMessage.contains(s"$dsirNone has no trained generation"))
    // an interrupted retrain is never served (crash-window contract):
    // gen-2 stats committed and an empty gen-2 list landed on disk, but
    // the list pointer never swung — excision still runs under gen 1
    GenerationedTable.writeAs(BoilerplateLifecycle.at(mD).read(spark, "stats"),
      BoilerplateLifecycle.at(mD).dir("stats"), 2)
    bp.limit(0).write.mode("overwrite")
      .parquet(s"${BoilerplateLifecycle.at(mD).dir("bplist")}/gen=2")
    val oC = s"$base-bp-crash-out"
    cleanup(oC)
    CurationStreams.bpExciseBatch(docs, 0L, BoilerplateLifecycle.at(mD).read(spark, "bplist"), oC)
    val crash = CurationStreams.bpExcised(spark, oC)
    assert(crash.exceptAll(want).isEmpty && want.exceptAll(crash).isEmpty,
      "an uncommitted boilerplate generation was served")
    // DSIR: gen-2 buckets + stats landed, the totals pointer did not
    val dM = s"$base-dsir-crash-model"
    cleanup(dM)
    DsirLifecycle.retrain(docs, dM)
    val d1 = DsirLifecycle.asModel(spark, dM)
    GenerationedTable.writeAs(d1.buckets.limit(1), DsirLifecycle.at(dM).dir("buckets"), 2)
    GenerationedTable.writeAs(DsirLifecycle.at(dM).read(spark, "stats").limit(1),
      DsirLifecycle.at(dM).dir("stats"), 2)
    val d2 = DsirLifecycle.asModel(spark, dM)
    assert(d2.buckets.count() == d1.buckets.count() &&
      (d2.nt, d2.nr, d2.cut) == ((d1.nt, d1.nr, d1.cut)),
      "an uncommitted DSIR generation was served")
    cleanup(oC); cleanup(dM)
  }
}
