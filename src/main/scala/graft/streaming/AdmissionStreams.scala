package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode}
import graft.functions.TextFunctions.tokens
import graft.operators.{BoilerplateLifecycle, BoilerplateQueries, DsirLifecycle, DsirQueries, KnLifecycle, PipelineV2Queries}

/** Curation-funnel admission on arrival — the composed streaming twin
  * of the v2 pipeline's PER-DOCUMENT gates
  * ([[graft.operators.PipelineV2Queries.survivorFrame]] levels 0–3):
  * each micro-batch of (doc_id, source, text) documents is excised
  * against the frozen boilerplate list, Gopher-gated over its CLEANED
  * words, KN-banded under the frozen LM (the band POLICY — head, plus
  * the md5-gated half of middle — applied on arrival), and
  * DSIR-admitted under the frozen bucket model, producing one verdict
  * row with stage attribution: the production shape where every crawl
  * batch receives an admit/reject decision the moment it lands.
  *
  * All three models are trained ONCE into their lifecycle stores and
  * frozen (the [[CurationStreams]]/[[QualityStreams]] discipline); the
  * stage kernels are the SAME code the batch pipeline runs
  * ([[BoilerplateQueries.segmentsOf]],
  * [[PipelineV2Queries.gopherOkFrame]], [[QualityStreams.scoreFrame]],
  * [[CurationStreams.dsirScoreFrame]]) — shared, not copied, so the
  * rule sets cannot drift between the twins.
  *
  * What is deliberately NOT decided on arrival (and why):
  *  - soft-dedup weight and split — both are keyed by the near-dup
  *    CLUSTER, corpus-relative state owned by the incremental-LSH twin
  *    ([[DedupStreams]]); a weight assigned before the cluster settles
  *    would be retracted later. The manifest stage reads the settled
  *    keep-list.
  *  - banding of unseen sources — cutpoints are per-source; an
  *    arriving doc from a source the trainer never saw bands
  *    `unbanded` and FAILS the LM gate (level 2) while staying visible
  *    for routing (the [[QualityStreams]] contract).
  *
  * Parity: replaying the reference corpus reproduces the batch
  * survivor frame's levels exactly, except documents whose avg_ppm
  * TIES a band cutpoint (rank-banding splits ties by doc_id; a frozen
  * cutpoint cannot — the documented [[QualityStreams]] divergence).
  * Replay is idempotent: each batch overwrites its own
  * `ingest_batch=<id>` partition and [[admitted]] is
  * newest-batch-wins. */
object AdmissionStreams {

  /** The frozen funnel state: boilerplate list + KN model (with band
    * cutpoints) + DSIR bucket model. */
  final case class AdmissionModel(
      bp: DataFrame,
      kn: QualityStreams.KnModel,
      dsir: CurationStreams.DsirModel)

  /** Train the next generation of all three stores under `modelRoot`
    * (`bp`, `kn`, `dsir`) from the corpus, then [[load]] them. A crash
    * before a store's commit pointer swings leaves that store on its
    * previous generation. */
  def train(s: SparkSession, corpusDir: String, modelRoot: String): AdmissionModel = {
    val docs = graft.Tables.documents(s, corpusDir)
    BoilerplateLifecycle.retrain(docs, s"$modelRoot/bp")
    KnLifecycle.retrain(docs, s"$modelRoot/kn")
    DsirLifecycle.retrain(docs, s"$modelRoot/dsir")
    load(s, modelRoot)
  }

  /** The committed generation of each store; refuses a store with
    * none. */
  def load(s: SparkSession, modelRoot: String): AdmissionModel =
    AdmissionModel(
      BoilerplateLifecycle.at(s"$modelRoot/bp").read(s, "bplist"),
      KnLifecycle.asModel(s, s"$modelRoot/kn"),
      DsirLifecycle.asModel(s, s"$modelRoot/dsir"))

  /** Admission verdicts for one already-deduplicated batch:
    * (doc_id, source, raw_toks, kept, band, weight_bits, level) with
    * level 0 excised-to-zero, 1 Gopher-failed, 2 LM-band-failed,
    * 3 admission-rejected, 4 admitted. `pareto` swaps the pool gate
    * from DSIR's sign threshold to the trained classifier's Pareto
    * gate ([[graft.operators.QualityClassifierQueries.classify]] — the
    * SAME column expressions the batch funnel variant splices, over
    * the same frozen bucket model, so the streaming dial can never
    * drift from the batch one), mirroring
    * [[graft.operators.PipelineV2Queries.survivorFrame]]'s dial. */
  private[streaming] def admitFrame(one: DataFrame, m: AdmissionModel,
                                    pareto: Boolean = false): DataFrame = {
    val cleanSegs = BoilerplateQueries.segmentsOf(one)
      .join(m.bp, col("seg") === col("bseg"), "left_anti")
    val keptw = cleanSegs
      .groupBy("doc_id")
      .agg(sum(size(split(col("seg"), " ")).cast("long")).as("kept"))
    val qa = PipelineV2Queries.gopherOkFrame(cleanSegs.select("doc_id", "seg"))
    val lm = QualityStreams.scoreFrame(one, m.kn).select("doc_id", "band")
    val ds0 = CurationStreams.dsirScoreFrame(one, m.dsir)
    val ds =
      if (pareto)
        graft.operators.QualityClassifierQueries
          .classify(ds0.select("doc_id", "n_tokens", "weight_bits"))
          .select(col("doc_id"), col("weight_bits"),
            col("admitted").as("pool_ok"))
      else ds0.select(col("doc_id"), col("weight_bits"),
        (col("weight_bits") > 0).as("pool_ok"))
    one.select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("raw_toks"))
      .join(keptw, Seq("doc_id"), "left")
      .join(qa, Seq("doc_id"), "left")
      .join(lm, Seq("doc_id"), "left")
      .join(ds, Seq("doc_id"), "left")
      .withColumn("kept", coalesce(col("kept"), lit(0L)))
      .withColumn("weight_bits", coalesce(col("weight_bits"), lit(0L)))
      // coalesce closes the 3VL hole: a doc with no bigrams has no
      // band row (null) and must FAIL the gate, not skip the branch
      .withColumn("lm_ok", coalesce(
        col("band") === "head" ||
          (col("band") === "middle" &&
            substring(md5(col("doc_id").cast("string")), 1, 2) < "80"),
        lit(false)))
      .withColumn("sel_ok",
        DsirQueries.isTarget || coalesce(col("pool_ok"), lit(false)))
      .withColumn("level",
        when(col("kept") === 0, 0)
          .when(col("q_ok").isNull, 1)
          .when(!col("lm_ok"), 2)
          .when(!col("sel_ok"), 3)
          .otherwise(4))
      .select("doc_id", "source", "raw_toks", "kept", "band",
        "weight_bits", "level")
  }

  /** One micro-batch admission pass (exposed for replay tests). */
  def admitBatch(batch: DataFrame, batchId: Long, m: AdmissionModel,
                 outDir: String, pareto: Boolean = false): Unit =
    admitFrame(QualityStreams.oneRowPerDoc(batch), m, pareto)
      .write.mode("overwrite").parquet(s"$outDir/ingest_batch=$batchId")

  /** Continuous wiring: admission decided micro-batch by micro-batch
    * under the stores' next generations, trained once on `corpusDir`
    * at start, under either dial. */
  def admitStream(docs: DataFrame, corpusDir: String, modelRoot: String,
                  outDir: String, pareto: Boolean = false): DataStreamWriter[Row] = {
    val m = train(docs.sparkSession, corpusDir, modelRoot)
    docs.writeStream
      .outputMode(OutputMode.Update)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) admitBatch(batch, batchId, m, outDir, pareto)
      }
  }

  /** The accumulated admission ledger, newest-batch-wins on re-ingest. */
  def admitted(s: SparkSession, outDir: String): DataFrame =
    Ledger.newest(s, outDir, "doc_id", "doc_id", "source", "raw_toks",
      "kept", "band", "weight_bits", "level")
}
