package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode}
import graft.operators.{BoilerplateLifecycle, BoilerplateQueries, DsirLifecycle, DsirQueries}

/** Curation-on-arrival: the streaming twins of the two frozen-artifact
  * curation operators — DSIR importance scoring (`q_dsir_weights`) and
  * line-grain boilerplate excision (`q_line_excise`). Both follow the
  * [[QualityStreams]] frozen-model contract: at stream start the model
  * is trained once into its lifecycle store ([[DsirLifecycle]],
  * [[BoilerplateLifecycle]]) and every micro-batch is scored against
  * that store's committed generation — the hot path never retrains.
  *
  * Frozen-state caveats (both documented, both by design — the
  * [[graft.sources.DeleteAudit]] frozen-cap precedent):
  *  - DSIR: an arriving token in a bucket the trainer never populated
  *    prices at ct=0/cr=0 (left join + coalesce), i.e. exactly the
  *    smoothed prior — deterministic, never a drop;
  *  - boilerplate: a segment that only BECOMES boilerplate through new
  *    arrivals is not excised until the next retrain — the frozen list
  *    is the reference corpus's verdict, not a running count (a running
  *    count would make excision order-dependent and replay-unsafe).
  *
  * Replay safety: each micro-batch overwrites its own
  * `ingest_batch=<id>` partition; re-fetched doc_ids supersede via
  * newest-batch-wins in the readers. */
object CurationStreams {

  // ---------------------------------------------------------------- DSIR

  /** The frozen DSIR model: 256-row bucket counts + scalar totals + the
    * frozen selection cut (the training pool's 30th-highest weight) —
    * one generation of a [[DsirLifecycle]] store
    * ([[DsirLifecycle.asModel]]). */
  final case class DsirModel(buckets: DataFrame, nt: Long, nr: Long, cut: Long)

  /** One micro-batch DSIR scoring (exposed for replay tests). Every
    * arriving doc scores — a crawl carries no trusted target label, so
    * target-slice re-deliveries get a row too; `selected` is the frozen
    * admission verdict (boundary TIES are admitted, where the batch
    * top-30 would tie-break by doc_id — divergence confined to rows
    * whose weight equals the cut exactly). */
  def dsirScoreBatch(batch: DataFrame, batchId: Long, m: DsirModel,
                     outDir: String): Unit =
    dsirScoreFrame(QualityStreams.oneRowPerDoc(batch), m)
      .write.mode("overwrite").parquet(s"$outDir/ingest_batch=$batchId")

  /** Score one already-deduplicated (doc_id, source, text) frame under
    * the frozen model — the micro-batch core, shared with the composed
    * [[AdmissionStreams]] twin. */
  private[streaming] def dsirScoreFrame(one: DataFrame, m: DsirModel): DataFrame =
    DsirQueries.bucketTokens(one)
      .join(broadcast(m.buckets), Seq("b"), "left")
      .na.fill(0L, Seq("ct", "cr"))
      .withColumn("nt", lit(m.nt))
      .withColumn("nr", lit(m.nr))
      .withColumn("s", DsirQueries.scoreCol)
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("s").cast("long")).as("weight_bits"))
      .withColumn("selected", col("weight_bits") >= m.cut)

  /** Continuous wiring: documents scored on arrival under the next
    * generation of `store`, trained once on `corpusDir` at start. */
  def dsirStream(docs: DataFrame, corpusDir: String, store: String,
                 outDir: String): DataStreamWriter[Row] = {
    val s = docs.sparkSession
    DsirLifecycle.retrain(graft.Tables.documents(s, corpusDir), store)
    val m = DsirLifecycle.asModel(s, store)
    docs.writeStream
      .outputMode(OutputMode.Update)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) dsirScoreBatch(batch, batchId, m, outDir)
      }
  }

  /** The accumulated scored pool, newest-batch-wins on re-ingest. */
  def dsirScored(s: SparkSession, outDir: String): DataFrame =
    Ledger.newest(s, outDir, "doc_id",
      "doc_id", "source", "n_tokens", "weight_bits", "selected")

  // --------------------------------------------------------- boilerplate

  /** One micro-batch excision against the frozen list (the one-column
    * `bseg` frame of a [[BoilerplateLifecycle]] store's `bplist`). */
  def bpExciseBatch(batch: DataFrame, batchId: Long, bp: DataFrame,
                    outDir: String): Unit =
    BoilerplateQueries
      .exciseFrom(BoilerplateQueries.segmentsOf(Ledger.oneRowPerDoc(
        batch.select(col("doc_id").cast("long").as("doc_id"), col("text")))),
        bp)
      .write.mode("overwrite").parquet(s"$outDir/ingest_batch=$batchId")

  /** Continuous wiring: excise-on-arrival under the next generation of
    * `store`, trained once on `corpusDir` at start. */
  def boilerplateStream(docs: DataFrame, corpusDir: String, store: String,
                        outDir: String): DataStreamWriter[Row] = {
    val s = docs.sparkSession
    BoilerplateLifecycle.retrain(graft.Tables.documents(s, corpusDir), store)
    val bp = BoilerplateLifecycle.at(store).read(s, "bplist")
    docs.writeStream
      .outputMode(OutputMode.Update)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) bpExciseBatch(batch, batchId, bp, outDir)
      }
  }

  /** The accumulated cleaned corpus, newest-batch-wins on re-ingest. */
  def bpExcised(s: SparkSession, outDir: String): DataFrame =
    Ledger.newest(s, outDir, "doc_id", "doc_id", "segs_total",
      "segs_removed", "words_total", "words_kept", "cleaned_fp")
}
