package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode}

/** Binary-code maintenance on arrival — the streaming twin of the
  * `idx_binary` artifact (streaming twin #20): every arriving
  * embedding is packed into its 1-bit sign-code words the moment it
  * lands, against a FROZEN per-dimension threshold model, so the
  * serving tier's code table stays current without ever re-scanning
  * the float corpus. This is the ingest half of the binary stack's
  * 100 TB story: queries scan 16×-smaller precomputed codes
  * ([[graft.operators.BinaryIndex]]); this twin is what keeps those
  * codes precomputed as the corpus grows.
  *
  * Frozen-model contract (the [[QualityStreams]]/[[CurationStreams]]
  * discipline): the midrange thresholds are trained into a
  * [[graft.operators.BinaryLifecycle]] store and read back as one
  * committed generation ([[graft.operators.BinaryLifecycle.asModel]]);
  * every micro-batch packs against that frozen state — the hot path
  * never re-derives a threshold. Re-thresholding on running min/max would
  * make codes order-dependent and replay-unsafe (the boilerplate
  * running-count lesson); a distribution shift instead triggers an
  * explicit retrain + full repack, the [[graft.operators.IvfLifecycle]]
  * drift→retrain move.
  *
  * Accumulation is the house twin shape ([[LayoutStreams]]): each
  * micro-batch overwrites its own `ingest_batch=<id>` partition at
  * VECTOR grain (packing is idempotent per vec_id under frozen
  * thresholds), and [[codes]] resolves re-deliveries newest-batch-wins
  * — a replayed batch can never double-insert a code row.
  *
  * Parity: with thresholds trained on the reference corpus, replaying
  * that corpus through [[packBatch]] in any slice order reproduces the
  * batch builder's code table bit-for-bit (the packing kernel is the
  * SAME code — [[graft.operators.SimilarityQueries.packWords]] — and
  * midrange thresholds are order-independent); spec-pinned in
  * StreamingCodeSpec against [[graft.operators.BinaryIndex.words]]. */
object CodeStreams {

  /** The frozen threshold model: ONE pos-ordered array row. */
  final case class ThresholdModel(ts: DataFrame)

  /** Pack one micro-batch of (vec_id, embedding) rows under the frozen
    * thresholds (exposed for replay tests). */
  def packBatch(batch: DataFrame, batchId: Long, m: ThresholdModel,
                outDir: String): Unit =
    graft.operators.SimilarityQueries.packWords(
        batch.select(col("vec_id"),
          col("embedding").cast("array<double>").as("e")),
        m.ts)
      .write.mode("overwrite").parquet(s"$outDir/ingest_batch=$batchId")

  /** Continuous wiring: codes packed on arrival. */
  def packStream(vecs: DataFrame, m: ThresholdModel,
                 outDir: String): DataStreamWriter[Row] =
    vecs.writeStream
      .outputMode(OutputMode.Update)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) packBatch(batch, batchId, m, outDir)
      }

  /** The accumulated code table, newest-batch-wins per vec_id — what
    * the Hamming serving tier scans. */
  def codes(s: SparkSession, outDir: String): DataFrame =
    Ledger.newest(s, outDir, "vec_id", "vec_id", "w0", "w1")
}
