package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode}

/** Streaming perceptual-hash ingest — the multimodal twin of
  * [[DedupStreams]]: image payloads arrive in micro-batches, each is
  * decoded and average-hashed ONCE, partition-locally, on arrival
  * ([[graft.multimodal.ImageCodec.aHashRow]]), and the signature enters
  * a persisted hash index partitioned by ingest batch. The dedup
  * verdict is a VIEW over the accumulated index (keep = min doc_id per
  * hash), so a keeper decision is never final-on-arrival: a smaller
  * doc id surfacing in a later crawl batch retroactively wins its
  * cluster, exactly as the batch pass `q_mm_img_phash` would decide —
  * StreamingPhashDedupSpec pins that parity under out-of-order
  * arrival.
  *
  * Replay safety: each micro-batch overwrites its OWN
  * `ingest_batch=<id>` partition, so a re-applied batch (restart
  * recovery) rewrites identical rows in place — no append duplication,
  * no dependence on the streaming checkpoint for correctness. Corrupt
  * payloads hash to the '' sentinel and stay in the index as an audit
  * trail but never join a verdict cluster. */
object MultimodalStreams {

  /** Decode + hash one batch of (doc_id, payload) rows — the only
    * place pixels are touched; everything downstream is signatures. */
  private[streaming] def hashRowsOf(batch: DataFrame): DataFrame = {
    val s = batch.sparkSession
    import s.implicits._
    batch.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        graft.multimodal.ImageCodec.aHashRow(id, payload)
      })
      .toDF()
  }

  /** One micro-batch application, exposed apart from the stream wiring
    * so tests can replay a batch (same `batchId`) directly. */
  def processBatch(batch: DataFrame, batchId: Long, hashDir: String): Unit =
    hashRowsOf(batch)
      .write.mode("overwrite").parquet(s"$hashDir/ingest_batch=$batchId")

  /** Continuous wiring: a stream of (doc_id, payload) images applied
    * micro-batch by micro-batch through [[processBatch]]. */
  def phashIngestStream(images: DataFrame, hashDir: String): DataStreamWriter[Row] =
    images.writeStream
      .outputMode(OutputMode.Update)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) processBatch(batch, batchId, hashDir)
      }

  /** Audio fingerprint-on-arrival — the WAV twin of [[hashRowsOf]]:
    * each payload is decoded and band-energy-hashed ONCE
    * ([[graft.multimodal.AudioCodec.phashRow]]); index layout, replay
    * discipline, and the [[verdicts]] view are shared with the image
    * path (same (doc_id, phash, ingest_batch) schema, same sentinel
    * contract). */
  private[streaming] def wavHashRowsOf(batch: DataFrame): DataFrame = {
    val s = batch.sparkSession
    import s.implicits._
    batch.select(col("doc_id").cast("long"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions(_.map { case (id, payload) =>
        graft.multimodal.AudioCodec.phashRow(id, payload)
      })
      .toDF()
  }

  /** One audio micro-batch application (replay-safe, same partition
    * overwrite discipline as [[processBatch]]). */
  def processWavBatch(batch: DataFrame, batchId: Long, hashDir: String): Unit =
    wavHashRowsOf(batch)
      .write.mode("overwrite").parquet(s"$hashDir/ingest_batch=$batchId")

  /** Continuous wiring for audio: a stream of (doc_id, payload) WAVs
    * applied micro-batch by micro-batch through [[processWavBatch]];
    * dedup verdicts come from the shared [[verdicts]] view over the
    * audio index dir. */
  def wavPhashIngestStream(wavs: DataFrame, hashDir: String): DataStreamWriter[Row] =
    wavs.writeStream
      .outputMode(OutputMode.Update)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) processWavBatch(batch, batchId, hashDir)
      }

  /** The dedup verdict over everything ingested so far: keep = min
    * doc_id per hash — the same decision rule as the batch
    * `q_mm_img_phash`, over the same signature function, minus the
    * corrupt-payload sentinel rows. A doc_id re-ingested in a LATER
    * batch (crawl re-fetch — distinct from the same-batch restart
    * replay, which rewrites its partition in place) keeps its newest
    * VALID signature: valid-signature rows rank ahead of corrupt
    * sentinels, newest-batch first within each class — so a corrupt
    * re-fetch of a previously-good image neither erases the document
    * from the verdicts nor flips its hash cluster's keeper, while a
    * document whose every ingest was corrupt stays excluded. One
    * verdict row per document. Both windows partition on bounded keys
    * (doc_id, hash cluster), never corpus-wide. */
  def verdicts(s: SparkSession, hashDir: String): DataFrame = {
    val p = new Path(hashDir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    require(fs.exists(p) && fs.listStatus(p).nonEmpty,
      s"no ingested hash index at $hashDir")
    // not Ledger.newest: a valid signature outranks a newer failed one
    s.read.parquet(hashDir)
      .withColumn("rk", row_number().over(
        Window.partitionBy("doc_id")
          .orderBy((col("phash") =!= "").desc, col("ingest_batch").desc)))
      .filter(col("rk") === 1 && col("phash") =!= "")
      .select(col("doc_id"), col("phash"),
        (col("doc_id") === min("doc_id").over(
          Window.partitionBy("phash"))).as("keep"))
  }
}
