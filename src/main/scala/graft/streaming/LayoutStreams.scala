package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode}

/** Layout-maintenance-on-arrival — the streaming twin of
  * `q_zorder_layout` (streaming twin #19): every arriving document is
  * assigned its Morton cell the moment it lands (the z-key needs NO
  * trained state — a hash and a token count — so ingest-time layout is
  * free), and the per-file min/max/count statistics an engine skips
  * files with are maintained incrementally.
  *
  * The accumulation discipline is the house twin shape: each
  * micro-batch overwrites its own `ingest_batch=<id>` partition at DOC
  * grain (cell assignment is idempotent per doc), [[cells]] resolves
  * re-ingests newest-batch-wins, and [[layoutStats]] aggregates the
  * resolved doc set — so replayed batches can never double-count a
  * document into a file's row count, the failure mode of merging
  * pre-aggregated (count, min, max) triples directly. At 100 TB the
  * doc-grain ledger is the layout's manifest (one row per doc — the
  * same order as the data itself) and the stats aggregation is one
  * hash-agg over it.
  *
  * Parity: replaying the corpus through [[assignBatch]] reproduces
  * `q_zorder_layout`'s file statistics exactly (same shared
  * [[graft.operators.LayoutQueries.zcellsOf]] kernel — spec-pinned). */
object LayoutStreams {

  /** One micro-batch cell assignment (exposed for replay tests). */
  def assignBatch(batch: DataFrame, batchId: Long, outDir: String): Unit =
    graft.operators.LayoutQueries
      .zcellsOf(QualityStreams.oneRowPerDoc(batch))
      .write.mode("overwrite").parquet(s"$outDir/ingest_batch=$batchId")

  /** Continuous wiring: cells assigned on arrival. */
  def assignStream(docs: DataFrame, outDir: String): DataStreamWriter[Row] =
    docs.writeStream
      .outputMode(OutputMode.Update)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) assignBatch(batch, batchId, outDir)
      }

  /** The accumulated doc-grain cell ledger, newest-batch-wins. */
  def cells(s: SparkSession, outDir: String): DataFrame =
    Ledger.newest(s, outDir, "doc_id",
      "doc_id", "source", "d1", "d2", "zv", "file_id")

  /** Per-file skipping statistics over the resolved ledger — the same
    * shape `q_zorder_layout` reports for the batch corpus. */
  def layoutStats(s: SparkSession, outDir: String): DataFrame =
    cells(s, outDir)
      .groupBy("file_id")
      .agg(count(lit(1)).as("n_docs"),
        min("d1").as("d1_min"), max("d1").as("d1_max"),
        min("d2").as("d2_min"), max("d2").as("d2_max"))
      .orderBy("file_id")
}
