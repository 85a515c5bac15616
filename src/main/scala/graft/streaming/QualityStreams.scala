package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode}
import graft.functions.TextFunctions.{tokens, wordShingles}
import graft.operators.KnLifecycle

/** Perplexity-filter-on-arrival — the streaming twin of `q_lm_kn` +
  * `q_quality_tertiles` (streaming twin #12): each micro-batch of
  * (doc_id, source, text) documents is scored against the FROZEN
  * Kneser–Ney model trained on the reference corpus (the CCNet
  * production shape: the LM is trained once on the clean corpus, then
  * every crawl batch is scored and banded as it lands — the model
  * never retrains in the hot path, exactly the frozen-vocab
  * [[TokenizeStreams]] discipline).
  *
  * Frozen state: the next generation of a [[graft.operators.KnLifecycle]]
  * store, trained ONCE at stream start and read back through
  * [[graft.operators.KnLifecycle.asModel]]:
  *  - the bigram-type frame (bg → cvw) and the two word-marginal
  *    frames (v → cv, N1+(v·); w → N1+(·w)) — vocabulary-sized, joined
  *    onto each batch as plain left joins, so Spark's own size rule
  *    (`spark.sql.autoBroadcastJoinThreshold`) broadcasts them while
  *    they are small and plans shuffled joins once a vocabulary outgrows
  *    it;
  *  - the 1-row type total T (a driver long);
  *  - per-source band cutpoints (c1 = head's hi_ppm, c2 = middle's
  *    hi_ppm) from the batch tertiles.
  *
  * OOV contract (a NEW crawl doc may carry transitions the trainer
  * never saw — they must price deterministically, never drop):
  *  - unseen bigram over seen words → the exact KN backoff price
  *    (`cvw = 0`, true marginals): `bits = bitlen(4·cv·T) −
  *    bitlen(3·N1+(v·)·N1+(·w))` — the interpolated-KN value of an
  *    unobserved transition, not an ad-hoc penalty;
  *  - an unseen first/second word takes the hapax prior (its missing
  *    marginals coalesce to 1) — the price of a word with exactly one
  *    continuation, the most optimistic consistent completion;
  *  - a doc from an unseen SOURCE scores normally but bands as
  *    `unbanded` — cutpoints are per-source by construction (CCNet
  *    bands per language), so inventing a band would misfile it;
  *    the row stays visible for routing instead.
  *
  * Banding note: cutpoint banding (`avg_ppm ≤ c1 → head`) equals the
  * batch rank-based ntile everywhere except documents TIED exactly at
  * a cut value, where ntile splits the tie by doc_id and a frozen
  * cutpoint cannot — StreamingQualitySpec pins that any divergence is
  * confined to boundary-tied ppm values.
  *
  * Replay safety: each micro-batch overwrites its OWN
  * `ingest_batch=<id>` partition; re-fetched doc_ids supersede via
  * newest-batch-wins in [[scored]]. */
object QualityStreams {

  /** The frozen KN model: three vocabulary-sized frames + the type
    * total + per-source band cutpoints — one generation of a
    * [[KnLifecycle]] store. */
  final case class KnModel(
      bigrams: DataFrame, // (bg, cvw)
      firsts: DataFrame,  // (v, cv, n1v)
      conts: DataFrame,   // (wd, n1w)
      t: Long,            // N1+(··) — total bigram types
      cuts: DataFrame)    // (source, c1, c2)

  /** (doc_id, source, bg): one row per bigram instance. */
  private[graft] def instOf(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
      explode(wordShingles(tokens(col("text")), 2)).as("bg"))

  /** Price every bigram instance of a (doc_id, source, text) frame under
    * the frozen model: (doc_id, source, oov, bits), where `oov` marks an
    * instance whose first or second word the trainer never saw. Shared
    * by [[scoreFrame]] and [[KnLifecycle.driftCheck]]. */
  private[graft] def bigramBits(docs: DataFrame, m: KnModel): DataFrame =
    instOf(docs)
      .withColumn("v", substring_index(col("bg"), " ", 1))
      .withColumn("wd", substring_index(col("bg"), " ", -1))
      .join(m.bigrams, Seq("bg"), "left")
      .join(m.firsts, Seq("v"), "left")
      .join(m.conts, Seq("wd"), "left")
      .select(col("doc_id"), col("source"),
        (col("cv").isNull || col("n1w").isNull).as("oov"),
        (length(bin(coalesce(col("cv"), lit(1L)) * 4 * lit(m.t))) -
          length(bin(
            greatest(coalesce(col("cvw"), lit(0L)) * 4 - 3, lit(0L)) * lit(m.t)
              + coalesce(col("n1v"), lit(1L)) * coalesce(col("n1w"), lit(1L)) * 3)))
          .as("bits"))

  /** Score-and-band one already-deduplicated (doc_id, source, text)
    * frame against the frozen model — the micro-batch core, shared
    * with the composed [[AdmissionStreams]] twin. */
  private[streaming] def scoreFrame(one: DataFrame, m: KnModel): DataFrame =
    bigramBits(one, m)
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_bigrams"), sum("bits").cast("long").as("kn_bits"))
      .withColumn("avg_ppm", expr("kn_bits * 1000000 div n_bigrams"))
      .join(broadcast(m.cuts), Seq("source"), "left")
      .withColumn("band",
        when(col("c1").isNull, "unbanded")
          .when(col("avg_ppm") <= col("c1"), "head")
          .when(col("avg_ppm") <= col("c2"), "middle")
          .otherwise("tail"))
      .select("doc_id", "source", "n_bigrams", "kn_bits", "avg_ppm", "band")

  /** The (doc_id, source, text) columns of a batch, one row per doc on
    * a same-batch re-fetch ([[Ledger.oneRowPerDoc]]). Shared across the
    * curation twins. */
  private[streaming] def oneRowPerDoc(batch: DataFrame): DataFrame =
    Ledger.oneRowPerDoc(batch.select(
      col("doc_id").cast("long").as("doc_id"), col("source"), col("text")))

  /** One micro-batch score-and-band (exposed for replay tests). */
  def scoreBatch(batch: DataFrame, batchId: Long, m: KnModel,
                 outDir: String): Unit =
    scoreFrame(oneRowPerDoc(batch), m)
      .write.mode("overwrite").parquet(s"$outDir/ingest_batch=$batchId")

  /** Continuous wiring: a stream of (doc_id, source, text) documents
    * scored micro-batch by micro-batch under the next generation of
    * `store`, trained once on `corpusDir` at start (the frozen-model
    * contract). */
  def scoreStream(docs: DataFrame, corpusDir: String, store: String,
                  outDir: String): DataStreamWriter[Row] = {
    val s = docs.sparkSession
    KnLifecycle.retrain(graft.Tables.documents(s, corpusDir), store)
    val m = KnLifecycle.asModel(s, store)
    docs.writeStream
      .outputMode(OutputMode.Update)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) scoreBatch(batch, batchId, m, outDir)
      }
  }

  /** The accumulated scored corpus: one row per document,
    * newest-batch-wins on re-ingest. */
  def scored(s: SparkSession, outDir: String): DataFrame =
    Ledger.newest(s, outDir, "doc_id",
      "doc_id", "source", "n_bigrams", "kn_bits", "avg_ppm", "band")
}
