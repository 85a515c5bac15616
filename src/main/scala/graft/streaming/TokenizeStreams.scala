package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, OutputMode}
import graft.functions.TextFunctions.tokens

/** Tokenize-on-arrival — the streaming twin of `q_bpe_encode`: each
  * micro-batch of (doc_id, text) documents is encoded against the
  * FROZEN trained tokenizer (the persisted `idx_bpe_merges` vocab —
  * vocabulary-sized, broadcast onto the word stream; training never
  * re-runs in the hot path, exactly the IVF/streaming-dedup frozen-
  * model discipline) and written as token sequences into a
  * batch-partitioned encoded table.
  *
  * OOV contract: the trained vocabulary is closed at training time, so
  * a NEW crawl document may carry words the trainer never saw. Those
  * are segmented by APPLYING the trained merge sequence to the unseen
  * word (character wrap → the 10 learned merges in training order →
  * symbols — the real BPE inference rule, via the same codegen'd
  * [[graft.operators.ChunkingQueries.bpeApplyMerge]] replace chain the
  * trainer used), so an unseen word containing learned pairs
  * compresses exactly as the tokenizer would, and a fully-novel word
  * degrades to characters. Deterministic, length-bounded, never
  * silently dropped. In-vocabulary documents encode byte-identically
  * to the batch pass (StreamingEncodeSpec pins the parity).
  *
  * Replay safety: each micro-batch overwrites its OWN
  * `ingest_batch=<id>` partition; a re-fetched doc_id in a later batch
  * supersedes via newest-batch-wins in [[encoded]] (one window over
  * the bounded per-doc history, never corpus-wide). */
object TokenizeStreams {

  /** One micro-batch encode (exposed for replay tests). `vocab` is the
    * frozen (w, pieces, n_tokens) trained-tokenizer frame; `merges`
    * the trained merge sequence as (pair_a, pair_b) in step order —
    * tokenizer-sized driver state, applied to OOV words as a codegen'd
    * replace chain. */
  def encodeBatch(batch: DataFrame, batchId: Long, vocab: DataFrame,
                  merges: Seq[(String, String)], encDir: String): Unit = {
    import graft.operators.ChunkingQueries.{bpeApplyMerge, bpeSymbols, bpeWrap}
    val pieces = vocab.select(col("w"),
      concat_ws(" ", col("pieces")).as("ptxt"),
      col("n_tokens"))
    val oovSyms = bpeSymbols(
      merges.foldLeft(bpeWrap(col("w"))) { case (c, (pa, pb)) =>
        bpeApplyMerge(c, lit(pa), lit(pb))
      })
    // a doc_id fetched TWICE within one trigger (same-batch re-fetch)
    // must not interleave two encodings into one garbled row: keep one
    // fetch per doc, deterministically (longest text, then
    // lexicographically greatest) — across batches, newest-batch-wins
    // in [[encoded]] handles the re-fetch instead
    Ledger.oneRowPerDoc(
      batch.select(col("doc_id").cast("long").as("doc_id"), col("text")))
      .select(col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("i", "w")))
      .filter(col("w") =!= "")
      .join(broadcast(pieces), Seq("w"), "left")
      .select(col("doc_id"), col("i"),
        coalesce(col("ptxt"), concat_ws(" ", oovSyms)).as("ptxt"),
        coalesce(col("n_tokens"), size(oovSyms).cast("long"))
          .as("n_tokens"))
      .groupBy("doc_id")
      .agg(sum("n_tokens").as("n_tokens"),
        sort_array(collect_list(struct(col("i"), col("ptxt")))).as("ps"))
      .select(col("doc_id"), col("n_tokens"),
        array_join(expr("transform(ps, x -> x.ptxt)"), " ").as("bpe_text"))
      .write.mode("overwrite").parquet(s"$encDir/ingest_batch=$batchId")
  }

  /** Continuous wiring: a stream of (doc_id, text) documents encoded
    * micro-batch by micro-batch against the tokenizer trained on the
    * corpus at `corpusDir` (resolved ONCE, before the stream starts —
    * the frozen-model contract). */
  def encodeStream(docs: DataFrame, corpusDir: String,
                   encDir: String): DataStreamWriter[Row] = {
    val s = docs.sparkSession
    val vocab = graft.operators.ChunkingQueries.bpeVocab(s, corpusDir)
    val merges = trainedMerges(s, corpusDir)
    docs.writeStream
      .outputMode(OutputMode.Update)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) encodeBatch(batch, batchId, vocab, merges, encDir)
      }
  }

  /** The trained merge sequence in step order — 10 rows of tokenizer
    * state, collected once at stream start (frozen-model contract). */
  def trainedMerges(s: SparkSession, corpusDir: String): Seq[(String, String)] =
    graft.operators.ChunkingQueries.bpeMergeTable(s, corpusDir)
      .orderBy("step").select("pair_a", "pair_b")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq

  /** The accumulated encoded corpus: one row per document, a
    * re-ingested doc_id keeping its newest batch's encoding. */
  def encoded(s: SparkSession, encDir: String): DataFrame =
    Ledger.newest(s, encDir, "doc_id", "doc_id", "n_tokens", "bpe_text")

  // -------------------------------------------------------------------
  // Unigram twin (round-11): encode-on-arrival under the frozen
  // unigram-LM lattice tokenizer — same replay/dedupe discipline as
  // the BPE twin above.
  // -------------------------------------------------------------------

  /** The frozen unigram piece-score map as a broadcastable 1-row
    * frame — the trained `idx_unigram` pruned vocabulary, never
    * retrained in the hot path. */
  def unigramScores(s: SparkSession, corpusDir: String): DataFrame =
    graft.operators.UnigramQueries.unigramPieces(s, corpusDir)
      .agg(map_from_entries(
        collect_list(struct(col("piece"), col("n_used")))).as("vm"))

  /** One micro-batch unigram encode. In-vocabulary words take their
    * trained segmentation from the broadcast `vocab` join; an OOV word
    * runs the SAME lattice DP against the frozen scores — the real
    * unigram inference rule, so a novel word built from learned pieces
    * compresses exactly as the tokenizer would. A word beyond the
    * lattice cap, or carrying a character the trainer never saw (its
    * lattice would be unreachable), prices as character pieces —
    * deterministic, never silently dropped. */
  def uniEncodeBatch(batch: DataFrame, batchId: Long, vocab: DataFrame,
                     scores: DataFrame, encDir: String): Unit = {
    import graft.operators.UnigramQueries
    val one = Ledger.oneRowPerDoc(
      batch.select(col("doc_id").cast("long").as("doc_id"), col("text")))
    val wchars = transform(sequence(lit(1), length(col("w"))),
      i => col("w").substr(i, lit(1)))
    val oovSeg =
      when(length(col("w")) > UnigramQueries.MaxWordLen ||
             !forall(wchars, c => element_at(col("vm"), c).isNotNull),
           UnigramQueries.charSeg(col("w")))
        .otherwise(UnigramQueries.viterbiSeg(col("w"), col("vm")))
    one
      .select(col("doc_id"),
        posexplode(tokens(col("text"))).as(Seq("i", "w")))
      .filter(col("w") =!= "")
      .join(broadcast(vocab.select(col("w"), col("seg").as("ptxt"),
        col("n_tokens"))), Seq("w"), "left")
      .crossJoin(broadcast(scores))
      .select(col("doc_id"), col("i"),
        coalesce(col("ptxt"), oovSeg).as("ptxt"))
      .select(col("doc_id"), col("i"), col("ptxt"),
        size(split(col("ptxt"), " ")).cast("long").as("n_tokens"))
      .groupBy("doc_id")
      .agg(sum("n_tokens").as("n_tokens"),
        sort_array(collect_list(struct(col("i"), col("ptxt")))).as("ps"))
      .select(col("doc_id"), col("n_tokens"),
        array_join(expr("transform(ps, x -> x.ptxt)"), " ").as("uni_text"))
      .write.mode("overwrite").parquet(s"$encDir/ingest_batch=$batchId")
  }

  /** Continuous wiring for the unigram twin: tokenizer state resolved
    * ONCE before the stream starts (frozen-model contract). */
  def uniEncodeStream(docs: DataFrame, corpusDir: String,
                      encDir: String): DataStreamWriter[Row] = {
    val s = docs.sparkSession
    val vocab = graft.operators.UnigramQueries.unigramVocab(s, corpusDir)
    val scores = unigramScores(s, corpusDir)
    docs.writeStream
      .outputMode(OutputMode.Update)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        if (!batch.isEmpty) uniEncodeBatch(batch, batchId, vocab, scores, encDir)
      }
  }

  /** The accumulated unigram-encoded corpus, newest-batch-wins. */
  def uniEncoded(s: SparkSession, encDir: String): DataFrame =
    Ledger.newest(s, encDir, "doc_id", "doc_id", "n_tokens", "uni_text")
}
