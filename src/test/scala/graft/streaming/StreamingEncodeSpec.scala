package graft.streaming

import graft.SparkSpec
import graft.operators.{BpeLifecycle, ChunkingQueries}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Stream/batch parity for tokenize-on-arrival: documents encoded in
  * out-of-order micro-batches against the frozen trained tokenizer (a
  * [[BpeLifecycle]] store trained on the corpus) must equal the batch
  * `q_bpe_encode` rows exactly; replay must be idempotent; OOV words in
  * new documents must fall back to character pieces rather than
  * vanish. */
class StreamingEncodeSpec extends SparkSpec {
  import spark.implicits._

  private val encD = "/tmp/graft_senc_idx"
  private val storeD = "/tmp/graft_senc_bpe_store"

  private def cleanup(): Unit = {
    val p = new org.apache.hadoop.fs.Path(encD)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  /** The tokenizer the twin encodes with: one generation trained on the
    * corpus, read back as the (vocab, merges) pair. */
  private lazy val model = {
    val p = new org.apache.hadoop.fs.Path(storeD)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val g = Some(BpeLifecycle.retrain(graft.Tables.documents(spark, sf0001), storeD))
    (BpeLifecycle.at(storeD).read(spark, "vocab", g),
      BpeLifecycle.merges(spark, storeD, g))
  }

  test("out-of-order streamed encode equals the batch q_bpe_encode") {
    cleanup()
    val (vocab, merges) = model
    val docs = graft.Tables.documents(spark, sf0001)
      .select("doc_id", "text")
    // two out-of-order batches covering the corpus
    TokenizeStreams.encodeBatch(
      docs.filter(col("doc_id") >= 250), 0L, vocab, merges, encD)
    TokenizeStreams.encodeBatch(
      docs.filter(col("doc_id") < 250), 1L, vocab, merges, encD)
    val got = TokenizeStreams.encoded(spark, encD)
    val want = ChunkingQueries.bpeEncode.run(spark, sf0001)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "streamed encode diverges from the batch pass")

    // replay idempotence
    TokenizeStreams.encodeBatch(
      docs.filter(col("doc_id") >= 250), 0L, vocab, merges, encD)
    val again = TokenizeStreams.encoded(spark, encD)
    assert(again.exceptAll(want).isEmpty && want.exceptAll(again).isEmpty,
      "replayed batch changed the encoded corpus")
  }

  test("a doc fetched twice in one batch encodes once, deterministically") {
    cleanup()
    val (vocab, merges) = model
    val short = "plain words here"
    val long = "plain words here and there"
    TokenizeStreams.encodeBatch(
      Seq((7L, short), (7L, long)).toDF("doc_id", "text"),
      0L, vocab, merges, encD)
    val rows = TokenizeStreams.encoded(spark, encD).collect()
    assert(rows.length == 1, "same-batch re-fetch produced multiple rows")
    // the deterministic winner (longest text) encodes exactly as if it
    // had arrived alone — no interleaving, no doubled token counts
    val refD = s"$encD-ref"
    val rp = new org.apache.hadoop.fs.Path(refD)
    rp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(rp, true)
    TokenizeStreams.encodeBatch(
      Seq((7L, long)).toDF("doc_id", "text"), 0L, vocab, merges, refD)
    val want = TokenizeStreams.encoded(spark, refD).collect()(0)
    assert(rows(0).getLong(1) == want.getLong(1) &&
      rows(0).getString(2) == want.getString(2),
      "same-batch duplicate garbled the surviving encoding")
  }

  test("OOV words segment by the trained merges, never dropped") {
    cleanup()
    val (vocab, merges) = model
    assert(merges.nonEmpty)
    // a fully-novel word degrades to characters
    TokenizeStreams.encodeBatch(
      Seq((999999L, "zqxzqxzq")).toDF("doc_id", "text"),
      5L, vocab, merges, encD)
    val novel = TokenizeStreams.encoded(spark, encD)
      .filter(col("doc_id") === 999999L).collect()
    assert(novel.length == 1)
    assert(novel(0).getLong(1) == 8L &&
      novel(0).getString(2) == "z q x z q x z q",
      s"novel word must degrade to characters, got '${novel(0).getString(2)}'")

    // an OOV word CONTAINING a learned pair compresses exactly as the
    // tokenizer would: the merged symbol appears as one token
    val (pa, pb) = merges.head
    val word = s"zqx$pa${pb}zqx" // rare affixes keep it out of the vocab
    assert(vocab.filter(col("w") === word).count() == 0, "fixture word not OOV")
    TokenizeStreams.encodeBatch(
      Seq((999998L, word)).toDF("doc_id", "text"), 6L, vocab, merges, encD)
    val row = TokenizeStreams.encoded(spark, encD)
      .filter(col("doc_id") === 999998L).collect()(0)
    val toks = row.getString(2).split(" ")
    // the merged symbol survives as one token (possibly extended by a
    // LATER learned merge absorbing a neighbor — still one token)
    assert(toks.exists(_.contains(pa + pb)),
      s"learned merge '$pa$pb' not applied to OOV word: ${row.getString(2)}")
    assert(row.getLong(1) < word.length,
      "OOV word with learned pairs must compress below char length")
  }

  test("encodeStream trains the next store generation once at start and " +
       "encodes arrivals under it") {
    cleanup()
    val streamStore = s"$storeD-stream"
    val p = new org.apache.hadoop.fs.Path(streamStore)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    val arrivals = graft.Tables.documents(spark, sf0001)
      .filter(col("doc_id") < 40).select("doc_id", "text")
      .as[(Long, String)].collect().toSeq
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = TokenizeStreams.encodeStream(mem.toDF().toDF("doc_id", "text"),
      sf0001, streamStore, encD).start()
    try {
      mem.addData(arrivals.take(20)); q.processAllAvailable()
      mem.addData(arrivals.drop(20)); q.processAllAvailable()
    } finally q.stop()
    assert(BpeLifecycle.at(streamStore).committed(spark) == 1,
      "the stream must train exactly one generation, at start")
    val refD = s"$encD-ref"
    val rp = new org.apache.hadoop.fs.Path(refD)
    rp.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(rp, true)
    val (vocab, merges) = model
    TokenizeStreams.encodeBatch(arrivals.toDF("doc_id", "text"), 0L,
      vocab, merges, refD)
    val got = TokenizeStreams.encoded(spark, encD)
    val want = TokenizeStreams.encoded(spark, refD)
    assert(got.count() == arrivals.size &&
      got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "streamed encode under the trained generation diverges")
  }
}
