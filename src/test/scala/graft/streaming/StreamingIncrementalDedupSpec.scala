package graft.streaming

import graft.{SparkSpec, Tables}
import graft.operators.DedupQueries
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Stream/batch parity for incremental dedup: documents arriving in
  * micro-batches through [[DedupStreams.incrementalDedupStream]] must
  * accumulate EXACTLY the delta-touching slice of the full batch pair
  * set (the `q_dedup_incremental` contract), including pairs BETWEEN
  * delta docs that arrived in different micro-batches — the stream
  * pairs against the PERSISTED band index, never re-shingling the
  * corpus — and replaying a micro-batch (restart recovery) must change
  * no table. */
class StreamingIncrementalDedupSpec extends SparkSpec {
  import spark.implicits._

  private val corpusT = "sid_corpus"
  private val pairT = "sid_pairs"
  private val bandD = "/tmp/graft_sid_bands"

  private def cleanup(): Unit = {
    Seq(corpusT, pairT, s"${corpusT}_upsert_staging", s"${pairT}_upsert_staging")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    val p = new org.apache.hadoop.fs.Path(bandD)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  private def pairKey(r: org.apache.spark.sql.Row) =
    (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))

  test("micro-batched dedup accumulates the batch delta-touching pair set") {
    cleanup()
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")

    // the existing corpus: everything outside the delta slice
    DedupStreams.seedCorpus(
      spark, docs.filter(col("doc_id") % 10 =!= 7), corpusT, bandD, buckets = 4)

    // expected: the full batch run filtered to delta-touching pairs —
    // the same oracle IncrementalDedupSpec pins for the batch plan
    val sh = DedupQueries.lshShingles(spark, sf0001).cache()
    val expected =
      try DedupQueries.lshIncrementalFrom(sh, col("doc_id") % 10 === 7)
        .select("doc_a", "doc_b", "nbands", "jaccard")
        .collect().map(pairKey).toSet
      finally sh.unpersist()
    assert(expected.nonEmpty, "sf0.001 should produce delta-touching pairs")

    // stream the delta in two micro-batches split by doc_id % 20, so
    // cross-batch delta-delta pairs exercise the stored-index growth
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    val q = DedupStreams.incrementalDedupStream(
      mem.toDF().toDF("doc_id", "text"), corpusT, pairT, bandD, buckets = 4)
      .start()
    val delta = docs.filter(col("doc_id") % 10 === 7)
      .as[(Long, String)].collect()
    val (chunk1, chunk2) = delta.partition(_._1 % 20 == 7)
    try {
      mem.addData(chunk1.toIndexedSeq); q.processAllAvailable()
      mem.addData(chunk2.toIndexedSeq); q.processAllAvailable()

      val got = spark.table(pairT).collect().map(pairKey).toSet
      assert(got == expected,
        s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
      assert(spark.table(corpusT).count() == docs.count(),
        "corpus table should hold base + every streamed doc exactly once")
      // the stored band index covers every document exactly once
      // (8 band rows each: seed partition + one per micro-batch)
      val bands = spark.read.parquet(bandD)
      assert(bands.count() == docs.count() * 8)
      assert(bands.select("doc_id").distinct().count() == docs.count())

      // replay the second micro-batch with ITS batch id (what a
      // restarted stream re-applies): keyed merges and the per-batch
      // band partition are idempotent — nothing moves
      DedupStreams.processBatch(
        chunk2.toIndexedSeq.toDF("doc_id", "text"), batchId = 1L,
        corpusT, pairT, bandD, buckets = 4)
      assert(spark.table(pairT).collect().map(pairKey).toSet == expected,
        "replayed micro-batch changed the pair table")
      assert(spark.table(corpusT).count() == docs.count(),
        "replayed micro-batch changed the corpus table")
      assert(spark.read.parquet(bandD).count() == docs.count() * 8,
        "replayed micro-batch changed the band index")
    } finally { q.stop(); cleanup() }
  }

  test("cross-batch re-ingest of a known doc fails the new-records " +
    "contract loudly") {
    cleanup()
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    DedupStreams.seedCorpus(
      spark, docs.filter(col("doc_id") < 20), corpusT, bandD, buckets = 4)
    try {
      // a changed-text re-ingest would leave the old pairs serving and
      // stale band rows in older partitions — the twin must refuse,
      // not silently mix generations (r13 verdict item 7)
      val reingest = Seq((5L, "changed text entirely")).toDF("doc_id", "text")
      val e = intercept[IllegalArgumentException] {
        DedupStreams.processBatch(reingest, batchId = 0L,
          corpusT, pairT, bandD, buckets = 4)
      }
      assert(e.getMessage.contains("re-ingests"), e.getMessage)
    } finally cleanup()
  }

  test("the bloom id ledger accelerates fresh batches and never waves a " +
    "re-ingest through") {
    cleanup()
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    val fs = new org.apache.hadoop.fs.Path(bandD)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ledger = new org.apache.hadoop.fs.Path(s"$bandD/_INGEST_BLOOM")
    try {
      // batch 0 of fresh docs: the ledger materializes beside the index
      DedupStreams.processBatch(docs.filter(col("doc_id") < 20),
        batchId = 0L, corpusT, pairT, bandD, buckets = 4)
      assert(fs.exists(ledger), "ledger not written")
      // a ledger-era re-ingest must still fail (bloom hit → exact scan)
      val reingest = Seq((5L, "changed")).toDF("doc_id", "text")
      val e = intercept[IllegalArgumentException] {
        DedupStreams.processBatch(reingest, batchId = 1L,
          corpusT, pairT, bandD, buckets = 4)
      }
      assert(e.getMessage.contains("re-ingests"), e.getMessage)
      // a lost/corrupt ledger degrades to the exact scan, never to a
      // missed re-ingest, and is rebuilt on the next passing batch
      fs.delete(ledger, true)
      val e2 = intercept[IllegalArgumentException] {
        DedupStreams.processBatch(reingest, batchId = 1L,
          corpusT, pairT, bandD, buckets = 4)
      }
      assert(e2.getMessage.contains("re-ingests"), e2.getMessage)
      // fresh ids keep flowing and re-seed the ledger
      DedupStreams.processBatch(
        docs.filter(col("doc_id") >= 20 && col("doc_id") < 40),
        batchId = 1L, corpusT, pairT, bandD, buckets = 4)
      assert(fs.exists(ledger), "ledger not rebuilt")
      // the rebuilt ledger covers PRE-ledger ids too (superset of the
      // stored index, not just of batches that ran with a ledger)
      val e3 = intercept[IllegalArgumentException] {
        DedupStreams.processBatch(reingest, batchId = 2L,
          corpusT, pairT, bandD, buckets = 4)
      }
      assert(e3.getMessage.contains("re-ingests"), e3.getMessage)
      // seeding bypasses checkAndRecord and so must DROP the ledger —
      // otherwise a re-ingest of a seeded id would bloom-miss and be
      // waved through silently
      DedupStreams.seedCorpus(spark,
        docs.filter(col("doc_id") >= 40 && col("doc_id") < 60),
        corpusT, bandD, buckets = 4)
      assert(!fs.exists(ledger), "seed write must invalidate the ledger")
      // crash-ordering (r14 advice item 1): the drop happens BEFORE the
      // seed writes, so a seed that dies mid-write leaves NO stale
      // ledger behind (absent is always safe; stale is not). Simulate
      // the crash with a frame that fails analysis inside seedCorpus.
      DedupStreams.processBatch(
        Seq((9000L, "fresh doc")).toDF("doc_id", "text"), batchId = 3L,
        corpusT, pairT, bandD, buckets = 4)
      assert(fs.exists(ledger), "batch should have rebuilt the ledger")
      intercept[Exception] {
        DedupStreams.seedCorpus(spark,
          Seq(Tuple1(99L)).toDF("doc_id"), // no text column → seed dies
          corpusT, bandD, buckets = 4)
      }
      assert(!fs.exists(ledger),
        "a seed that crashes mid-write must have dropped the ledger first")
      val e4 = intercept[IllegalArgumentException] {
        DedupStreams.processBatch(
          Seq((45L, "changed")).toDF("doc_id", "text"), batchId = 2L,
          corpusT, pairT, bandD, buckets = 4)
      }
      assert(e4.getMessage.contains("re-ingests"), e4.getMessage)
    } finally cleanup()
  }

  test("degenerate ledgers (zero-row, malformed, saturated) degrade to " +
    "the exact scan, never to a waved-through re-ingest") {
    cleanup()
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    val fs = new org.apache.hadoop.fs.Path(bandD)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val ledger = s"$bandD/_INGEST_BLOOM"
    def reingest = Seq((5L, "changed")).toDF("doc_id", "text")
    def mustFail(batch: org.apache.spark.sql.DataFrame): Unit = {
      val e = intercept[IllegalArgumentException] {
        DedupStreams.processBatch(batch, batchId = 1L,
          corpusT, pairT, bandD, buckets = 4)
      }
      assert(e.getMessage.contains("re-ingests"), e.getMessage)
    }
    try {
      DedupStreams.processBatch(docs.filter(col("doc_id") < 20),
        batchId = 0L, corpusT, pairT, bandD, buckets = 4)
      // ZERO-ROW ledger: an empty probe result must read as "nothing to
      // test against" (ledger absent), not "no id ever ingested"
      spark.emptyDataFrame.select(lit(Array.emptyByteArray).as("sketch"))
        .limit(0).write.mode("overwrite").parquet(ledger)
      mustFail(reingest)
      // MALFORMED sketch bytes: treated as absent, exact path
      Seq(Tuple1(Array[Byte](1, 2, 3))).toDF("sketch")
        .write.mode("overwrite").parquet(ledger)
      mustFail(reingest)
      // SATURATED sketch (all ones, valid header): consulting it would
      // hit every batch — the check must go exact AND stop rewriting
      val saturated = IngestContract.serialize(
        IngestContract.emptyLedger(IngestContract.LedgerBits))
      java.util.Arrays.fill(saturated, 16, saturated.length, (-1).toByte)
      Seq(Tuple1(saturated)).toDF("sketch")
        .write.mode("overwrite").parquet(ledger)
      mustFail(reingest)
      val before = spark.read.parquet(ledger).head.getAs[Array[Byte]](0)
      DedupStreams.processBatch(
        docs.filter(col("doc_id") >= 20 && col("doc_id") < 30),
        batchId = 1L, corpusT, pairT, bandD, buckets = 4)
      val after = spark.read.parquet(ledger).head.getAs[Array[Byte]](0)
      assert(java.util.Arrays.equals(before, after),
        "a saturated ledger must not be rewritten every batch")
      // OLD-LAYOUT ledger ([bits:int][k:int][words], the format before
      // Spark's filter): not a valid sketch, so the exact path runs, and
      // the next passing batch rebuilds it in Spark's layout
      val bits = IngestContract.LedgerBits
      val old = java.nio.ByteBuffer.allocate(8 + (bits / 64) * 8)
      old.putInt(bits).putInt(5)
      Seq(Tuple1(old.array())).toDF("sketch")
        .write.mode("overwrite").parquet(ledger)
      mustFail(reingest)
      DedupStreams.processBatch(
        docs.filter(col("doc_id") >= 30 && col("doc_id") < 40),
        batchId = 2L, corpusT, pairT, bandD, buckets = 4)
      val rebuilt = org.apache.spark.util.sketch.BloomFilter.readFrom(
        spark.read.parquet(ledger).head.getAs[Array[Byte]](0))
      assert(rebuilt.isCompatible(IngestContract.emptyLedger(bits)),
        "old-layout ledger not rebuilt in the current layout")
      val ids = spark.read.parquet(bandD).select("doc_id").distinct()
        .select(xxhash64(col("doc_id").cast("string"))).as[Long].collect()
      assert(ids.nonEmpty)
      assert(ids.forall(rebuilt.mightContainLong),
        "rebuilt ledger misses an ingested id")
    } finally cleanup()
  }

  test("a first batch with no seeded corpus pairs only within itself") {
    cleanup()
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
      .filter(col("doc_id") < 40)
    try {
      DedupStreams.processBatch(docs, batchId = 0L, corpusT, pairT, bandD,
        buckets = 4)
      val sh = DedupQueries.shinglesOf(docs)
      val expected = DedupQueries.lshPairsFrom(sh)
        .select("doc_a", "doc_b", "nbands", "jaccard")
        .collect().map(pairKey).toSet
      assert(spark.table(pairT).collect().map(pairKey).toSet == expected)
      assert(spark.table(corpusT).count() == docs.count())
    } finally cleanup()
  }
}
