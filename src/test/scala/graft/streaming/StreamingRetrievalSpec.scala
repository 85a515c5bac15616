package graft.streaming

import graft.{SparkSpec, Tables}
import graft.operators.SimilarityQueries
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Streaming two-stage retrieval parity: query vectors streamed through
  * [[RetrievalStreams.rerankStream]] must accumulate EXACTLY the batch
  * `q_ann_rerank` results for those queries (deterministic prefix
  * shortlist + exact rescore), on any arrival split, and replaying a
  * micro-batch must change nothing. */
class StreamingRetrievalSpec extends SparkSpec {
  import spark.implicits._

  private val resultT = "rerank_stream_results"

  private def cleanup(): Unit =
    Seq(resultT, s"${resultT}_upsert_staging")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))

  private def key(r: org.apache.spark.sql.Row) =
    (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3))

  test("streamed reranks accumulate the batch two-stage answers exactly") {
    cleanup()
    val expected = SimilarityQueries.rerankTopK.run(spark, sf0001)
      .select("query_id", "neighbor_id", "rank", "cosine")
      .collect().map(key).toSet
    assert(expected.size == 50, "premise: 10 queries x top-5")

    val queries = Tables.embeddings(spark, sf0001)
      .filter(col("vec_id") < 10)
      .select(col("vec_id").as("query_id"), col("embedding"))
      .as[(Long, Array[Float])].collect()
    // out-of-order arrival: late ids first
    val (batch1, batch2) = queries.partition(_._1 >= 5)

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Array[Float])]
    val q = RetrievalStreams.rerankStream(
      mem.toDF().toDF("query_id", "embedding"), sf0001, resultT, buckets = 4)
      .start()
    try {
      mem.addData(batch1.toIndexedSeq); q.processAllAvailable()
      mem.addData(batch2.toIndexedSeq); q.processAllAvailable()
      val got = spark.table(resultT).collect().map(key).toSet
      assert(got == expected,
        s"missing=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")

      // replay a micro-batch (same batch id): the keyed merge must not
      // move
      RetrievalStreams.processBatch(
        batch1.toIndexedSeq.toDF("query_id", "embedding"), 0L, sf0001,
        resultT, buckets = 4)
      assert(spark.table(resultT).collect().map(key).toSet == expected,
        "replayed micro-batch changed the results table")
    } finally { q.stop(); cleanup() }
  }

  test("same-batch duplicate query_ids collapse; a re-streamed query " +
    "with a changed embedding supersedes wholesale") {
    cleanup()
    try {
      val vecs = Tables.embeddings(spark, sf0001)
        .filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("embedding"))
        .as[(Long, Array[Float])].collect().toMap
      // batch 0: query 0 carried TWICE — once with its true vector,
      // once with query 5's (the at-least-once duplicate with a
      // conflicting payload); the deterministic winner is the row with
      // the greater embedding hash
      val winner =
        Seq(vecs(0L), vecs(5L)).maxBy(e =>
          Seq((0L, e)).toDF("query_id", "embedding")
            .select(xxhash64(col("embedding"))).head().getLong(0))
      RetrievalStreams.processBatch(
        Seq((0L, vecs(0L)), (0L, vecs(5L))).toDF("query_id", "embedding"),
        0L, sf0001, resultT, buckets = 4)
      val r0 = spark.table(resultT).collect()
      assert(r0.length == 5, s"dup query must yield ONE top-5: ${r0.length}")
      assert(r0.map(_.getInt(2)).sorted.toSeq == (1 to 5),
        "ranks must be 1..5, never k copies of one neighbor")
      val expectWinner = SimilarityQueries.rerankSearch(spark, sf0001,
          Seq((0L, winner)).toDF("query_id", "embedding"))
        .collect().map(key).toSet
      assert(r0.map(key).toSet == expectWinner,
        "the deterministic duplicate winner's answer must be stored")

      // batch 1: query 0 re-streamed with a DIFFERENT embedding — the
      // stored rows must equal the new batch answer exactly, never a
      // per-rank mix of generations
      val e2 = vecs(7L)
      RetrievalStreams.processBatch(
        Seq((0L, e2)).toDF("query_id", "embedding"),
        1L, sf0001, resultT, buckets = 4)
      val want = SimilarityQueries.rerankSearch(spark, sf0001,
          Seq((0L, e2)).toDF("query_id", "embedding"))
        .collect().map(key).toSet
      val got = spark.table(resultT).collect().map(key).toSet
      assert(got == want,
        s"superseded results leaked: missing=${want -- got} extra=${got -- want}")
    } finally cleanup()
  }

  test("a re-streamed query over a SHRUNKEN corpus supersedes wholesale " +
    "(old ranks beyond the new count die)") {
    cleanup()
    // rerank returns min(k, |corpus|) rows per query; delete propagation
    // can shrink the corpus between generations, so a re-streamed query
    // can return FEWER ranks than its old generation wrote — scope
    // ownership must evict them (r13 verdict item 7)
    val corpusDir = "/tmp/graft_srr_corpus"
    val p = new org.apache.hadoop.fs.Path(corpusDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      val base = Tables.embeddings(spark, sf0001)
        .filter(col("vec_id") < 5).select("vec_id", "embedding").asSfTable("embeddings")
      base.write.mode("overwrite").parquet(s"$corpusDir/embeddings.parquet")
      val query = Tables.embeddings(spark, sf0001)
        .filter(col("vec_id") === 100)
        .select(col("vec_id").as("query_id"), col("embedding"))
      RetrievalStreams.processBatch(query, 0L, corpusDir, resultT,
        k = 5, buckets = 4)
      assert(spark.table(resultT).count() == 5,
        "premise: 5-vector corpus serves k=5 rows")
      // the corpus shrinks (three vectors deleted), the query re-streams
      base.filter(col("vec_id") < 2)
        .write.mode("overwrite").parquet(s"$corpusDir/embeddings.parquet")
      RetrievalStreams.processBatch(query, 1L, corpusDir, resultT,
        k = 5, buckets = 4)
      val served = spark.table(resultT).select("rank", "_gen").collect()
      assert(served.length == 2,
        s"mixed-generation surface: ${served.length} rows served, want 2")
      assert(served.forall(_.getLong(1) == 1L),
        "a row from the superseded generation survived the shrink")
    } finally { fs.delete(p, true); cleanup() }
  }
}
