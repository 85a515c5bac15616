package graft.streaming

import graft.{SparkSpec, Tables}
import graft.operators.ResolutionQueries
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col

/** Stream/batch parity for entity resolution: customer records arriving
  * in micro-batches through [[ResolutionStreams.linkageStream]] must
  * accumulate EXACTLY the `q_er_multiblock` pair set — BOTH blocking
  * passes (demographic + name suffix), including pairs whose two
  * records arrived in different micro-batches — and replaying a
  * micro-batch (restart recovery) must change no table. There is no
  * keep/drop decision in linkage, so parity is exact by construction
  * (below the batch hot-block cap, which this corpus sits under). */
class StreamingLinkageSpec extends SparkSpec {
  import spark.implicits._

  private val custT = "sl_cust"
  private val pairT = "sl_pairs"
  private val blkD = "/tmp/graft_sl_blocks"

  private def cleanup(): Unit = {
    Seq(custT, pairT, s"${custT}_upsert_staging", s"${pairT}_upsert_staging")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    Seq(blkD, corpusDir).foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  private def pairKey(r: org.apache.spark.sql.Row) =
    (r.getLong(0), r.getLong(1), r.getAs[Number](2).intValue)

  /** sf0.001 customers + synthetic records whose lev≤2 partners share
    * only the name SUFFIX (differing digit early in the number, nations
    * apart) — at this SF the natural numbers differ only in their last
    * 3 digits, so the suffix pass would otherwise sit idle. */
  private val corpusDir = "/tmp/graft_sl_corpus"

  private def writeCorpus(): Unit = {
    val synthetic = Seq(
      (9001L, "Customer#000917777", 1, "AUTOMOBILE"),
      (9002L, "Customer#000927777", 2, "BUILDING"),   // lev 1 vs 9001, sfx 777
      (9003L, "Customer#000816666", 3, "FURNITURE"),
      (9004L, "Customer#000836666", 4, "HOUSEHOLD"),  // lev 1 vs 9003, sfx 666
      (9005L, "Customer#000745555", 5, "MACHINERY"),
      (9006L, "Customer#000785555", 6, "AUTOMOBILE")) // lev 1 vs 9005, sfx 555
      .toDF("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
    Tables.customer(spark, sf0001)
      .select("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
      .unionByName(synthetic)
      .asSfTable("customer")
      .write.mode("overwrite").parquet(s"$corpusDir/customer.parquet")
  }

  test("micro-batched linkage accumulates the batch multiblock pair set") {
    cleanup()
    writeCorpus()
    val cust = Tables.customer(spark, corpusDir)
      .select("c_custkey", "c_name", "c_nationkey", "c_mktsegment")

    val expected = ResolutionQueries.multiBlock.run(spark, corpusDir)
      .collect().map(pairKey).toSet
    val demographicOnly = ResolutionQueries.matchPairs(spark, corpusDir, None)
      .collect().map(pairKey).toSet
    assert(expected.nonEmpty, "the corpus should produce fuzzy matches")
    assert((expected -- demographicOnly).nonEmpty,
      "the suffix pass should add matches the demographic key misses — " +
        "otherwise this parity test does not exercise it")

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String, Int, String)]
    val q = ResolutionStreams.linkageStream(
      mem.toDF().toDF("c_custkey", "c_name", "c_nationkey", "c_mktsegment"),
      custT, pairT, blkD, buckets = 4).start()
    val all = cust.as[(Long, String, Int, String)].collect()
    val chunks = all.groupBy(_._1 % 3).toSeq.sortBy(_._1).map(_._2)
    try {
      chunks.foreach { c => mem.addData(c.toIndexedSeq); q.processAllAvailable() }

      val got = spark.table(pairT).select("cust_a", "cust_b", "dist")
        .collect().map(pairKey).toSet
      assert(got == expected,
        s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
      assert(spark.table(custT).count() == all.length,
        "record table should hold every streamed record exactly once")
      // the stored block index covers every record exactly once PER PASS
      val blocks = spark.read.parquet(blkD)
      assert(blocks.count() == 2L * all.length)
      assert(blocks.select("cust_id").distinct().count() == all.length)
      assert(blocks.filter(org.apache.spark.sql.functions.col("blk")
        .startsWith("s|")).count() == all.length)

      // replay the last micro-batch with ITS batch id (what a restarted
      // stream re-applies): keyed merges and the per-batch block
      // partition are idempotent — nothing moves
      val before = (spark.table(pairT).collect().map(pairKey).toSet,
        spark.table(custT).count(), spark.read.parquet(blkD).count())
      ResolutionStreams.processBatch(
        chunks.last.toIndexedSeq
          .toDF("c_custkey", "c_name", "c_nationkey", "c_mktsegment"),
        batchId = chunks.size - 1L, custT, pairT, blkD, buckets = 4)
      val after = (spark.table(pairT).collect().map(pairKey).toSet,
        spark.table(custT).count(), spark.read.parquet(blkD).count())
      assert(after == before, "replaying a batch must be a no-op")
    } finally {
      q.stop()
      cleanup()
    }
  }

  test("cross-batch re-ingest of a known record fails the new-records " +
    "contract loudly") {
    cleanup()
    writeCorpus()
    val cust = Tables.customer(spark, corpusDir)
      .select("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
    try {
      ResolutionStreams.processBatch(cust.filter(col("c_custkey") < 50),
        batchId = 0L, custT, pairT, blkD, buckets = 4)
      // a renamed customer re-ingested later would leave stale match
      // pairs serving and stale block rows — the twin must refuse
      // (r13 verdict item 7)
      val reingest = Seq((5L, "Customer#000000005x", 1, "BUILDING"))
        .toDF("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
      val e = intercept[IllegalArgumentException] {
        ResolutionStreams.processBatch(reingest, batchId = 1L,
          custT, pairT, blkD, buckets = 4)
      }
      assert(e.getMessage.contains("re-ingests"), e.getMessage)
    } finally cleanup()
  }
}
