package graft.streaming

import graft.{SparkSpec, Tables}
import graft.operators.{IvfLifecycle, IvfQuantizer}
import graft.sources.GenerationedTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The IVF drift → retrain lifecycle (round-7 verdict item 4):
  * generationed centroid store with pinned-reader isolation, the drift
  * gauge driving the retrain decision, and the streaming assigner
  * switching generations at the batch boundary — with the new
  * generation's streamed assignments equal to a batch rebuild. */
class RetrainLifecycleSpec extends SparkSpec {
  import spark.implicits._

  private val store = "/tmp/graft_retrain_store"
  private val asnD = "/tmp/graft_retrain_asn"
  private val vecT = "rls_vecs"
  private val pairT = "rls_pairs"

  private def cleanup(): Unit = {
    Seq(vecT, pairT, s"${vecT}_upsert_staging", s"${pairT}_upsert_staging")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    Seq(store, asnD).foreach { d =>
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    }
  }

  private def vecs: DataFrame =
    Tables.embeddings(spark, sf0001).select("vec_id", "embedding")

  /** The same corpus drifted: every component shifted by +2.0, far from
    * any centroid trained on the originals. */
  private def drifted: DataFrame =
    vecs.select(col("vec_id"),
      transform(col("embedding"), x => x + lit(2.0f)).as("embedding"))

  private def centKey(df: DataFrame) =
    df.select("cell", "dim", "cval").collect()
      .map(r => (r.getAs[Number](0).longValue, r.getAs[Number](1).longValue,
                 r.getAs[Number](2).longValue)).toSet

  private def asnKey(df: DataFrame) =
    df.select("vec_id", "cell").collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).longValue)).toSet

  test("a retrain lands a NEW generation; pinned readers are undisturbed") {
    cleanup()
    val g1 = IvfLifecycle.retrain(vecs, k = 8, iters = 2, store)
    assert(g1 == 1)
    val pinned = centKey(
      GenerationedTable.read(spark, IvfLifecycle.at(store).dir("centroids"), Some(1)))
    val g2 = IvfLifecycle.retrain(drifted, k = 8, iters = 2, store)
    assert(g2 == 2)
    // the pinned generation's bytes are exactly what they were
    assert(centKey(GenerationedTable.read(
      spark, IvfLifecycle.at(store).dir("centroids"), Some(1))) == pinned)
    // the pointer moved; the new generation differs
    assert(GenerationedTable.latest(
      spark, IvfLifecycle.at(store).dir("centroids")).contains(2))
    assert(centKey(GenerationedTable.read(
      spark, IvfLifecycle.at(store).dir("centroids"))) != pinned)
    // both generations carry their training-time baseline
    assert(IvfLifecycle.baselineStats(spark, store, 1).nVectors == vecs.count())
    assert(IvfLifecycle.baselineStats(spark, store, 2).nVectors == vecs.count())
  }

  test("the drift gauge: quiet corpus serves, drifted corpus retrains") {
    cleanup()
    IvfLifecycle.retrain(vecs, k = 8, iters = 2, store)
    // same corpus as training: stats equal the baseline, no retrain
    val (quiet, noGen) = IvfLifecycle.maybeRetrain(vecs, 8, 2, store)
    assert(!quiet.retrain && noGen.isEmpty && quiet.reasons.isEmpty)
    assert(quiet.current.meanDist == quiet.baseline.meanDist)
    // drifted corpus: mean assigned distance blows past 1.5x baseline
    val (dec, newGen) = IvfLifecycle.maybeRetrain(drifted, 8, 2, store)
    assert(dec.retrain, s"expected drift verdict, got $dec")
    assert(dec.reasons.exists(_.contains("mean assigned distance")))
    assert(newGen.contains(2))
    // after the retrain the drifted corpus IS the baseline: gauge quiets
    val (after, none2) = IvfLifecycle.maybeRetrain(drifted, 8, 2, store)
    assert(!after.retrain && none2.isEmpty)
  }

  test("cell-imbalance alone triggers the gauge") {
    cleanup()
    IvfLifecycle.retrain(vecs, k = 8, iters = 2, store)
    // a degenerate corpus: every vector identical -> one cell holds 100%
    val one = vecs.limit(1).select("embedding").collect().head
      .getAs[scala.collection.Seq[Float]](0).toArray
    val degenerate = spark.range(500).select(
      col("id").as("vec_id"),
      typedLit(one).as("embedding"))
    val d = IvfLifecycle.driftCheck(degenerate, store, distRatio = 1e18)
    assert(d.retrain && d.reasons.exists(_.contains("largest cell")))
    assert(d.current.maxCellShare == 1.0)
  }

  test("a crash between the stats and centroid writes leaves the store " +
       "recoverable: the orphan stats generation is overwritten, not wedged") {
    cleanup()
    IvfLifecycle.retrain(vecs, k = 8, iters = 2, store)
    // simulate the crash window: stats gen 2 committed, centroids not —
    // the exact state the stats-first write order can leave behind
    val orphan = Seq((0L, 0.0, 0.0, 0L))
      .toDF("n_vectors", "mean_dist", "max_cell_share", "live_cells")
    GenerationedTable.writeAs(orphan, IvfLifecycle.at(store).dir("stats"), 2)
    // readers resolve via the CENTROID pointer: still generation 1
    assert(GenerationedTable.latest(
      spark, IvfLifecycle.at(store).dir("centroids")).contains(1))
    assert(IvfLifecycle.driftCheck(vecs, store).generation == 1)
    // the next retrain re-derives gen 2 from the centroid dir and
    // overwrites the orphan — no require-mismatch, no wedge
    val g2 = IvfLifecycle.retrain(drifted, k = 8, iters = 2, store)
    assert(g2 == 2)
    assert(IvfLifecycle.baselineStats(spark, store, 2).nVectors == vecs.count())
    assert(IvfLifecycle.driftCheck(drifted, store).generation == 2)
    cleanup()
  }

  test("driftStats refuses an empty corpus with a descriptive error") {
    cleanup()
    IvfLifecycle.retrain(vecs, k = 8, iters = 2, store)
    val e = intercept[IllegalArgumentException] {
      IvfLifecycle.driftCheck(vecs.filter(col("vec_id") < 0), store)
    }
    assert(e.getMessage.contains("empty corpus"))
    cleanup()
  }

  test("a partial boundary seed write (no completion marker) is rerun, " +
       "not mistaken for done") {
    cleanup()
    val all = vecs.as[(Long, Array[Float])].collect()
    val chunks = all.groupBy(_._1 % 2).toSeq.sortBy(_._1).map(_._2)
    def chunkDf(i: Int) = chunks(i).toIndexedSeq.toDF("vec_id", "embedding")
    IvfLifecycle.retrain(chunkDf(0), k = 8, iters = 2, store)
    SemanticStreams.processBatchGenerationed(chunkDf(0), 0L, store,
      vecT, pairT, asnD, buckets = 4)
    IvfLifecycle.retrain(chunkDf(0), k = 8, iters = 2, store) // gen 2
    // simulate a crash mid-seed: gen-2 dir exists with a PARTIAL slice
    // (only half the accumulated corpus reassigned) and no marker
    val gen2Cent = GenerationedTable.read(
      spark, IvfLifecycle.at(store).dir("centroids"), Some(2))
    IvfQuantizer.assignVectors(
        chunkDf(0).limit(chunks(0).length / 2), gen2Cent)
      .write.mode("overwrite")
      .parquet(s"${SemanticStreams.asnGenDir(asnD, 2)}/ingest_batch=-1")
    // the replayed boundary batch must rerun the seed overwrite: the
    // old dir-existence gate would have adopted the partial slice
    SemanticStreams.processBatchGenerationed(chunkDf(1), 1L, store,
      vecT, pairT, asnD, buckets = 4)
    val gen2Asn = spark.read.parquet(SemanticStreams.asnGenDir(asnD, 2))
    assert(asnKey(gen2Asn) == asnKey(IvfQuantizer.assignVectors(
      chunkDf(0).unionByName(chunkDf(1)), gen2Cent)),
      "generation-2 index must cover the FULL accumulated corpus")
    cleanup()
  }

  test("streamed assignments switch generations at the batch boundary " +
       "and equal a batch rebuild on the new generation") {
    cleanup()
    val all = vecs.as[(Long, Array[Float])].collect()
    val chunks = all.groupBy(_._1 % 4).toSeq.sortBy(_._1).map(_._2)
    def chunkDf(i: Int) = chunks(i).toIndexedSeq.toDF("vec_id", "embedding")

    // generation 1: train on the first chunk (the corpus known at t0)
    IvfLifecycle.retrain(chunkDf(0), k = 8, iters = 2, store)
    SemanticStreams.processBatchGenerationed(chunkDf(0), 0L, store,
      vecT, pairT, asnD, buckets = 4)
    SemanticStreams.processBatchGenerationed(chunkDf(1), 1L, store,
      vecT, pairT, asnD, buckets = 4)
    val gen1Cent = GenerationedTable.read(
      spark, IvfLifecycle.at(store).dir("centroids"), Some(1))
    val gen1Slice = asnKey(
      spark.read.parquet(SemanticStreams.asnGenDir(asnD, 1)))
    // sanity: gen-1 slice is the gen-1 batch assignment of chunks 0+1
    assert(gen1Slice == asnKey(IvfQuantizer.assignVectors(
      chunkDf(0).unionByName(chunkDf(1)), gen1Cent)))

    // drift: retrain into generation 2 (forced — the gauge is tested
    // above; here the subject is the boundary switch)
    IvfLifecycle.retrain(
      chunkDf(0).unionByName(chunkDf(1)), k = 8, iters = 2, store)

    // batches 2 and 3 arrive under the new generation
    SemanticStreams.processBatchGenerationed(chunkDf(2), 2L, store,
      vecT, pairT, asnD, buckets = 4)
    SemanticStreams.processBatchGenerationed(chunkDf(3), 3L, store,
      vecT, pairT, asnD, buckets = 4)

    val gen2Cent = GenerationedTable.read(
      spark, IvfLifecycle.at(store).dir("centroids"), Some(2))
    val allDf = (0 to 3).map(chunkDf).reduce(_ unionByName _)
    // the new generation's index == a from-scratch batch rebuild: the
    // boundary reassigned chunks 0-1, the stream assigned chunks 2-3
    val gen2Asn = spark.read.parquet(SemanticStreams.asnGenDir(asnD, 2))
    assert(asnKey(gen2Asn) == asnKey(
      IvfQuantizer.assignVectors(allDf, gen2Cent)))
    assert(gen2Asn.select("vec_id").distinct().count() == all.length,
      "every vector assigned exactly once in the new generation")
    // the old generation's slice is untouched (pinned-reader isolation)
    assert(asnKey(spark.read.parquet(
      SemanticStreams.asnGenDir(asnD, 1))) == gen1Slice)

    // replaying the boundary batch (restart recovery) moves nothing
    val pairsBefore = spark.table(pairT).count()
    SemanticStreams.processBatchGenerationed(chunkDf(2), 2L, store,
      vecT, pairT, asnD, buckets = 4)
    assert(asnKey(spark.read.parquet(
      SemanticStreams.asnGenDir(asnD, 2))) == asnKey(
      IvfQuantizer.assignVectors(allDf, gen2Cent)))
    assert(spark.table(pairT).count() == pairsBefore)
    cleanup()
  }
}
