package graft.operators

import graft.{SparkSpec, Tables}
import graft.sources.GenerationedTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The binary-threshold drift → retrain-and-repack lifecycle (round-17
  * verdict item 5): generationed threshold/stats/codes store with
  * pinned-reader isolation, the bit-balance gauge driving the retrain
  * decision, and the repacked codes matching a fresh batch pack under
  * the new thresholds — plus the streaming packer consuming the new
  * generation at its next model load. */
class BinaryLifecycleSpec extends SparkSpec {

  private val store = "/tmp/graft_binary_retrain_store"

  private def cleanup(): Unit = {
    val p = new org.apache.hadoop.fs.Path(store)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  private def vecs: DataFrame =
    Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e"))

  /** The corpus after a distribution slide: every component shifted up
    * by 1.0 — most values cross the frozen midranges, bit balances
    * collapse toward 10⁶ ppm. NOTE: after a RETRAIN this produces the
    * same codes as the originals (midrange sign codes are invariant
    * under any per-dim monotone map — the thresholds slide with the
    * data), which is exactly why the gauge measures against the FROZEN
    * thresholds, not re-derived ones. */
  private def drifted: DataFrame =
    vecs.select(col("vec_id"),
      transform(col("e"), x => x + lit(1.0)).as("e"))

  /** A non-monotone drift (even dims negated): retrained codes GENUINELY
    * differ — the even dims' bits flip. */
  private def flipped: DataFrame =
    vecs.select(col("vec_id"),
      expr("transform(e, (x, i) -> IF(i % 2 = 0, -x, x))").as("e"))

  private def codeKey(df: DataFrame) =
    df.select("vec_id", "w0", "w1").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet

  test("retrain lands thresholds, baseline stats and a full repack " +
       "under one generation; pinned readers are undisturbed") {
    cleanup()
    val g1 = BinaryLifecycle.retrain(vecs, store)
    assert(g1 == 1)
    // the gen-1 codes equal a fresh batch pack under gen-1 thresholds
    val fresh = SimilarityQueries.packWords(vecs,
      SimilarityQueries.thresholdRowOf(
        BinaryLifecycle.at(store).read(spark, "thresholds", Some(1))))
    val pinned = codeKey(BinaryLifecycle.at(store).read(spark, "codes", Some(1)))
    assert(pinned == codeKey(fresh), "gen-1 codes != fresh pack")
    // ... and (thresholds being trained on this corpus) equal the
    // registered batch builder's artifact-backed table
    assert(pinned == codeKey(BinaryIndex.words(spark, sf0001)),
      "lifecycle gen-1 codes != idx_binary artifact")
    val g2 = BinaryLifecycle.retrain(flipped, store)
    assert(g2 == 2)
    // the pinned generation's bytes are exactly what they were
    assert(codeKey(BinaryLifecycle.at(store).read(spark, "codes", Some(1))) == pinned)
    // the pointer moved; the repacked generation differs
    assert(GenerationedTable.latest(
      spark, BinaryLifecycle.at(store).dir("codes")).contains(2))
    assert(codeKey(BinaryLifecycle.at(store).read(spark, "codes")) != pinned)
  }

  test("the drift gauge: quiet corpus serves, a distribution slide " +
       "retrains, and the new baseline quiets the gauge") {
    cleanup()
    BinaryLifecycle.retrain(vecs, store)
    // same corpus as training: balance equals baseline, no retrain
    val (quiet, noGen) = BinaryLifecycle.maybeRetrain(vecs, store)
    assert(!quiet.retrain && noGen.isEmpty && quiet.reasons.isEmpty,
      s"training corpus flagged as drifted: $quiet")
    assert(quiet.maxShiftPpm == 0 && quiet.darkDims == 0)
    // the slid corpus crosses the frozen thresholds nearly everywhere
    val (dec, newGen) = BinaryLifecycle.maybeRetrain(drifted, store)
    assert(dec.retrain, s"expected drift verdict, got $dec")
    assert(dec.reasons.exists(_.contains("bit balance moved")))
    assert(newGen.contains(2))
    // after the retrain the drifted corpus IS the baseline: gauge quiets
    val (after, none2) = BinaryLifecycle.maybeRetrain(drifted, store)
    assert(!after.retrain && none2.isEmpty)
    cleanup()
  }

  test("a dimension going DARK triggers the gauge even under a small " +
       "max shift threshold bypass") {
    cleanup()
    BinaryLifecycle.retrain(vecs, store)
    // push dim 0 only, far above its frozen threshold: one dark dim
    val oneDim = vecs.select(col("vec_id"),
      expr("transform(e, (x, i) -> IF(i = 0, x + 100.0D, x))").as("e"))
    val d = BinaryLifecycle.driftCheck(oneDim, store,
      shiftPpm = Long.MaxValue) // isolate the dark-dim trigger
    assert(d.retrain && d.reasons.exists(_.contains("went dark")), s"$d")
    assert(d.darkDims >= 1)
    cleanup()
  }

  test("a crash between the stats/codes and threshold writes leaves the " +
       "store recoverable: orphans are overwritten, not wedged") {
    cleanup()
    BinaryLifecycle.retrain(vecs, store)
    // simulate the crash window: stats+codes gen 2 committed,
    // thresholds (the pointer authority) not
    GenerationedTable.writeAs(
      BinaryLifecycle.at(store).read(spark, "codes", Some(1)).limit(1),
      BinaryLifecycle.at(store).dir("codes"), 2)
    assert(GenerationedTable.latest(
      spark, BinaryLifecycle.at(store).dir("thresholds")).contains(1))
    assert(BinaryLifecycle.driftCheck(vecs, store).generation == 1)
    // inside the crash window the codes dir's OWN pointer is already at
    // the orphan gen 2, but an UNPINNED codes()/stats() read resolves
    // the thresholds pointer (the single commit point) and still serves
    // the committed gen-1 pair — never mixed-generation
    assert(GenerationedTable.latest(
      spark, BinaryLifecycle.at(store).dir("codes")).contains(2))
    assert(BinaryLifecycle.at(store).committed(spark) == 1)
    assert(codeKey(BinaryLifecycle.at(store).read(spark, "codes")) ==
      codeKey(BinaryLifecycle.at(store).read(spark, "codes", Some(1))),
      "unpinned codes() read the orphan generation inside the crash window")
    assert(BinaryLifecycle.at(store).read(spark, "stats").count() ==
      BinaryLifecycle.at(store).read(spark, "stats", Some(1)).count())
    // the next retrain re-derives gen 2 from the thresholds dir and
    // overwrites the orphan — no wedge
    val g2 = BinaryLifecycle.retrain(drifted, store)
    assert(g2 == 2)
    assert(codeKey(BinaryLifecycle.at(store).read(spark, "codes", Some(2))) ==
      codeKey(SimilarityQueries.packWords(drifted,
        SimilarityQueries.thresholdRowOf(
          BinaryLifecycle.at(store).read(spark, "thresholds", Some(2))))))
    cleanup()
  }

  test("driftCheck refuses an empty corpus with a descriptive error") {
    cleanup()
    BinaryLifecycle.retrain(vecs, store)
    val e = intercept[IllegalArgumentException] {
      BinaryLifecycle.driftCheck(vecs.filter(col("vec_id") < 0), store)
    }
    assert(e.getMessage.contains("empty corpus"))
    cleanup()
  }

  test("the streaming packer consumes the new generation at its next " +
       "model load: post-retrain arrivals pack under the new thresholds") {
    cleanup()
    val g1 = BinaryLifecycle.retrain(vecs, store)
    // a CodeStreams-shaped frozen model from the pinned generation
    def modelOf(gen: Int) = graft.streaming.CodeStreams.ThresholdModel(
      SimilarityQueries.thresholdRowOf(
        BinaryLifecycle.at(store).read(spark, "thresholds", Some(gen))))
    val arrivals = drifted.limit(50)
      .select(col("vec_id"), col("e").as("embedding"))
    val outDir = s"$store/stream_codes"
    graft.streaming.CodeStreams.packBatch(arrivals, 0L, modelOf(g1), outDir)
    val before = codeKey(graft.streaming.CodeStreams.codes(spark, outDir))
    val g2 = BinaryLifecycle.retrain(drifted, store)
    // the SAME arrivals re-delivered after the generation switch pack
    // under gen-2 thresholds (newest-batch-wins resolves per vec_id)
    graft.streaming.CodeStreams.packBatch(arrivals, 1L, modelOf(g2), outDir)
    val after = codeKey(graft.streaming.CodeStreams.codes(spark, outDir))
    val expected = codeKey(SimilarityQueries.packWords(
      drifted.limit(50),
      SimilarityQueries.thresholdRowOf(
        BinaryLifecycle.at(store).read(spark, "thresholds", Some(g2)))))
    assert(after == expected, "post-switch arrivals not on gen-2 codes")
    assert(before != after, "the generation switch changed nothing?")
    cleanup()
  }
}
