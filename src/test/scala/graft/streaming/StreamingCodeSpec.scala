package graft.streaming

import graft.SparkSpec
import graft.operators.BinaryLifecycle
import graft.sources.GenerationedTable
import org.apache.spark.sql.functions._

/** Pack-on-arrival binary codes (streaming twin #20): out-of-order
  * replay reproduces the batch `idx_binary` artifact bit-for-bit; a
  * re-delivered batch never changes the code table; a NEW vector packs
  * against the FROZEN thresholds (never re-thresholds); a store with no
  * committed generation is refused and an interrupted retrain is never
  * served. */
class StreamingCodeSpec extends SparkSpec {

  private val modelD = "/tmp/graft_codestream_model"
  private val outD = "/tmp/graft_codestream_out"

  private def cleanup(dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  private def codesMap(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r =>
      r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  /** Model trained + corpus replayed once per suite run (lazy fixture —
    * each test runs green in isolation). */
  private lazy val seeded: CodeStreams.ThresholdModel = {
    cleanup(modelD); cleanup(outD)
    BinaryLifecycle.retrain(graft.Tables.embeddings(spark, sf0001)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("e")),
      modelD)
    val m = BinaryLifecycle.asModel(spark, modelD)
    val vecs = graft.Tables.embeddings(spark, sf0001)
      .select("vec_id", "embedding")
    // out-of-order slices
    CodeStreams.packBatch(vecs.filter(col("vec_id") % 3 === 1), 0L, m, outD)
    CodeStreams.packBatch(vecs.filter(col("vec_id") % 3 === 2), 1L, m, outD)
    CodeStreams.packBatch(vecs.filter(col("vec_id") % 3 === 0), 2L, m, outD)
    m
  }

  test("out-of-order replay reproduces the batch code artifact " +
    "bit-for-bit; re-delivery is idempotent") {
    val m = seeded
    val got = codesMap(CodeStreams.codes(spark, outD))
    val want = codesMap(
      graft.operators.BinaryIndex.words(spark, sf0001)
        .select("vec_id", "w0", "w1"))
    assert(got == want, "streamed codes diverge from the batch artifact")

    // replay an old slice under a new batch id: newest-wins, same codes
    val vecs = graft.Tables.embeddings(spark, sf0001)
      .select("vec_id", "embedding")
    CodeStreams.packBatch(vecs.filter(col("vec_id") % 3 === 1), 3L, m, outD)
    assert(codesMap(CodeStreams.codes(spark, outD)) == want,
      "a replayed batch changed the code table")
  }

  test("a new arrival packs against the FROZEN thresholds") {
    val m = seeded
    val before = codesMap(CodeStreams.codes(spark, outD))
    // a vector far above every trained midrange threshold: every sign
    // bit must set — and had packBatch re-thresholded on the batch,
    // a single-vector batch would have min=max=x, threshold=x, and
    // x > x would clear every bit instead
    import spark.implicits._
    val late = Seq((990001L, Seq.fill(64)(1e9f)))
      .toDF("vec_id", "embedding")
    CodeStreams.packBatch(late, 4L, m, outD)
    val after = codesMap(CodeStreams.codes(spark, outD))
    assert(after(990001L) == ((0xFFFFFFFFL, 0xFFFFFFFFL)),
      s"frozen-threshold packing broke: ${after(990001L)}")
    assert(after.size == before.size + 1 &&
      before.forall { case (k, v) => after(k) == v },
      "a new arrival disturbed existing codes")
  }

  test("an uncommitted model is refused") {
    seeded
    // a store with no committed generation is refused by name
    val empty = s"$modelD-empty"
    cleanup(empty)
    val e = intercept[IllegalStateException] {
      BinaryLifecycle.asModel(spark, empty)
    }
    assert(e.getMessage.contains(s"$empty has no trained generation"))
    // an interrupted retrain: stats and codes of gen 2 committed their
    // own pointers, and gen-2 thresholds (each far above any component)
    // landed on disk, but the thresholds pointer never swung
    GenerationedTable.writeAs(BinaryLifecycle.stats(spark, modelD, Some(1)),
      BinaryLifecycle.statsDir(modelD), 2)
    GenerationedTable.writeAs(BinaryLifecycle.codes(spark, modelD, Some(1)),
      BinaryLifecycle.codesDir(modelD), 2)
    val orphan = s"${BinaryLifecycle.thresholdsDir(modelD)}/gen=2"
    BinaryLifecycle.thresholds(spark, modelD, Some(1))
      .withColumn("t", lit(1e12))
      .write.mode("overwrite").parquet(orphan)
    // the orphans stay: they are what a crash leaves, and the store
    // keeps serving gen 1 to the other tests in this JVM
    assert(BinaryLifecycle.committedGeneration(spark, modelD) == 1)
    // the twin still packs under gen 1: a vector above every gen-1
    // threshold sets every bit (gen-2 thresholds would clear them all)
    import spark.implicits._
    val late = Seq((990002L, Seq.fill(64)(1e9f))).toDF("vec_id", "embedding")
    val outC = s"$outD-crash"
    cleanup(outC)
    CodeStreams.packBatch(late, 0L, BinaryLifecycle.asModel(spark, modelD), outC)
    assert(codesMap(CodeStreams.codes(spark, outC))(990002L) ==
      ((0xFFFFFFFFL, 0xFFFFFFFFL)), "an uncommitted generation was served")
    cleanup(outC)
  }
}
