package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Trained IVF quantizer: assignment totality, determinism, and the
  * recall floor of cell-pruned search vs the exact baseline. */
class IvfQuantizerSpec extends SparkSpec {
  import spark.implicits._

  test("every vector gets exactly one cell in [0, k); multiple cells survive training") {
    val asn = IvfQuantizer.assignments(spark, sf0001, k = 8, iters = 2).cache()
    val n = Tables.embeddings(spark, sf0001).count()
    assert(asn.count() == n)
    assert(asn.select("vec_id").distinct().count() == n)
    assert(asn.filter(col("cell") < 0 || col("cell") >= 8).count() == 0)
    val nCells = asn.select("cell").distinct().count()
    assert(nCells > 1, s"k-means collapsed to $nCells cell(s)")
    spark.catalog.clearCache()
  }

  test("training is deterministic: two independent runs agree exactly") {
    val a = IvfQuantizer.assignments(spark, sf0001, k = 8, iters = 2)
    val b = IvfQuantizer.assignments(spark, sf0001, k = 8, iters = 2)
    assert(a.exceptAll(b).count() == 0)
    assert(b.exceptAll(a).count() == 0)
    spark.catalog.clearCache()
  }

  test("a vector whose length differs from the centroid dims is a named " +
    "contract error, not a silent cell-0 assignment") {
    // cell 0 at the origin, cell 1 at (0.5, 0.5, 0.5), quantized the
    // way training quantizes: round((f + 4.0) * 1000)
    val cents = Seq((0, 4000L), (1, 4500L))
      .flatMap { case (cell, cval) => (0 until 3).map(d => (cell, d, cval)) }
      .toDF("cell", "dim", "cval")
    val full = Seq((1L, Array(0.5f, 0.5f, 0.5f))).toDF("vec_id", "embedding")
    assert(IvfQuantizer.assignedDistances(full, cents)
      .select("cell", "dist").as[(Int, Long)].collect().toSeq == Seq((1, 0L)))
    // the short vector matches cell 1 exactly on the dims it has; without
    // the guard its distances would be null and it would sort into cell 0
    val short = Seq((2L, Array(0.5f, 0.5f))).toDF("vec_id", "embedding")
    val e = intercept[Exception] {
      IvfQuantizer.assignVectors(short, cents).collect()
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage))
    assert(msgs.exists(_.contains("IVF_DIM_MISMATCH: vec_id 2 has 2 dims")),
      e.getMessage)
  }

  test("cell-pruned search keeps a usable fraction of the exact top-5; probing 2 cells helps") {
    val bf = SimilarityQueries.bruteForceTopK.run(spark, sf0001)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf = SimilarityQueries.ivfTopK.run(spark, sf0001)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val ivf2 = SimilarityQueries.ivfTopKProbe2.run(spark, sf0001)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    spark.catalog.clearCache()
    val recall = (bf & ivf).size.toDouble / bf.size
    val recall2 = (bf & ivf2).size.toDouble / bf.size
    // single-probe IVF on near-orthogonal vectors: a floor, not a target
    assert(recall >= 0.5, s"recall@5 collapsed to $recall")
    // widening the probe can only add candidates per query
    assert(recall2 >= recall, s"probe2 recall $recall2 < single-probe $recall")
  }
}
