package graft.operators

import graft.SparkSpec
import graft.semantic.RuleClassifier
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Degenerate-input behavior: empty frames and all-null columns must
  * flow through every operator without crashing or inventing rows. */
class EdgeCaseSpec extends SparkSpec {
  import spark.implicits._

  private val emptyTyped = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
    StructType(Seq(
      StructField("Contract", StringType), StructField("Type", StringType),
      StructField("TotalDuration", LongType), StructField("log_date", DateType))))

  test("engagement over an empty frame: zero rows, full schema") {
    val out = Engagement(emptyTyped)
    assert(out.count() == 0)
    assert(out.columns.contains("Most Watched") && out.columns.contains("Taste"))
  }

  test("top keyword over an empty frame: zero rows") {
    val empty = Seq.empty[(String, String)].toDF("user_id", "keyword")
    assert(TopKeyword(empty).count() == 0)
  }

  test("classifier applyDistinct over empty and all-null keyword frames") {
    val empty = Seq.empty[(String, String)].toDF("user_id", "most_search")
    assert(RuleClassifier.applyDistinct(spark, empty, "most_search", "category").count() == 0)
    val allNull = Seq(("u1", Option.empty[String]), ("u2", None))
      .toDF("user_id", "most_search")
    val out = RuleClassifier.applyDistinct(spark, allNull, "most_search", "category")
    assert(out.count() == 2)
    assert(out.select("category").as[String].collect().forall(_ == "Other"))
  }

  test("dedup resolve over zero pairs: empty result, no iteration blowup") {
    val noPairs = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(DedupResolve.keepList(noPairs).count() == 0)
  }

  test("trend with empty month frames: empty inner join") {
    val logs = Seq.empty[(String, String, String)].toDF("user_id", "month", "keyword")
    val pairs = TopKeyword.paired(logs, col("month"),
      Seq("T6" -> "most_search_T6", "T7" -> "most_search_T7"))
    assert(Trend(RuleClassifier.applyDistinct(spark, pairs,
      Seq("most_search_T6" -> "category_T6", "most_search_T7" -> "category_T7"))).count() == 0)
  }

  test("pipeline B with an empty June or an empty July: zero rows, full schema") {
    val root = java.nio.file.Files.createTempDirectory("graft_empty_month").toString
    val empty = s"$root/20220601"
    val full = s"$root/20220701"
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      graft.schema.Schemas.searchLog).write.parquet(empty)
    Seq(("u1", "VTV3"), ("u2", "phim")).toDF("user_id", "keyword")
      .select(graft.schema.Schemas.searchLog.map(f =>
        (if (f.name == "user_id" || f.name == "keyword") col(f.name) else lit(null))
          .cast(f.dataType).as(f.name)): _*)
      .write.parquet(full)
    val columns = Seq("user_id", "most_search_T6", "category_T6",
      "most_search_T7", "category_T7", "Trending_Type", "Category_Change")
    for ((june, july) <- Seq((empty, full), (full, empty))) {
      val out = graft.pipeline.BehaviorPipeline.build(spark, Seq(june), Seq(july))
      assert(out.columns.toSeq == columns)
      assert(out.count() == 0, s"june $june july $july")
    }
  }

  test("as-of joins over empty sides: left-join contract holds") {
    val noLeft = Seq.empty[(String, Long, Long)].toDF("k", "t", "lid")
    val noRight = Seq.empty[(String, Long, Long)].toDF("k", "rt", "rid")
    val left = Seq(("a", 5L, 1L)).toDF("k", "t", "lid")
    val right = Seq(("a", 3L, 9L)).toDF("k", "rt", "rid")
    Seq[(org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
         String, String, String, Seq[String]) => org.apache.spark.sql.DataFrame](
      AsOfJoin.backward(_, _, _, _, _, _),
      AsOfJoin.forward(_, _, _, _, _, _),
      AsOfJoin.nearest(_, _, _, _, _, _)).foreach { join =>
      assert(join(noLeft, right, "k", "t", "rt", Seq("rid")).count() == 0)
      val vsEmpty = join(left, noRight, "k", "t", "rt", Seq("rid"))
      assert(vsEmpty.count() == 1)
      assert(vsEmpty.select("rid").collect().head.isNullAt(0))
    }
  }

  test("hyperplane bands on empty and zero vectors stay total") {
    import graft.plans.HyperplaneBands.hyperplaneBands
    val out = Seq(
      (1L, Some(Seq.empty[Float])),      // zero-dim: every projection is 0
      (2L, Some(Seq(0.0f, 0.0f))))       // zero vector: dot = 0 -> bit 0
      .toDF("id", "e")
      .select(col("id"), hyperplaneBands(col("e"), 16, 2).as("k"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(out(1L) == Seq.fill(8)(0))
    assert(out(2L) == Seq.fill(8)(0))
  }

  test("IVF k-means with k larger than the corpus still assigns every vector") {
    // 500 vectors, k=600 seeds clamp to the corpus; training must not
    // divide by zero on empty cells or drop vectors
    val asn = IvfQuantizer.assignments(spark, sf0001, k = 600, iters = 1)
    assert(asn.count() == graft.Tables.embeddings(spark, sf0001).count())
    spark.catalog.clearCache()
  }

  test("embGeometry: oracle regime below 4x target bucket, log-scaled above") {
    import DedupQueries.embGeometry
    // every oracle-checked SF and the sf0.1 bench corpus (<= 2000 vecs)
    // land on the fixed oracle geometry
    for (n <- Seq(1L, 200L, 2000L)) assert(embGeometry(n) == (16, 2))
    // beyond: bits grow as ceil(log2(n / 500)), 8 bands always
    assert(embGeometry(4000L) == (24, 3))
    assert(embGeometry(20000L) == (48, 6))   // the 10x smoke corpus
    assert(embGeometry(2000000L) == (96, 12))
    // expected bucket width stays ~target: n / 2^bits <= target
    for (n <- Seq(4000L, 20000L, 2000000L)) {
      val (_, bits) = embGeometry(n)
      assert(n.toDouble / (1 << bits) <= DedupQueries.EmbTargetBucket)
    }
  }

  test("signature keeper election excludes sentinel hashes (no corrupt clusters)") {
    val frame = Seq((1L, "0101"), (2L, "0101"), (3L, ""), (4L, ""), (5L, "1111"))
      .toDF("doc_id", "phash")
    val got = MultimodalQueries.hashKeepers(frame)
      .collect().map(r => (r.getLong(0), r.getBoolean(2))).toMap
    // docs 3 and 4 carry the "" sentinel: audit rows, never a cluster --
    // they must not appear as keeper/duplicate of each other
    assert(got == Map(1L -> true, 2L -> false, 5L -> true), s"got $got")
  }
}
