package graft.plans

import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}
import graft.plans.Cms.{cmsMerge, cmsQuery, cmsSketch, cmsTotal}

/** The count-min algebra: merge-of-shards must equal the whole-stream
  * sketch BYTE-FOR-BYTE under any sharding (pure sums — stronger than
  * the frequent-items sketch's guarantee-only merges), estimates must never
  * undercount and must respect the e·n/w overcount bound, and the
  * degenerate empty merge must degrade to zeros. */
class CmsSketchSpec extends SparkSpec {

  private def words = Tables.documents(spark, sf0001)
    .select(col("doc_id"), col("source"),
      explode(graft.functions.TextFunctions.tokens(col("text"))).as("word"))

  test("merge of shard sketches equals the whole-stream sketch byte-for-byte") {
    val whole = words.agg(cmsSketch(col("word"), 4, 64).as("sk"))
      .collect()(0).getAs[Array[Byte]](0)
    for (shardCol <- Seq(col("source"), col("doc_id") % 7)) {
      val merged = words.groupBy(shardCol.as("shard"))
        .agg(cmsSketch(col("word"), 4, 64).as("sk"))
        .agg(cmsMerge(col("sk")).as("sk"))
        .collect()(0).getAs[Array[Byte]](0)
      assert(java.util.Arrays.equals(whole, merged),
        s"sharding by $shardCol changed the merged sketch")
    }
  }

  test("estimates never undercount and respect the width bound") {
    val exact = words.groupBy("word").agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val n = exact.values.sum
    val sk = words.agg(cmsSketch(col("word"), 4, 64).as("sk"))
      .collect()(0).getAs[Array[Byte]](0)
    assert(Cms.total(sk) == n)
    for ((w, cnt) <- exact) {
      val est = Cms.query(sk,
        org.apache.spark.unsafe.types.UTF8String.fromString(w))
      assert(est >= cnt, s"'$w': undercount $est < $cnt")
      // CMS bound: est <= cnt + e*n/w with prob 1-e^-d; the shipped
      // stream is fixed, so assert a deterministic generous multiple
      assert(est <= cnt + 3 * n / 64, s"'$w': overcount $est vs $cnt (n=$n)")
    }
    // an absent key reports only collision mass, bounded the same way
    val ghost = Cms.query(sk,
      org.apache.spark.unsafe.types.UTF8String.fromString("zzz-never-seen"))
    assert(ghost <= 3 * n / 64)
  }

  test("sketches are repartition-invariant") {
    val a = words.repartition(1).agg(cmsSketch(col("word"), 4, 64))
      .collect()(0).getAs[Array[Byte]](0)
    val b = words.repartition(13).agg(cmsSketch(col("word"), 4, 64))
      .collect()(0).getAs[Array[Byte]](0)
    assert(java.util.Arrays.equals(a, b))
  }

  test("degenerate all-null merge yields zero estimates, not a crash") {
    import spark.implicits._
    val r = Seq((1, null.asInstanceOf[Array[Byte]])).toDF("g", "sk")
      .groupBy("g").agg(cmsMerge(col("sk")).as("sk"))
      .select(cmsQuery(col("sk"), lit("anything")).as("est"),
        cmsTotal(col("sk")).as("n"))
      .collect()(0)
    assert(r.getLong(0) == 0L && r.getLong(1) == 0L)
  }

  test("empty sketch on the RIGHT of a merge is absorbed, not a crash") {
    // cms_merge's partial stage emits a 0x0 buffer for every EMPTY
    // shuffle partition; arrival order is AQE-dependent, so the empty
    // operand can land on either side of Cms.merge.
    val full = new Cms.Buffer(2, 8)
    Cms.insert(full, "abc".getBytes("UTF-8"))
    val emptyRight = Cms.deserialize(Cms.serialize(new Cms.Buffer(0, 0)))
    val merged = Cms.merge(full, emptyRight)
    assert(merged.d == 2 && merged.w == 8 && merged.n == 1)
    assert(Cms.query(Cms.serialize(merged),
      org.apache.spark.unsafe.types.UTF8String.fromString("abc")) == 1L)
    // and a registered-path shape: union of a populated and an EMPTY
    // grouped stream, merged globally — exercises both orders end-to-end
    import spark.implicits._
    val sketches = words.limit(50).agg(cmsSketch(col("word"), 4, 64).as("sk"))
      .unionAll(Seq.empty[String].toDF("word")
        .agg(cmsSketch(col("word"), 4, 64).as("sk")))
    val n = sketches.repartition(7)
      .agg(cmsMerge(col("sk")).as("sk"))
      .select(cmsTotal(col("sk"))).collect()(0).getLong(0)
    assert(n == 50L)
  }

  test("mismatched shapes refuse to merge") {
    val a = Cms.serialize(new Cms.Buffer(4, 64))
    val b = Cms.serialize(new Cms.Buffer(2, 64))
    intercept[IllegalArgumentException] {
      Cms.merge(Cms.deserialize(a), Cms.deserialize(b))
    }
  }
}
