package graft.plans

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.aggregate.ApproxTopK
import org.apache.spark.sql.functions._
import graft.{SparkSpec, Tables}

/** The heavy-hitters contract of Spark's built-in frequent-items sketch
  * (`approx_top_k_accumulate` / `_combine` / `_estimate`, a DataSketches
  * ItemsSketch over a map of M = calMaxMapSize(maxItemsTracked) slots):
  * for ANY sharding and merge order, with n the stream length and
  * e = 3.5·n/M the a-priori error bound,
  *   true(x) ≤ cnt(x) ≤ true(x) + e,
  * every x with true(x) > 2e survives the merge-of-shards, and below
  * capacity (≤ 0.75·M distinct items) the sketch is the exact count map.
  * The estimate never undercounts. */
class HhSketchSpec extends SparkSpec {
  import spark.implicits._

  /** n = 20000: five heavy tokens (5000/4000/3000/2000/1500) + 4500
    * singletons; with maxItemsTracked = 64 (M = 128), e = 547 and
    * 2e = 1094 < 1500, so all five MUST survive any merge tree. */
  private def stream = spark.range(20000).select(
    when(col("id") < 5000, "h1").when(col("id") < 9000, "h2")
      .when(col("id") < 12000, "h3").when(col("id") < 14000, "h4")
      .when(col("id") < 15500, "h5")
      .otherwise(concat(lit("noise-"), col("id"))).as("w"),
    col("id"))

  private val truth = Map(
    "h1" -> 5000L, "h2" -> 4000L, "h3" -> 3000L, "h4" -> 2000L, "h5" -> 1500L)

  private def items(r: Row, i: Int): Map[String, Long] =
    r.getSeq[Row](i).map(x => x.getString(0) -> x.getLong(1)).toMap

  private def check(shard: org.apache.spark.sql.Column): Unit = {
    val m = 64
    val sk = stream.groupBy(shard.as("s"))
      .agg(expr(s"approx_top_k_accumulate(w, $m)").as("sk"), count(lit(1)).as("n"))
      .agg(expr(s"approx_top_k_combine(sk, $m)").as("sk"), sum("n").as("n"))
      .select(col("n"), expr(s"approx_top_k_estimate(sk, $m)").as("items"))
      .collect()(0)
    val n = sk.getLong(0)
    assert(n == 20000L, s"stream length $n")
    val e = (3.5 * n / ApproxTopK.calMaxMapSize(m)).toLong
    val est = items(sk, 1)
    assert(est.size <= m)
    for ((t, tc) <- truth) {
      assert(est.contains(t), s"heavy hitter $t (true $tc) missing")
      val c = est(t)
      assert(c >= tc && c <= tc + e, s"$t: cnt $c outside [$tc, ${tc + e}]")
    }
    // never an undercount, and within the bound, for anything reported
    for ((t, c) <- est) {
      val tc = truth.getOrElse(t, 1L)
      assert(c >= tc && c <= tc + e, s"$t: cnt $c outside [$tc, ${tc + e}]")
    }
  }

  test("merge-of-shards keeps every true heavy hitter within eps*n (hash shards)") {
    check(col("id") % 7)
  }

  test("merge-of-shards keeps every true heavy hitter within eps*n (clustered shards)") {
    // contiguous chunks: each heavy token concentrated in few shards —
    // the opposite merge geometry of the hash sharding
    check(col("id") / 2857)
  }

  test("below capacity the sketch IS the exact count map") {
    val words = Tables.documents(spark, sf0001)
      .select(col("doc_id"),
        explode(graft.functions.TextFunctions.tokens(col("text"))).as("w"))
    val exact = words.groupBy("w").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(exact.size <= 64, "premise: vocabulary below capacity")
    // whole stream in one sketch, and the same stream as 5 merged shards
    val whole = words.agg(expr("approx_top_k_accumulate(w, 64)").as("sk"))
      .select(expr("approx_top_k_estimate(sk, 64)")).collect()(0)
    val merged = words.groupBy((col("doc_id") % 5).as("s"))
      .agg(expr("approx_top_k_accumulate(w, 64)").as("sk"))
      .agg(expr("approx_top_k_combine(sk, 64)").as("sk"))
      .select(expr("approx_top_k_estimate(sk, 64)")).collect()(0)
    assert(items(whole, 0) == exact)
    assert(items(merged, 0) == exact)
  }

  test("degenerate all-null merge yields an empty sketch, not a crash") {
    // nulls are kept out by a FILTER clause (the built-in counts null as
    // an item); an all-null group still yields a sketch, and an empty one
    val allNull = Seq((1, null.asInstanceOf[String])).toDF("g", "w")
      .groupBy("g")
      .agg(expr("approx_top_k_accumulate(w, 64) FILTER (WHERE w IS NOT NULL)")
        .as("sk"))
      .agg(expr("approx_top_k_combine(sk, 64)").as("sk"))
      .select(size(expr("approx_top_k_estimate(sk, 64)"))).collect()
    assert(allNull.map(_.getInt(0)).toSeq == Seq(0))
    // empty input: a sketch over zero rows is empty; a rollup keyed on a
    // literal over zero shard sketches yields no row (q_heavy_hitters)
    val empty = Seq.empty[String].toDF("w")
      .agg(expr("approx_top_k_accumulate(w, 64)").as("sk"))
      .select(size(expr("approx_top_k_estimate(sk, 64)"))).collect()
    assert(empty.map(_.getInt(0)).toSeq == Seq(0))
    val noShards = Seq.empty[(Int, String)].toDF("g", "w")
      .groupBy("g").agg(expr("approx_top_k_accumulate(w, 64)").as("sk"))
      .groupBy(lit(1)).agg(expr("approx_top_k_combine(sk, 64)").as("sk"))
      .select(expr("approx_top_k_estimate(sk, 64)"))
    assert(noShards.collect().isEmpty)
  }

  test("hh functions are callable from SQL once registered") {
    // built in: no registration needed
    spark.range(100).selectExpr("CAST(id % 3 AS STRING) AS v")
      .createOrReplaceTempView("hh_probe")
    val top = spark.sql(
      """SELECT item, count
        |FROM (SELECT approx_top_k_estimate(approx_top_k_accumulate(v, 8), 8)
        |       AS items FROM hh_probe)
        |LATERAL VIEW inline(items) t AS item, count
        |ORDER BY count DESC, item
        |""".stripMargin).collect()
    assert(top.length == 3 && top(0).getLong(1) == 34L)
    // sketches of different sizes refuse to combine
    val ex = intercept[Exception] {
      spark.sql(
        """SELECT approx_top_k_estimate(approx_top_k_combine(sk))
          |FROM (SELECT approx_top_k_accumulate(v, 8) AS sk FROM hh_probe
          |      UNION ALL
          |      SELECT approx_top_k_accumulate(v, 16) AS sk FROM hh_probe)
          |""".stripMargin).collect()
    }
    assert(String.valueOf(ex.getMessage).contains("APPROX_TOP_K_SKETCH_SIZE_NOT_MATCH"),
      ex.getMessage)
  }
}
