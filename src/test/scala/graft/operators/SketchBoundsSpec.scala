package graft.operators

import graft.{SparkEntry, SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Bounded-error checks for the three registered queries that have no
  * DuckDB oracle (their estimates depend on the implementation or the
  * partitioning): each is compared with exact counts at sf0.001. */
class SketchBoundsSpec extends SparkSpec {

  private def run(name: String) = SparkEntry.queries(name)(spark, sf0001)

  /** |est − exact| ≤ 3 standard errors of a sketch with relative
    * standard error `rsd`. */
  private def assertWithin(what: String, est: Long, exact: Long, rsd: Double): Unit =
    assert(math.abs(est - exact) <= 3 * rsd * exact,
      s"$what: estimate $est vs exact $exact (rsd $rsd)")

  test("q_hll_distinct is within 3 standard errors of the exact distinct texts") {
    val docs = Tables.documents(spark, sf0001)
    val exact = docs.groupBy("source").agg(countDistinct("text").as("d"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap +
      ("~all~" -> docs.select("text").distinct().count())
    val rows = run("q_hll_distinct").collect()
    assert(rows.map(_.getAs[String]("source")).toSet == exact.keySet)
    rows.foreach { r =>
      val src = r.getAs[String]("source")
      assertWithin(src, r.getAs[Long]("est_distinct"), exact(src), 1.04 / math.sqrt(4096))
    }
  }

  test("q_approx_distinct is within 3 standard errors of the exact distinct users") {
    val exact = Tables.events(spark, sf0001).groupBy("event_type")
      .agg(countDistinct("user_id").as("d"), count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val rows = run("q_approx_distinct").collect()
    assert(rows.map(_.getAs[String]("event_type")).toSet == exact.keySet)
    rows.foreach { r =>
      val t = r.getAs[String]("event_type")
      assert(r.getAs[Long]("n") == exact(t)._2)
      assertWithin(t, r.getAs[Long]("approx_users"), exact(t)._1, 0.05)
    }
  }

  /** (words above 5% support, those of them q_freq_items misses). */
  private def freqCheck(dir: String): (Set[String], Set[String]) = {
    val words = Tables.documents(spark, dir)
      .select(explode(split(trim(col("text")), "\\s+")).as("word"))
    val total = words.count()
    val frequent = words.groupBy("word").count()
      .filter(col("count") > lit(0.05 * total))
      .collect().map(_.getString(0)).toSet
    val found = SparkEntry.queries("q_freq_items")(spark, dir)
      .collect().head.getSeq[String](0).toSet
    (frequent, frequent -- found)
  }

  test("q_freq_items has no false negatives above 5% support") {
    assert(freqCheck(sf0001)._2.isEmpty)
    // every fixture word sits near 3.5% support, so the check bites on
    // a copy with two words pushed to ~6%
    val dir = java.nio.file.Files.createTempDirectory("graft_freq").toString
    Tables.documents(spark, sf0001)
      .withColumn("text", concat(col("text"), lit(" alpha alpha alpha alpha"),
        when(col("doc_id") % 5 =!= 0, lit(" beta beta beta beta beta"))
          .otherwise(lit(""))))
      .write.parquet(s"$dir/documents.parquet")
    val (frequent, missing) = freqCheck(dir)
    assert(frequent == Set("alpha", "beta"))
    assert(missing.isEmpty, s"missing: $missing")
  }
}
