package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SURVEY §5.1: W1 tie-break determinism; C6/C7 NULL asymmetry; the
  * June × July pairing as one aggregate. */
class TopKeywordTrendSpec extends SparkSpec {
  import spark.implicits._

  test("top keyword picks max count with alphabetical tie-break, deterministically") {
    val logs = Seq(
      ("u1", "zebra"), ("u1", "zebra"), ("u1", "apple"), ("u1", "apple"),
      ("u2", "solo")).toDF("user_id", "keyword")
    (1 to 3).foreach { _ =>
      val out = TopKeyword(logs).as[(String, String)].collect().toMap
      assert(out == Map("u1" -> "apple", "u2" -> "solo")) // tie 2-2 → alphabetical
    }
  }

  /** (user, month, keyword) search rows, June "T6" and July "T7", picked
    * and paired per user. */
  private def paired(rows: (String, String, String)*) =
    TopKeyword.paired(rows.toDF("user_id", "month", "keyword"), col("month"),
      Seq("T6" -> "most_search_T6", "T7" -> "most_search_T7"))

  /** A category per keyword; keywords not in `cats` get a NULL one. */
  private def categorized(df: DataFrame, cats: Map[String, String]) = {
    def of(k: Column) = cats.foldLeft(lit(null).cast("string")) {
      case (rest, (kw, cat)) => when(k === kw, cat).otherwise(rest)
    }
    df.withColumn("category_T6", of(col("most_search_T6")))
      .withColumn("category_T7", of(col("most_search_T7")))
  }

  test("trend 3VL asymmetry: NULL category ⇒ Changed but Category_Change Unchanged") {
    val pairs = paired(("u1", "T6", "kw6"), ("u2", "T6", "kw6u"),
      ("u1", "T7", "kw7"), ("u2", "T7", "kw7n"))
    // kw6u has no category: u2's June category is NULL
    val out = Trend(categorized(pairs, Map("kw6" -> "Drama", "kw7" -> "Drama", "kw7n" -> "News")))
      .select("user_id", "Trending_Type", "Category_Change")
      .as[(String, String, String)].collect()
      .map { case (u, tt, cc) => u -> ((tt, cc)) }.toMap
    assert(out("u1") == ("Unchanged", "Unchanged"))
    // NULL = NULL is NULL ⇒ otherwise("Changed"); NULL <> NULL is NULL ⇒ otherwise("Unchanged")
    assert(out("u2") == ("Changed", "Unchanged"))
  }

  test("trend join keeps USING semantics: one user_id column, inner join") {
    // the months pair in one aggregate per user, not a join
    val out = Trend(categorized(paired(("u1", "T6", "a"), ("u2", "T7", "b")),
      Map("a" -> "Drama", "b" -> "Drama")))
    assert(out.columns.count(_ == "user_id") == 1)
    assert(out.count() == 0) // inner: disjoint users drop
  }
}
