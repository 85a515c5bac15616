package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Month-over-month trend derivation (pipeline B tail: SURVEY §2.3 J1 +
  * §2.8 C6/C7).
  *
  * The reference's June × July inner USING-join on `user_id` is
  * [[TopKeyword.paired]]: one aggregate per user that keeps the users
  * with a pick in both months. What is left here is the two derived
  * columns over the paired categories.
  *
  * 3VL quirks preserved exactly (SURVEY §7.4 risk 3): with a NULL
  * category on either side, `Trending_Type` falls through to "Changed"
  * (NULL condition → otherwise) while `Category_Change` falls through to
  * "Unchanged" — asymmetric on purpose, because the reference is.
  */
object Trend {

  def trendingType(before: Column, after: Column): Column =
    when(before === after, "Unchanged").otherwise("Changed")

  def categoryChange(before: Column, after: Column): Column =
    when(before =!= after, concat_ws("-", before, after)).otherwise("Unchanged")

  /** Trend columns over the paired months. Expected input:
    * (user_id, most_search_T6, category_T6, most_search_T7,
    * category_T7). */
  def apply(paired: DataFrame): DataFrame =
    paired.select(
      col("user_id"),
      col("most_search_T6"), col("category_T6"),
      col("most_search_T7"), col("category_T7"),
      trendingType(col("category_T6"), col("category_T7")).as("Trending_Type"),
      categoryChange(col("category_T6"), col("category_T7")).as("Category_Change"))
}
