package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-contract engagement profile (pipeline A core: SURVEY §2.4 A2-A4,
  * §2.8 C2-C5, C10).
  *
  * Differences from the reference, by design (SURVEY §4):
  *  - ONE pivot over the whole multi-day frame with an explicit value
  *    list — the reference pivots per day with data-dependent values
  *    (30 extra distinct-values jobs; unionByName breaks when a day
  *    misses a type). The pivot is written as one (Contract, Date)
  *    aggregate with a conditional sum per type: Spark's `pivot` plans
  *    a (Contract, Date, Type) aggregate plus a `PivotFirst` aggregate,
  *    one more exchange for the same columns;
  *  - fillna(0) applied once, as a `coalesce` over each pivoted sum
  *    (covers both per-day pivot nulls and missing-type columns).
  * Tie semantics preserved exactly: most-watched priority Truyen Hinh >
  * Phim Truyen > Giai Tri > Thieu Nhi > The Thao; taste order
  * Giai Tri, Phim Truyen, The Thao, Thieu Nhi, Truyen Hinh.
  */
object Engagement {

  import ContentTypeMap.ContentTypes

  private def totalCol(t: String) = "Total_" + t.replace(' ', '_')

  /** Pivot the typed rows to per-(Contract, Date) duration columns. */
  def pivotDaily(typed: DataFrame): DataFrame = {
    val sums = ContentTypes.map(t =>
      coalesce(sum(when(col("Type") === t, col("TotalDuration"))), lit(0)).as(t))
    typed
      .groupBy(col("Contract"), col("log_date").as("Date"))
      .agg(sums.head, sums.tail: _*)
  }

  /** Aggregate pivoted days (one row per (Contract, Date), as
    * [[pivotDaily]] makes them) to the final engagement profile. */
  def profile(pivoted: DataFrame): DataFrame = {
    val sums = ContentTypes.map(t => sum(col(t)).as(totalCol(t)))
    val agg = pivoted
      .groupBy("Contract")
      // one pivoted row per (Contract, Date): counting the non-null
      // dates counts the distinct active days
      .agg(sums.head, sums.tail :+ count(col("Date")).as("Active"): _*)

    // C2: argmax label, priority = reference chain order
    val priority = Seq("Truyen Hinh", "Phim Truyen", "Giai Tri", "Thieu Nhi", "The Thao")
    val best = greatest(priority.map(t => col(totalCol(t))): _*)
    val mostWatched = priority.foldRight(lit("Error")) { (t, rest) =>
      when(best === col(totalCol(t)), t).otherwise(rest)
    }

    // C4: concat_ws skips the NULLs of non-matching whens (no otherwise)
    val taste = concat_ws("-",
      ContentTypes.map(t => when(col(totalCol(t)) =!= 0, lit(t))): _*)

    agg
      .withColumn("Most Watched", mostWatched)
      .withColumn("Taste", taste)
      .withColumn("Level_Activeness",
        when(col("Active") > 20, "High")
          .when(col("Active") <= 20 && col("Active") >= 10, "Medium")
          .otherwise("Low"))
  }

  /** typed rows → engagement profile (the post-map half of pipeline A). */
  def apply(typed: DataFrame): DataFrame = profile(pivotDaily(typed))
}
