package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Per-user most-searched keyword (pipeline B: SURVEY §2.4 A1 + §2.5 W1 +
  * §2.2 F3).
  *
  * Two deliberate parity deltas, both documented in SURVEY §2.5/§4:
  *  - the reference's global `orderBy(count desc)` before the window is
  *    semantically dead (row_number ignores input order) and costs a full
  *    range-partition shuffle — omitted;
  *  - the reference's `row_number` over (count desc) alone is
  *    NONDETERMINISTIC on tied counts — the engine adds `keyword` as an
  *    explicit tie-break so results are stable run-to-run.
  *
  * The pick is an aggregate, not the reference's window: the minimum of
  * the struct `(-count, keyword IS NULL, keyword)` per user is the
  * `row_number() = 1` row of (count desc, keyword asc nulls last). The
  * null flag is needed because a struct orders a null field first. One
  * conditional minimum per month picks every month in the same
  * `groupBy(user_id)`, which also pairs the months ([[paired]]).
  */
object TopKeyword {

  /** Ordering key of one (user, keyword) count; its minimum is the pick. */
  private def rankKey(count: Column, keyword: Column): Column =
    struct((-count).as("neg_count"), keyword.isNull.as("no_keyword"), keyword.as("keyword"))

  def apply(searchLogs: DataFrame, outName: String = "most_search"): DataFrame =
    searchLogs.groupBy("user_id", "keyword").agg(count(lit(1)).as("count"))
      .groupBy("user_id").agg(min(rankKey(col("count"), col("keyword"))).as(outName))
      .select(col("user_id"), col(outName)("keyword").as(outName))

  /** Top keyword of each month per user, one row per user with a pick
    * in every month — the inner join of the per-month picks on
    * `user_id`, as one aggregate. `months` maps each value of the
    * `month` column to its output column. A null `user_id` never
    * pairs (the join drops it too); a user whose top keyword is null
    * keeps the row with a null pick. */
  def paired(logs: DataFrame, month: Column, months: Seq[(String, String)]): DataFrame = {
    val tagged = logs.filter(col("user_id").isNotNull)
      .select(col("user_id"), col("keyword"), month.as("month"))
    val counts = tagged.groupBy("user_id", "month", "keyword")
      .agg(count(lit(1)).as("count"))
    val key = rankKey(col("count"), col("keyword"))
    val mins = months.map { case (m, out) => min(when(col("month") === m, key)).as(out) }
    counts.groupBy("user_id").agg(mins.head, mins.tail: _*)
      .filter(months.map { case (_, out) => col(out).isNotNull }.reduce(_ && _))
      .select(col("user_id") +: months.map { case (_, out) => col(out)("keyword").as(out) }: _*)
  }
}
