package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.execution.{ReusedSubqueryExec, SubqueryExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.functions._

/** A one-row frame attached by scalar subquery must give exactly the
  * rows and columns of the cross join it replaces, with no nested-loop
  * join and the frame evaluated once however many columns it carries. */
class OneRowSpec extends SparkSpec {

  private object Adaptive extends AdaptiveSparkPlanHelper

  private def base = spark.range(0, 50).select(col("id"), (col("id") % 7).as("g"))
  private def one = base.agg(sum("id").as("s"), max("g").as("mg"),
    collect_list(col("g")).as("gs"))

  test("attach equals the cross join, column for column") {
    val out = OneRow.attach(base, one)
    assert(out.columns.toSeq == base.crossJoin(one).columns.toSeq)
    val rows = out.collect().map(_.toString).sorted
    assert(rows.toSeq == base.crossJoin(one).collect().map(_.toString).sorted.toSeq)
    assert(rows.length == 50)
  }

  test("attach plans no join and evaluates the frame once") {
    val out = OneRow.attach(base, one)
    out.collect()
    val plan = out.queryExecution.executedPlan
    assert(Adaptive.collectWithSubqueries(plan) {
      case j: BroadcastNestedLoopJoinExec => j
      case j: CartesianProductExec => j
    }.isEmpty)
    val runs = Adaptive.collectWithSubqueries(plan) { case s: SubqueryExec => s }
    val reused = Adaptive.collectWithSubqueries(plan) { case r: ReusedSubqueryExec => r }
    assert(runs.size == 1, plan)
    assert(reused.size == 2, plan)
  }

  test("a frame with a second row fails the query") {
    val two = spark.range(0, 2).toDF("x")
    intercept[Exception](OneRow.attach(base, two).collect())
  }
}
