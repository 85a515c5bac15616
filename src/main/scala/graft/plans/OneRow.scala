package graft.plans

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, struct}

/** A one-row frame (a global aggregate, a trained model row, a guarded
  * `limit(1)`) attached to every row of another frame WITHOUT a join.
  * A cross join onto such a frame plans as a broadcast nested-loop
  * join; an uncorrelated scalar subquery instead runs the frame once,
  * ahead of the stage that reads it, and hands its value to every task
  * as a constant. The frame must hold exactly one row: a second row
  * fails the query, and no row yields nulls. */
object OneRow {

  /** `df` with every column of the one-row frame `one` appended, in
    * `one`'s column order (the columns a cross join would append). All
    * of them come from ONE scalar subquery over a struct of the row. */
  def attach(df: DataFrame, one: DataFrame): DataFrame = {
    val row = one.select(struct(one.columns.map(col): _*)).scalar()
    df.select(col("*") +: one.columns.map(c => row.getField(c).as(c)): _*)
  }
}
