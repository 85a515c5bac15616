package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Output digest: row count plus an order-insensitive hash over all
  * columns (sum of xxhash64 over each row's JSON form). */
object Digest {
  def apply(df: DataFrame): (Long, String) = {
    val row = to_json(struct(df.columns.map(c => df.col(s"`$c`")).toSeq: _*))
    val r = df.select(xxhash64(row).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).collect()(0)
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }
}
