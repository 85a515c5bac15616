package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Typed per-group top-k aggregator (the `Aggregator` API tier —
  * SURVEY §7.3): keeps the k largest (count, key) pairs per group with
  * a bounded buffer, merged map-side, so the shuffle carries at most k
  * entries per partition per group instead of every row.
  *
  * Compare with `TopKeyword`, which keeps only the top 1: a built-in
  * `min` over a `(-count, key IS NULL, key)` struct, O(1) state per
  * group but planned as a sort aggregate (a struct buffer is not
  * fixed-width, so Spark cannot hash-aggregate it). For k > 1 a window
  * would shuffle and sort ALL rows of each group; this aggregator's
  * bounded partial buffers make per-group top-k an object hash-agg —
  * the shape that survives a 100 TB keyword log. Ties resolve by key
  * ascending (same contract as TopKeyword).
  */
object TopKAggregator {

  type Entry = (String, Long) // (key, count)

  final case class Buf(var entries: List[Entry])

  private def topK(k: Int, es: List[Entry]): List[Entry] =
    es.sortBy { case (key, n) => (-n, key) }.take(k)

  /** Aggregates (key, count) rows to the top-k list per group. */
  def topKByCount(k: Int): Aggregator[Entry, Buf, Seq[Entry]] =
    new Aggregator[Entry, Buf, Seq[Entry]] {
      def zero: Buf = Buf(Nil)
      def reduce(b: Buf, a: Entry): Buf = {
        b.entries = topK(k, a :: b.entries)
        b
      }
      def merge(x: Buf, y: Buf): Buf = {
        x.entries = topK(k, x.entries ++ y.entries)
        x
      }
      def finish(b: Buf): Seq[Entry] = b.entries
      def bufferEncoder: Encoder[Buf] = Encoders.product[Buf]
      def outputEncoder: Encoder[Seq[Entry]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Entry]]()
    }
}
