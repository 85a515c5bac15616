package graft.plans

import org.apache.spark.sql.{Column, GraftBridge}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions.{coalesce, lit, xxhash64}

/** Spark's built-in Bloom filter (`org.apache.spark.util.sketch.BloomFilter`,
  * the one runtime join filtering builds) as a sketch VALUE: a per-shard
  * job aggregates its keys into filter bytes, a later job or the driver
  * merges them (`BloomFilter.readFrom(bytes).mergeInPlace`, a bitwise OR,
  * so merge-of-shards ≡ whole-corpus byte for byte), and a probe answers
  * false = definitely absent, true = maybe present.
  *
  * `might_contain` probes BIGINT values only, so keys of any type go
  * through `xxhash64` on BOTH sides. Keys are non-null ids. Spark derives
  * the hash-function count from `items` and `bits`; filters of different
  * geometry refuse to merge (`IncompatibleMergeException`). */
object SparkBloom {

  /** Keys → serialized filter (BINARY); null over zero rows. */
  def agg(key: Column, items: Long, bits: Long): Column =
    GraftBridge.column(BloomFilterAggregate(GraftBridge.expression(xxhash64(key)),
      Literal(items), Literal(bits), 0, 0).toAggregateExpression())

  /** Membership probe. `filter` must be a literal or a scalar subquery
    * (`df.scalar()` over a one-row frame); a null filter (the aggregate
    * of zero keys) answers false. */
  def mightContain(filter: Column, key: Column): Column =
    coalesce(GraftBridge.column(BloomFilterMightContain(
      GraftBridge.expression(filter), GraftBridge.expression(xxhash64(key)))),
      lit(false))
}
