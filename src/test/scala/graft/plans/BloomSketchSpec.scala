package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.{BloomFilter, IncompatibleMergeException}

/** Spark's built-in Bloom filter as used through [[SparkBloom]]: no false
  * negatives ever, a false-positive rate near theory, merge-of-shards ≡
  * whole byte-for-byte, parquet round trip, SQL registration. */
class BloomSketchSpec extends SparkSpec {
  import spark.implicits._

  private def keys(lo: Int, hi: Int) =
    spark.range(lo, hi).select($"id".cast("string").as("v"))

  private def filterBytes(df: DataFrame, items: Long, bits: Long): Array[Byte] =
    df.agg(SparkBloom.agg($"v", items, bits)).head.getAs[Array[Byte]](0)

  private def probe(sk: DataFrame): org.apache.spark.sql.Column =
    SparkBloom.mightContain(sk.scalar(), $"v")

  test("no false negatives: every inserted key probes true") {
    val sk = keys(0, 2000).agg(SparkBloom.agg($"v", 2000L, 1L << 16))
    val misses = keys(0, 2000).filter(!probe(sk)).count()
    assert(misses === 0L)
  }

  test("false-positive rate is near theory for the sized filter") {
    // n=2000, m=16384 → Spark picks 6 hashes; theory from the filled
    // filter's own density: fp = (ones/m)^k ≈ 2%
    val bytes = filterBytes(keys(0, 2000), 2000L, 1L << 14)
    val theory = BloomFilter.readFrom(bytes).expectedFpp()
    val fp = keys(1000000, 1020000)
      .filter(SparkBloom.mightContain(lit(bytes), $"v")).count() / 20000.0
    assert(theory > 0.005 && theory < 0.05, s"theory=$theory")
    assert(fp > theory / 2 && fp < theory * 2, s"fp=$fp vs theory=$theory")
  }

  test("merging per-shard filters equals the whole-corpus filter") {
    val df = spark.range(5000)
      .select(($"id" % 4).as("shard"), $"id".cast("string").as("v"))
    val whole = filterBytes(df, 5000L, 1L << 14)
    val merged = df.groupBy("shard").agg(SparkBloom.agg($"v", 5000L, 1L << 14))
      .collect().map(r => BloomFilter.readFrom(r.getAs[Array[Byte]](1)))
      .reduce(_ mergeInPlace _)
    assert(merged == BloomFilter.readFrom(whole))
    val out = new java.io.ByteArrayOutputStream()
    merged.writeTo(out)
    assert(out.toByteArray.toSeq === whole.toSeq)
  }

  test("filters survive a parquet round-trip and probe in a later job") {
    val dir = java.nio.file.Files.createTempDirectory("bloom").toString
    keys(0, 300).agg(SparkBloom.agg($"v", 300L, 1L << 12).as("sk"))
      .write.mode("overwrite").parquet(dir)
    val sk = spark.read.parquet(dir)
    val misses = keys(0, 300).filter(!probe(sk)).count()
    assert(misses === 0L)
  }

  test("mismatched filter shapes refuse to merge") {
    val a = BloomFilter.readFrom(filterBytes(keys(0, 10), 10L, 1L << 12))
    val b = BloomFilter.readFrom(filterBytes(keys(0, 10), 10L, 1L << 13))
    val c = BloomFilter.readFrom(filterBytes(keys(0, 10), 100L, 1L << 12))
    intercept[IncompatibleMergeException](a.mergeInPlace(b)) // other size
    intercept[IncompatibleMergeException](a.mergeInPlace(c)) // other hash count
  }

  test("probing an empty merged filter returns definitely-absent, not a crash") {
    // the aggregate over zero keys is a null filter; the probe must
    // degrade to false
    val sk = keys(0, 0).agg(SparkBloom.agg($"v", 10L, 1L << 12))
    assert(sk.head.isNullAt(0))
    val hits = keys(0, 10).filter(probe(sk)).count()
    assert(hits === 0L)
  }

  test("bloom functions are callable from SQL once registered") {
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "bloom_filter_agg", exprs => BloomFilterAggregate(exprs(0), exprs(1), exprs(2), 0, 0)
        .toAggregateExpression(), "built-in")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "might_contain", exprs => BloomFilterMightContain(exprs(0), exprs(1)), "built-in")
    spark.range(100).createOrReplaceTempView("bloom_probe")
    val n = spark.sql(
      "SELECT count(*) FROM bloom_probe WHERE might_contain(" +
        "(SELECT bloom_filter_agg(xxhash64(id), 100L, 4096L) FROM bloom_probe), " +
        "xxhash64(id))").collect().head.getLong(0)
    assert(n === 100L)
  }
}
