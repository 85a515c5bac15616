package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Two-level token-budget shard packing — the distributed prefix sum.
  *
  * The naive packing window (`PARTITION BY source ORDER BY doc_id`) puts
  * each source's ENTIRE cumulative sum on one reducer. Fine when sources
  * are balanced; a real pretraining mix is dominated by one source (web
  * crawl ≈ 80%), so at 100 TB that partition is a single-threaded sort
  * of most of the corpus. This helper replaces it with the classic
  * two-level shape:
  *
  *   1. deterministically sub-bucket each source by an md5 hash-gate on
  *      doc_id (16^bucketChars buckets — rerun-stable, no RNG, and
  *      replayable in the SQL oracle, same family as the split gate);
  *   2. local cumulative sum per (source, bucket) — each window
  *      partition now holds ~1/B of the source, and B scales with the
  *      cluster;
  *   3. aggregate the per-bucket token totals (a TINY frame: sources × B
  *      rows), prefix-sum them with a window over buckets within source,
  *      and join the offsets back (AQE broadcasts them);
  *   4. cum_before = bucket_offset + local_before — EXACTLY the single
  *      cumulative sum in (bucket, doc_id) order.
  *
  * The packing ORDER therefore becomes (bucket, doc_id) instead of
  * doc_id — a different but fixed, deterministic permutation of each
  * source. Intra-source packing order is arbitrary for training shards
  * (light shuffling is even desirable); what matters is that it is
  * rerun-stable and oracle-replayable, and the oracle computes the SAME
  * permutation with a plain windowed sum:
  *
  *   sum(toks) OVER (PARTITION BY source ORDER BY pack_bucket, doc_id
  *                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
  *
  * so the two-level decomposition is pinned exactly (integer token
  * counts — no float drift).
  */
object ShardPacking {

  /** The deterministic sub-bucket gate: first `chars` hex chars of
    * md5("pack|" + doc_id). A single hex char = 16 buckets (the test
    * default); two = 256 (the 100 TB setting). Kept as the hex STRING —
    * lexicographic order on fixed-width lowercase hex is the bucket
    * order both engines agree on. */
  def bucketOf(docId: Column, chars: Int = 1): Column =
    substring(md5(concat(lit("pack|"), docId.cast("string"))), 1, chars)

  /** The matching DuckDB fragment (kept textually beside [[bucketOf]] so
    * the two can only drift visibly). */
  def bucketSql(docIdCol: String, chars: Int = 1): String =
    s"substr(md5('pack|' || CAST($docIdCol AS VARCHAR)), 1, $chars)"

  /** Adds `pack_bucket`, `cum_before` and `shard` to `df`, packing into
    * `budget`-token shards independently within each `groupCols` group.
    * `df` must carry `doc_id` and a BIGINT `toks` column. */
  def pack(
      df: DataFrame,
      groupCols: Seq[String],
      budget: Int,
      bucketChars: Int = 1): DataFrame = {
    val bCols = groupCols :+ "pack_bucket"
    val withB = df.withColumn("pack_bucket", bucketOf(col("doc_id"), bucketChars))

    // level 1: local cumulative sum, bounded at ~1/B of a source
    val wLocal = Window.partitionBy(bCols.map(col): _*).orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = withB.withColumn(
      "local_before", coalesce(sum("toks").over(wLocal), lit(0L)))

    // level 2: per-bucket totals (sources × 16^bucketChars rows), prefix-
    // summed over buckets within each group. The window here IS a
    // single reducer per group — over B rows, not the corpus.
    val wOffset = Window.partitionBy(groupCols.map(col): _*).orderBy("pack_bucket")
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = withB
      .groupBy(bCols.map(col): _*)
      .agg(sum("toks").as("bucket_toks"))
      .withColumn("bucket_offset", coalesce(sum("bucket_toks").over(wOffset), lit(0L)))
      .select(bCols.map(col) :+ col("bucket_offset"): _*)

    // join the offsets frame back: one row per (group, bucket), so at
    // most |groups| × 16^bucketChars rows whatever the corpus size. No
    // hint: AQE broadcasts it while it measures small.
    local.join(offsets, bCols)
      .withColumn("cum_before", col("bucket_offset") + col("local_before"))
      .withColumn("shard", expr(s"cum_before div $budget"))
      .drop("local_before", "bucket_offset")
  }

  /** Curriculum (globally score-ordered) packing: `cum_before` over the
    * single global order (score, doc_id) — the shard assignment a
    * curriculum-learning schedule wants, where shard k is strictly
    * easier than shard k+1. Same two-level decomposition as [[pack]],
    * with the hash sub-bucket replaced by a RANGE bucket
    * (`score div bucketWidth`): the outer bucket is monotone in score,
    * so (bucket, score, doc_id) order IS (score, doc_id) order, and the
    * oracle pins the whole decomposition with one plain windowed sum.
    *
    * Bucket offsets: the per-bucket totals frame is ≤ scoreRange/width
    * rows — bounded by the score DOMAIN, not the corpus — but a prefix
    * sum over it with an unpartitioned window (or a constant partition
    * key) is the one shape PlanHygieneSpec bans outright. Instead the
    * totals collapse to ONE row (`sort_array(collect_list(...))`), the
    * running sum is a `transform`+`aggregate` over the in-row array
    * (O(B²) expression work over B ≤ a few dozen), and the offsets
    * re-attach by a broadcast equi-join on the bucket key. No window
    * touches anything wider than a bucket partition.
    *
    * `df` must carry BIGINT `doc_id`, `toks`, and `score` columns. */
  def packOrdered(df: DataFrame, budget: Int, bucketWidth: Int): DataFrame = {
    val withB = df.withColumn("pack_bucket", expr(s"score div $bucketWidth"))
    val wLocal = Window.partitionBy("pack_bucket").orderBy("score", "doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = withB.withColumn(
      "local_before", coalesce(sum("toks").over(wLocal), lit(0L)))
    local.join(broadcast(collapsedBucketOffsets(withB)), Seq("pack_bucket"))
      .withColumn("cum_before", col("bucket_offset") + col("local_before"))
      .withColumn("shard", expr(s"cum_before div $budget"))
      .drop("local_before", "bucket_offset")
  }

  /** Global concat-order token offsets: `cum_before` over the single
    * global (pack_bucket, doc_id) permutation — the token-stream
    * position GPT-style sequence packing chunks by. Same hash
    * sub-bucket gate as [[pack]] (rerun-stable, oracle-replayable as
    * one plain windowed sum over `ORDER BY pack_bucket, doc_id`), same
    * one-collected-row offset collapse as [[packOrdered]] — no window
    * wider than one of the 16^bucketChars buckets, no constant
    * partition key. `df` must carry `doc_id` and a BIGINT `toks`
    * column; adds `pack_bucket` and `cum_before`. */
  def packGlobal(df: DataFrame, bucketChars: Int = 1): DataFrame = {
    val withB = df.withColumn("pack_bucket", bucketOf(col("doc_id"), bucketChars))
    val wLocal = Window.partitionBy("pack_bucket").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = withB.withColumn(
      "local_before", coalesce(sum("toks").over(wLocal), lit(0L)))
    local.join(broadcast(collapsedBucketOffsets(withB)), Seq("pack_bucket"))
      .withColumn("cum_before", col("bucket_offset") + col("local_before"))
      .drop("local_before", "bucket_offset")
  }

  /** Concat-and-chunk sequence rollup over [[packGlobal]] offsets: each
    * document fans out to the `L`-token sequences it spans (`toks/L + 1`
    * rows — tiny) and one hash-agg on `seq` produces the loader
    * manifest: contributing docs, fully-contained docs, token fill
    * (exactly L everywhere but the final sequence), id range. Shared by
    * `q_pack_sequences`, `q_pack_sequences_bpe`, and the corpus
    * pipeline's train-split loader stage. `df` must carry `doc_id` and
    * a BIGINT `toks` column; rows with `toks` ≤ 0 or NULL are dropped
    * HERE, not by caller convention — a `toks = 0` row would otherwise
    * make the boundary `sequence(cum div L, (cum-1) div L)` descend
    * when `cum % L == 0`, emitting spurious span rows with negative
    * token contributions, and a NULL would poison the prefix sums. */
  def chunkSequences(df: DataFrame, L: Long): DataFrame =
    packGlobal(df.filter(col("toks") > 0))
      .select(col("doc_id"), col("toks"), col("cum_before"),
        explode(sequence(
          expr(s"cum_before div $L"),
          expr(s"(cum_before + toks - 1) div $L"))).as("seq"))
      .groupBy(col("seq"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(least(lit(L) * (col("seq") + 1), col("cum_before") + col("toks"))
          - greatest(lit(L) * col("seq"), col("cum_before"))).as("toks"),
        sum(when(col("cum_before") >= lit(L) * col("seq") &&
                 col("cum_before") + col("toks") <= lit(L) * (col("seq") + 1),
            1L).otherwise(0L)).as("n_full_docs"),
        min("doc_id").as("min_doc"), max("doc_id").as("max_doc"))
      .orderBy("seq")

  /** Per-bucket totals prefix-summed with NO corpus-wide window: the
    * totals collapse to ONE collected row (bucket-count-sized by
    * construction), the running sum is in-row array arithmetic (O(B²)
    * over B buckets), and the offsets re-attach by broadcast equi-join.
    * Bucket order is `sort_array`'s struct order on `pack_bucket` —
    * numeric for range buckets, lexicographic for the fixed-width hex
    * gate — i.e. the same order the cumsum windows use. */
  private def collapsedBucketOffsets(withB: DataFrame): DataFrame =
    withB
      .groupBy("pack_bucket").agg(sum("toks").as("bt"))
      .agg(sort_array(collect_list(struct(col("pack_bucket"), col("bt"))))
        .as("bs"))
      .select(explode(expr(
        """transform(bs, (x, i) -> named_struct(
          |  'pack_bucket', x.pack_bucket,
          |  'bucket_offset', aggregate(slice(bs, 1, i), CAST(0 AS BIGINT),
          |                             (a, y) -> a + y.bt)))""".stripMargin))
        .as("o"))
      .select(col("o.pack_bucket").as("pack_bucket"),
              col("o.bucket_offset").as("bucket_offset"))
}
