package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._
import graft.operators.DedupQueries

/** The training-corpus build, end to end — what a USER of this library
  * runs nightly: raw documents → quality gate → benchmark
  * decontamination → near-dup dedup (persisted LSH keep-list artifact)
  * → deterministic split assignment → per-source token-budget shard
  * packing → a split-partitioned MANIFEST table plus the loss-funnel
  * accounting. Composes the operators the q_* registry verifies
  * individually; CorpusPipelineSpec pins the cross-consistency (manifest
  * counts ≡ funnel stage totals, splits partition the survivors).
  *
  * Scale shape: two shuffle-on-key joins (contamination grams, keep-list
  * anti-join), two-level shard packing (sub-bucketed local cumsum
  * windows + broadcast prefix offsets — no whole-source single-reducer
  * window; see [[graft.operators.ShardPacking]]), everything else pure
  * map + hash-agg. The manifest is written partitioned by split so
  * downstream training jobs prune at the directory level.
  */
object CorpusPipeline {

  /** Per-document manifest of the SURVIVING corpus:
    * (doc_id, source, split, shard, toks) — the table a trainer reads. */
  def manifest(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast("long").as("toks"),
        size(array_distinct(tokens(col("text")))).cast("long").as("dtoks"),
        array_distinct(wordShingles(tokens(col("text")), 5)).as("sh"))

    // gate 1: integer cross-multiplied quality ratio (≥20 words, ≥0.3 distinct)
    val quality = docs.filter(col("toks") >= 20 && col("dtoks") * 10 >= col("toks") * 3)

    // gate 2: benchmark decontamination (any shared 5-gram disqualifies)
    // against the PERSISTED bench-gram artifact — built once per run
    val ex = docs.select(col("doc_id"), explode(col("sh")).as("g"))
    val contaminated = ex.filter(col("doc_id") % 97 =!= 0)
      .join(graft.operators.CorpusQueries.benchGrams(spark, sfDir), "g")
      .select("doc_id").distinct()
    val clean = quality
      .filter(col("doc_id") % 97 =!= 0)
      .join(contaminated, Seq("doc_id"), "left_anti")

    // gate 3: near-dup dedup via the persisted keep-list artifact
    val dropped = DedupQueries.lshKeepList(spark, sfDir)
      .filter(!col("keep")).select("doc_id")
    val survivors = clean.join(dropped, Seq("doc_id"), "left_anti")

    // split assignment (md5 gate, ~80/10/10) + per-(source, split)
    // TWO-LEVEL packing (ShardPacking: sub-bucketed local cumsums +
    // broadcast prefix offsets — no whole-source single-reducer window)
    val gate = substring(md5(concat(lit("split|"), col("doc_id").cast("string"))), 1, 2)
    val split = survivors.withColumn("split",
      when(gate < "cd", "train").when(gate < "e6", "val").otherwise("test"))
    graft.operators.ShardPacking.pack(split, Seq("source", "split"), budget = 2000)
      .select(col("doc_id"), col("source"), col("split"),
        col("shard"), col("toks"))
  }

  /** The v2 manifest — the modern curation recipe's survivors
    * ([[graft.operators.PipelineV2Queries]]: boilerplate excision →
    * Gopher rules on the cleaned stream → KN band policy → soft dedup
    * weights → DSIR admission → leak-free cluster-keyed split), packed
    * per (source, split) like v1. Each row additionally carries the
    * soft-dedup `weight_ppm` (10⁶/cluster-size — the trainer's sampling
    * weight; Σ per cluster ≈ 10⁶) and `toks` is the EXCISED token count
    * (what a loader actually reads), not the raw one. Cross-consistency
    * with the registered `q_corpus_pipeline_v2` funnel — row counts,
    * token totals, split partition — is pinned by CorpusPipelineSpec. */
  def manifestV2(spark: SparkSession, sfDir: String,
                 pareto: Boolean = false): DataFrame =
    manifestV2From(
      graft.operators.PipelineV2Queries.survivorFrame(spark, sfDir, pareto))

  /** The packing tail of [[manifestV2]] over an already-computed
    * survivor frame — split out so an artifact build that also persists
    * the per-doc level frame ([[graft.operators.V2ManifestIndex]]) runs
    * the funnel join tree ONCE, not once per output table. */
  def manifestV2From(sv0: DataFrame): DataFrame = {
    val sv = sv0.filter(col("level") >= 5) // all survivors (train + val + test)
    val gate = substring(
      md5(concat(lit("split|"), col("cluster").cast("string"))), 1, 2)
    val split = sv
      .withColumn("split",
        when(gate < "cd", "train").when(gate < "e6", "val").otherwise("test"))
      .select(col("doc_id"), col("source"), col("split"),
        col("kept").as("toks"), col("w_ppm").as("weight_ppm"))
    graft.operators.ShardPacking.pack(split, Seq("source", "split"), budget = 2000)
      .select(col("doc_id"), col("source"), col("split"),
        col("shard"), col("toks"), col("weight_ppm"))
  }

  /** Write the manifest partitioned by split (directory-prunable) and
    * return what was written. */
  def writeManifest(spark: SparkSession, sfDir: String, outDir: String): DataFrame = {
    val m = manifest(spark, sfDir)
    m.write.mode("overwrite").partitionBy("split").parquet(s"$outDir/manifest")
    spark.read.parquet(s"$outDir/manifest")
  }

  /** The TRAIN split's loader manifest — the build's final stage: the
    * surviving train documents laid into one global token stream and
    * chunked into fixed L-token training sequences
    * ([[graft.operators.ShardPacking.chunkSequences]]; every sequence
    * but the last holds exactly L tokens, documents cross boundaries,
    * attention masks re-separate them at train time). Consumes the
    * written manifest so the sequence set is exactly the curated
    * survivors — CorpusPipelineSpec pins token conservation against the
    * manifest's own train totals. */
  def sequences(manifestDf: DataFrame, L: Long = 512L): DataFrame =
    graft.operators.ShardPacking.chunkSequences(
      manifestDf.filter(col("split") === "train")
        .select("doc_id", "toks").filter(col("toks") > 0), L)

  /** Temperature epoch schedule over a (written) v2 manifest's TRAIN
    * slice — the production form of the registered `q_corpus_schedule`:
    * the funnel runs once into the manifest, and the schedule kernel's
    * double consumption (targets agg + prefix window) hits a parquet
    * read instead of recomputing the survivor join tree. Row-identical
    * to the self-contained query (CorpusPipelineSpec pins it). */
  def epochSchedule(manifestDf: DataFrame): DataFrame =
    graft.operators.CorpusQueries.epochScheduleFrame(
      manifestDf.filter(col("split") === "train")
        .select(col("doc_id"), col("source"),
          expr("toks * weight_ppm div 1000000").as("dtoks")))

  /** Write the train-split sequence manifest next to the doc manifest. */
  def writeSequences(spark: SparkSession, manifestDf: DataFrame,
                     outDir: String, L: Long = 512L): DataFrame = {
    sequences(manifestDf, L)
      .write.mode("overwrite").parquet(s"$outDir/sequences")
    spark.read.parquet(s"$outDir/sequences")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(1).getOrElse("/tmp/graft_corpus_out")
    val spark = graft.Session.local("corpus-build")
    println(s"=== corpus build: $sfDir -> $outDir")
    graft.operators.CorpusQueries.curationFunnel.run(spark, sfDir).show(truncate = false)
    val m = writeManifest(spark, sfDir, outDir)
    m.groupBy("split").agg(count(lit(1)).as("n_docs"),
      sum("toks").as("tokens"), countDistinct(col("source"), col("shard")).as("n_shards"))
      .orderBy("split").show(truncate = false)
    val seqs = writeSequences(spark, m, outDir)
    seqs.agg(count(lit(1)).as("n_sequences"), sum("toks").as("train_tokens"),
      sum("n_full_docs").as("unsplit_docs")).show(truncate = false)
    spark.stop()
  }
}
