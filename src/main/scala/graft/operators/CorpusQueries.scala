package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.functions.TextFunctions._
import graft.plans.Materialize.MaterializeOps

/** Corpus-construction operators beyond dedup: the bookkeeping passes a
  * large-scale training-data build runs between "raw crawl" and "training
  * shards" — benchmark-contamination detection, intra-document repetition
  * signals, deterministic split assignment, token-budget shard packing,
  * and PII redaction.
  *
  * Scale design notes (100 TB):
  *  - contamination is a shuffle equi-join on the n-gram value; the
  *    benchmark side is small by construction (eval sets are thousands of
  *    docs, not billions), so AQE broadcasts it at runtime — no static
  *    hint, per the PlanHygieneSpec rule.
  *  - repetition/scrub/split are pure per-row map + hash-agg work (no
  *    joins), linear in corpus size.
  *  - shard packing windows are PARTITIONED by source — the global-sort
  *    single-reducer shape is deliberately avoided; each source packs in
  *    parallel and shard ids are (source, seq) pairs.
  */
object CorpusQueries {

  private val W = """string_split_regex(trim(text), '\s+')"""

  /** The unexecuted benchmark-gram plan: distinct word 5-grams of the
    * held-out eval slice (`doc_id % 97 = 0` stands in for "the benchmark
    * suite"). Plan-only; runtime callers go through [[benchGrams]]. */
  private[graft] def benchGramsPlan(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame =
    Tables.documents(s, d)
      .filter(col("doc_id") % 97 === 0)
      .select(explode(array_distinct(wordShingles(tokens(col("text")), 5))).as("g"))
      .distinct()

  /** The benchmark-gram set as a persisted [[graft.sources.IndexCatalog]]
    * artifact, built once per (run, corpus). A nightly corpus build
    * decontaminates against a FIXED benchmark suite — recomputing the
    * gram set in-plan on every query is the same lifecycle bug class the
    * IVF/LSH tiers fixed in round 4. [[contamination]],
    * [[curationFunnel]] and the corpus pipeline all consume this scan. */
  private[graft] def benchGrams(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val dir = graft.sources.IndexCatalog.ensure(
      s, s"bench_grams_${graft.sources.IndexCatalog.tag(d)}",
      inputs = Seq(d),
      owners = Seq(CorpusQueries.getClass, Tables.getClass,
        graft.functions.TextFunctions.getClass,
        classOf[graft.plans.WordShingles])) { dir =>
      benchGramsPlan(s, d).write.mode("overwrite").parquet(s"$dir/grams")
    }
    graft.sources.IndexCatalog.read(s, dir, "grams")
  }

  /** Benchmark-contamination check: which training documents share word
    * 5-grams with the held-out eval slice (`doc_id % 97 = 0` stands in
    * for "the benchmark suite")? The canonical decontamination pass of an
    * LLM corpus build (n-gram collision, not similarity — one shared
    * 5-gram flags the doc for review).
    *
    * Plan: explode distinct 5-grams, equi-join train-side grams against
    * the PERSISTED benchmark gram artifact ([[benchGrams]] — built once
    * per run, not recomputed in-plan), count collisions per doc. The
    * benchmark side stays small, so AQE picks a broadcast at runtime. */
  val contamination = Q(
    "q_text_contamination",
    s"""WITH s AS (
       |  SELECT doc_id,
       |    list_distinct([array_to_string(w[i:i+4], ' ')
       |                   for i in range(1, len(w) - 3)]) AS sh
       |  FROM (SELECT doc_id, $W AS w FROM documents)
       |), ex AS (SELECT doc_id, unnest(sh) AS g FROM s),
       |bench AS (SELECT DISTINCT g FROM ex WHERE doc_id % 97 = 0),
       |shared AS (
       |  SELECT e.doc_id, count(*) AS n_shared
       |  FROM ex e JOIN bench b USING (g)
       |  WHERE e.doc_id % 97 <> 0 GROUP BY e.doc_id
       |), tot AS (
       |  SELECT doc_id, CAST(len(sh) AS BIGINT) AS n_shingles
       |  FROM s WHERE doc_id % 97 <> 0
       |)
       |SELECT t.doc_id, t.n_shingles,
       |  CAST(coalesce(sh.n_shared, 0) AS BIGINT) AS n_shared,
       |  CAST(coalesce(sh.n_shared, 0) > 0 AS INTEGER) AS contaminated
       |FROM tot t LEFT JOIN shared sh USING (doc_id)
       |ORDER BY t.doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
      .select(col("doc_id"),
        array_distinct(wordShingles(tokens(col("text")), 5)).as("sh"))
    val ex = docs.select(col("doc_id"), explode(col("sh")).as("g"))
    val shared = ex.filter(col("doc_id") % 97 =!= 0)
      .join(benchGrams(s, d), "g")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    docs.filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"), size(col("sh")).cast("long").as("n_shingles"))
      .join(shared, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_shingles"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) > 0).cast("int").as("contaminated"))
      .orderBy("doc_id")
  }

  /** Intra-document repetition signals (the Gopher/C4 quality-rule tier):
    * per doc, total vs distinct word 2-grams, the most-repeated 2-gram's
    * count, and the derived duplicate-fraction / top-share ratios.
    *
    * Deliberately explode + two hash-aggs, NOT a per-row higher-order
    * lambda: `transform`/`filter` lambdas run interpreted (~20×), while
    * explode + groupBy stays inside whole-stage codegen and map-side
    * partial aggregation — the shape that survives a 100× corpus. */
  val repetition = Q(
    "q_text_repetition",
    s"""WITH e AS (
       |  SELECT doc_id, unnest([array_to_string(w[i:i+1], ' ')
       |                         for i in range(1, len(w))]) AS g
       |  FROM (SELECT doc_id, $W AS w FROM documents)
       |), pc AS (SELECT doc_id, g, count(*) AS c FROM e GROUP BY doc_id, g),
       |agg AS (
       |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_grams,
       |    count(*) AS n_distinct, CAST(max(c) AS BIGINT) AS max_rep
       |  FROM pc GROUP BY doc_id
       |)
       |SELECT doc_id, n_grams, n_distinct, max_rep,
       |  (n_grams - n_distinct) * 1.0 / n_grams AS dup_fraction,
       |  max_rep * 1.0 / n_grams AS top_share
       |FROM agg ORDER BY doc_id""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        explode(wordShingles(tokens(col("text")), 2)).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum("c").as("n_grams"), count(lit(1)).as("n_distinct"),
        max("c").as("max_rep"))
      .select(
        col("doc_id"), col("n_grams"), col("n_distinct"), col("max_rep"),
        ((col("n_grams") - col("n_distinct")).cast("double") / col("n_grams"))
          .as("dup_fraction"),
        (col("max_rep").cast("double") / col("n_grams")).as("top_share"))
      .orderBy("doc_id")
  }

  /** Deterministic train/val/test assignment: an md5 hash-gate over
    * doc_id (same family as [[SampleQueries]] — rerun-stable, partition-
    * independent, no RNG) splits ~80/10/10 on the first two hex chars
    * (train < 'cd' = 205/256, val < 'e6' = 29/256, else test), with
    * per-split document / token / source accounting. Pure map + one
    * hash-agg — the split of a 100 TB corpus is one linear pass. */
  val splitAssign = Q(
    "q_split_assign",
    s"""SELECT split, count(*) AS n_docs,
       |  CAST(sum(len($W)) AS BIGINT) AS ws_tokens,
       |  count(DISTINCT source) AS n_sources
       |FROM (
       |  SELECT text, source,
       |    CASE WHEN substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 2) < 'cd'
       |         THEN 'train'
       |         WHEN substr(md5('split|' || CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
       |         THEN 'val' ELSE 'test' END AS split
       |  FROM documents
       |) GROUP BY split ORDER BY split""".stripMargin) { (s, d) =>
    val gate = substring(md5(concat(lit("split|"), col("doc_id").cast("string"))), 1, 2)
    Tables.documents(s, d)
      .select(col("text"), col("source"),
        when(gate < "cd", "train").when(gate < "e6", "val").otherwise("test")
          .as("split"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(tokens(col("text")))).as("ws_tokens"),
        countDistinct(col("source")).as("n_sources"))
      .orderBy("split")
  }

  /** Temperature-scaled source-mixture weights (α = 3/4): the
    * reweighting pass of a multi-domain/multilingual corpus build —
    * sampling proportionally to tokens^α flattens the mixture so large
    * domains stop drowning small ones (the standard α-sampling rule).
    * Hash-exact despite the fractional power: tokens^(3/4) =
    * sqrt(tokens·sqrt(tokens)) — two IEEE-correctly-rounded sqrts, no
    * pow — and the normalizer folds the per-source weights in a FIXED
    * order (sorted collect + left fold on both engines), so every
    * double matches bit-for-bit and the ppm shares floor identically.
    * One hash-agg over the corpus + a |sources|-row window; shares
    * serve the deterministic md5-gate sampler downstream. */
  val mixtureWeights = Q(
    "q_mixture_weights",
    s"""WITH src AS (
       |  SELECT source, count(*) AS n_docs,
       |    CAST(sum(len($W)) AS BIGINT) AS toks
       |  FROM documents GROUP BY source
       |), w AS (
       |  SELECT source, n_docs, toks, sqrt(toks * sqrt(toks)) AS wt FROM src
       |), tw AS (
       |  SELECT *, list_reduce(
       |    list(wt) OVER (ORDER BY source
       |                   ROWS BETWEEN UNBOUNDED PRECEDING
       |                   AND UNBOUNDED FOLLOWING),
       |    (a, b) -> a + b) AS totw
       |  FROM w
       |)
       |SELECT source, n_docs, toks,
       |  CAST(floor(1000000 * wt / totw) AS BIGINT) AS share_ppm
       |FROM tw ORDER BY source""".stripMargin) { (s, d) =>
    val w = Tables.documents(s, d)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(tokens(col("text")))).cast("long").as("toks"))
      .withColumn("wt", sqrt(col("toks") * sqrt(col("toks"))))
    // normalizer as a ONE-row aggregate broadcast back onto the
    // |sources|-row frame (the q_ann_int8 stats-frame idiom) — a
    // constant-key window here gets its partition key constant-folded
    // by AQE's re-optimization, resurfacing the single-partition
    // WindowExec warning the bench log is kept clean of
    val tot = w.agg(
      aggregate(
        transform(
          array_sort(collect_list(struct(col("source"), col("wt")))),
          s => s("wt")),
        lit(0.0), (acc, x) => acc + x).as("totw"))
    w.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("toks"),
        floor(lit(1000000) * col("wt") / col("totw")).cast("long")
          .as("share_ppm"))
      .orderBy("source")
  }

  /** Token-budget shard packing: within each source, documents are
    * packed into contiguous shards of ~2000 whitespace tokens — the
    * "write N-token training files" step. A document lands in the shard
    * of its cumulative-token prefix (exclusive), so shard boundaries are
    * deterministic and single-pass.
    *
    * TWO-LEVEL at scale ([[ShardPacking]]): documents sub-bucket by an
    * md5 gate, cumulative sums run per (source, bucket) — bounded at
    * ~1/16 of a source instead of a whole source on one reducer — and
    * the tiny per-bucket totals prefix-sum + broadcast back. The packing
    * order is (bucket, doc_id); the oracle pins the decomposition by
    * computing the SAME permutation as one plain windowed sum. */
  val packShards = Q(
    "q_pack_shards",
    s"""WITH t AS (
       |  SELECT source, doc_id, CAST(len($W) AS BIGINT) AS toks,
       |    ${ShardPacking.bucketSql("doc_id")} AS pack_bucket
       |  FROM documents
       |), c AS (
       |  SELECT source, doc_id, toks,
       |    coalesce(sum(toks) OVER (PARTITION BY source
       |      ORDER BY pack_bucket, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
       |  FROM t
       |)
       |SELECT source, CAST(cum_before // 2000 AS BIGINT) AS shard,
       |  count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS tokens,
       |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
       |FROM c GROUP BY source, shard
       |ORDER BY source, shard""".stripMargin) { (s, d) =>
    val t = Tables.documents(s, d)
      .select(col("source"), col("doc_id"),
        size(tokens(col("text"))).cast("long").as("toks"))
    ShardPacking.pack(t, Seq("source"), budget = 2000)
      .groupBy(col("source"), col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum("toks").as("tokens"),
        min("doc_id").as("first_doc"), max("doc_id").as("last_doc"))
      .orderBy("source", "shard")
  }

  /** Curriculum-ordered shard packing: documents sorted EASY → HARD by a
    * deterministic difficulty score (mean word length in milli-chars —
    * the classic readability proxy, exact integer arithmetic), then
    * packed into token-budget shards in that global order, so shard k is
    * strictly easier than shard k+1 — the schedule a curriculum-learning
    * run feeds the trainer. Per-shard summary keeps the result
    * shard-count-sized; monotone non-overlapping [min_score, max_score]
    * ranges across shards are the checkable curriculum invariant.
    *
    * Scale shape: [[ShardPacking.packOrdered]] — a RANGE-bucketed
    * two-level prefix sum (the [[packShards]] decomposition with the
    * hash gate swapped for `score div width`), so no window partition
    * ever holds more than one score-bucket of one corpus slice and the
    * global sort the naive plan needs never happens. The oracle pins the
    * whole decomposition with one plain windowed sum over
    * (score, doc_id). */
  val packCurriculum = Q(
    "q_pack_curriculum",
    s"""WITH t AS (
       |  SELECT doc_id, CAST(len(w) AS BIGINT) AS toks,
       |    CAST(list_sum(list_transform(w, x -> length(x))) * 1000 // len(w)
       |         AS BIGINT) AS score
       |  FROM (SELECT doc_id, $W AS w FROM documents) WHERE len(w) > 0
       |), c AS (
       |  SELECT doc_id, toks, score,
       |    coalesce(sum(toks) OVER (ORDER BY score, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
       |  FROM t
       |)
       |SELECT CAST(cum_before // 2000 AS BIGINT) AS shard,
       |  count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS tokens,
       |  min(score) AS min_score, max(score) AS max_score
       |FROM c GROUP BY shard ORDER BY shard""".stripMargin) { (s, d) =>
    val t = Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"),
        size(col("w")).cast("long").as("toks"),
        expr("""aggregate(w, CAST(0 AS BIGINT), (a, x) -> a + length(x))
                 * 1000 div size(w)""").as("score"))
      // null-totality (ADVICE r9): a NULL text row yields null
      // toks/score — Spark window sums would skip it while the oracle
      // diverges; drop it here exactly as packSequences does
      .filter(col("toks") > 0)
    ShardPacking.packOrdered(t, budget = 2000, bucketWidth = 1000)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum("toks").as("tokens"),
        min("score").as("min_score"), max("score").as("max_score"))
      .orderBy("shard")
  }

  /** GPT-style context-window sequence packing: every document's tokens
    * are laid into ONE global stream (deterministic (bucket, doc_id)
    * concat order) and the stream is chunked into fixed L=512-token
    * training sequences, documents crossing sequence boundaries — the
    * standard concat-and-chunk loader (attention masks re-separate docs
    * at train time). The manifest here is the per-sequence composition:
    * how many documents contribute tokens, how many sit FULLY inside
    * (never split), and the token fill — every sequence but the final
    * one must hold exactly L tokens, the invariant PackSequencesSpec
    * pins.
    *
    * Scale shape: the global token offset comes from
    * [[ShardPacking.packGlobal]] (hash-bucketed two-level prefix sum —
    * no corpus-wide window, no global sort), the boundary-span explode
    * fans each document out to `toks/L + 1` rows (tiny), and the
    * per-sequence rollup is one hash-agg on `seq`. The oracle replays
    * the identical permutation with one plain windowed sum. */
  val packSequences = Q(
    "q_pack_sequences",
    s"""WITH t AS (
       |  SELECT doc_id, CAST(len($W) AS BIGINT) AS toks,
       |    ${ShardPacking.bucketSql("doc_id")} AS pack_bucket
       |  FROM documents WHERE len($W) > 0
       |), c AS (
       |  SELECT doc_id, toks,
       |    CAST(coalesce(sum(toks) OVER (ORDER BY pack_bucket, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS cum_before
       |  FROM t
       |), spans AS (
       |  SELECT doc_id, toks, cum_before,
       |    unnest(range(cum_before // 512, (cum_before + toks - 1) // 512 + 1))
       |      AS seq
       |  FROM c
       |)
       |SELECT seq, count(*) AS n_docs,
       |  CAST(sum(least(512 * (seq + 1), cum_before + toks)
       |           - greatest(512 * seq, cum_before)) AS BIGINT) AS toks,
       |  CAST(sum(CASE WHEN cum_before >= 512 * seq
       |                 AND cum_before + toks <= 512 * (seq + 1)
       |                THEN 1 ELSE 0 END) AS BIGINT) AS n_full_docs,
       |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
       |FROM spans GROUP BY seq ORDER BY seq""".stripMargin) { (s, d) =>
    val t = Tables.documents(s, d)
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("toks"))
      .filter(col("toks") > 0)
    ShardPacking.chunkSequences(t, L = 512L)
  }

  /** The full curation funnel with per-stage accounting: raw →
    * quality-gated → benchmark-decontaminated → near-dup-deduplicated,
    * reporting surviving docs and tokens AT EACH STAGE — the loss
    * report every corpus release ships. One pass: each document gets a
    * survival level (how many gates it clears, gates ordered as a
    * funnel), one hash-agg computes all four stage totals as
    * conditional sums, `stack` pivots them to rows. The quality gate is
    * integer cross-multiplied (`n_distinct·10 ≥ n_words·3` for ratio ≥
    * 0.3) — no float thresholds to drift. Dedup consumes the PERSISTED
    * keep-list artifact ([[DedupQueries.lshKeepList]]) and contamination
    * the persisted [[benchGrams]] artifact — the funnel recomputes
    * neither. */
  val curationFunnel = Q(
    "q_curation_funnel",
    s"""WITH RECURSIVE ${DedupQueries.lshCtes},
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM vpairs
       |  UNION SELECT doc_b, doc_a FROM vpairs
       |), walk(id, reach) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT w.id, e.dst FROM walk w JOIN edges e ON e.src = w.reach
       |), drops AS (
       |  SELECT id FROM walk GROUP BY id HAVING id <> min(reach)
       |), g5 AS (
       |  SELECT doc_id,
       |    unnest(list_distinct([array_to_string(w[i:i+4], ' ')
       |                          for i in range(1, len(w) - 3)])) AS g
       |  FROM (SELECT doc_id, $W AS w FROM documents)
       |), bench AS (SELECT DISTINCT g FROM g5 WHERE doc_id % 97 = 0),
       |shared AS (
       |  SELECT g5.doc_id, count(*) AS n_shared
       |  FROM g5 JOIN bench USING (g) GROUP BY g5.doc_id
       |), lvl AS (
       |  SELECT d.doc_id, len(w) AS toks,
       |    CASE
       |      WHEN NOT (len(w) >= 20 AND len(list_distinct(w)) * 10 >= len(w) * 3)
       |        THEN 0
       |      WHEN d.doc_id % 97 = 0 OR coalesce(s.n_shared, 0) > 0 THEN 1
       |      WHEN d.doc_id IN (SELECT id FROM drops) THEN 2
       |      ELSE 3 END AS level
       |  FROM (SELECT doc_id, $W AS w FROM documents) d
       |  LEFT JOIN shared s USING (doc_id)
       |)
       |SELECT stage, n_docs, ws_tokens FROM (
       |  SELECT '0_raw' AS stage, count(*) AS n_docs,
       |    CAST(sum(toks) AS BIGINT) AS ws_tokens FROM lvl
       |  UNION ALL SELECT '1_quality', count(*), CAST(sum(toks) AS BIGINT)
       |    FROM lvl WHERE level >= 1
       |  UNION ALL SELECT '2_decontaminated', count(*), CAST(sum(toks) AS BIGINT)
       |    FROM lvl WHERE level >= 2
       |  UNION ALL SELECT '3_deduplicated', count(*), CAST(sum(toks) AS BIGINT)
       |    FROM lvl WHERE level >= 3
       |) ORDER BY stage""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
      .select(col("doc_id"),
        size(tokens(col("text"))).cast("long").as("toks"),
        size(array_distinct(tokens(col("text")))).cast("long").as("dtoks"),
        array_distinct(wordShingles(tokens(col("text")), 5)).as("sh"))
    val ex = docs.select(col("doc_id"), explode(col("sh")).as("g"))
    val shared = ex.join(benchGrams(s, d), "g")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    val dropped = DedupQueries.lshKeepList(s, d)
      .filter(!col("keep"))
      .select(col("doc_id"), lit(true).as("is_dropped"))
    val lvl = docs
      .join(shared, Seq("doc_id"), "left")
      .join(dropped, Seq("doc_id"), "left")
      .select(col("toks"),
        when(!(col("toks") >= 20 && col("dtoks") * 10 >= col("toks") * 3), 0)
          .when(col("doc_id") % 97 === 0 || coalesce(col("n_shared"), lit(0L)) > 0, 1)
          .when(coalesce(col("is_dropped"), lit(false)), 2)
          .otherwise(3).as("level"))
    def stage(k: Int) = Seq(
      sum(when(col("level") >= k, 1L).otherwise(0L)),
      sum(when(col("level") >= k, col("toks")).otherwise(0L)))
    val totals = lvl.agg(
      stage(0)(0).as("n0"), stage(0)(1).as("t0"),
      stage(1)(0).as("n1"), stage(1)(1).as("t1"),
      stage(2)(0).as("n2"), stage(2)(1).as("t2"),
      stage(3)(0).as("n3"), stage(3)(1).as("t3"))
    totals.select(expr(
      """stack(4,
        |  '0_raw', n0, t0,
        |  '1_quality', n1, t1,
        |  '2_decontaminated', n2, t2,
        |  '3_deduplicated', n3, t3) AS (stage, n_docs, ws_tokens)""".stripMargin))
      .orderBy("stage")
  }

  /** PII redaction: regex scrub of emails, phone numbers, and IPv4
    * addresses with per-row redaction counts — the compliance pass of a
    * corpus release. The contact text is synthesized deterministically
    * from `customer` (the tables carry no real PII), the SCRUBBER is the
    * operator under test. Patterns are restricted to the syntax subset
    * Java regex and RE2 agree on (no backrefs, no lookaround). Pure
    * per-row map — linear at any scale. */
  val piiScrub = {
    val email = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
    val ip = "\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}"
    val phone = "\\d{3}-\\d{4}"
    Q(
      "q_pii_scrub",
      s"""WITH raw AS (
         |  SELECT c_custkey,
         |    c_name || ' <' || lower(replace(c_name, '#', '.')) ||
         |    '@example.com> phone 555-01' ||
         |    lpad(CAST(c_custkey % 100 AS VARCHAR), 2, '0') || ' ip 10.0.' ||
         |    CAST(c_custkey % 256 AS VARCHAR) || '.' ||
         |    CAST((c_custkey * 7) % 256 AS VARCHAR) AS txt
         |  FROM customer
         |)
         |SELECT c_custkey,
         |  CAST(len(regexp_extract_all(txt, '$email')) AS INTEGER) AS n_emails,
         |  CAST(len(regexp_extract_all(txt, '$ip')) AS INTEGER) AS n_ips,
         |  CAST(len(regexp_extract_all(
         |    regexp_replace(regexp_replace(txt, '$email', '<EMAIL>', 'g'),
         |                   '$ip', '<IP>', 'g'), '$phone')) AS INTEGER) AS n_phones,
         |  md5(regexp_replace(regexp_replace(regexp_replace(txt,
         |    '$email', '<EMAIL>', 'g'), '$ip', '<IP>', 'g'),
         |    '$phone', '<PHONE>', 'g')) AS scrubbed_md5
         |FROM raw ORDER BY c_custkey""".stripMargin) { (s, d) =>
      val txt = concat(
        col("c_name"), lit(" <"), lower(regexp_replace(col("c_name"), "#", ".")),
        lit("@example.com> phone 555-01"),
        lpad((col("c_custkey") % 100).cast("string"), 2, "0"), lit(" ip 10.0."),
        (col("c_custkey") % 256).cast("string"), lit("."),
        ((col("c_custkey") * 7) % 256).cast("string"))
      val noEmail = regexp_replace(col("txt"), email, "<EMAIL>")
      val noIp = regexp_replace(noEmail, ip, "<IP>")
      Tables.customer(s, d)
        .select(col("c_custkey"), txt.as("txt"))
        .select(
          col("c_custkey"),
          regexp_count(col("txt"), lit(email)).cast("int").as("n_emails"),
          regexp_count(col("txt"), lit(ip)).cast("int").as("n_ips"),
          regexp_count(noIp, lit(phone)).cast("int").as("n_phones"),
          md5(regexp_replace(noIp, phone, "<PHONE>")).as("scrubbed_md5"))
        .orderBy("c_custkey")
    }
  }

  /** Leakage-free train/val/test split — the dedup-aware fix to
    * `q_split_assign`: two near-duplicate documents must never straddle
    * the train/test boundary (that's evaluation contamination by
    * construction), so every document in an LSH duplicate CLUSTER is
    * assigned by hashing its cluster's canonical id instead of its own.
    * Consumes the persisted [[DedupQueries.lshKeepList]] cluster labels
    * — no re-clustering in this plan; singleton documents keep the
    * baseline md5-gate assignment bit-for-bit. `n_moved` counts the
    * documents whose split CHANGED under cluster hashing — the measured
    * leakage the naive split would have shipped.
    *
    * Scale: one left equi-join of the corpus against the keep-list
    * artifact + per-row hashing + one hash-agg; linear, shuffle-on-key.
    * The oracle replays the LSH pipeline and the same transitive
    * closure as `q_dedup_resolve`, then both gate hashes. */
  /** The corpus DATA CARD — one datasheet row per source, the summary a
    * dataset release ships ("Datasheets for Datasets"-shaped): volume
    * (docs, tokens, integer tokens-per-doc), language profile (majority
    * lang + its ppm share, deterministic mode), near-duplicate loss
    * (docs the LSH keep-list drops), and the leakage-free split census
    * (train/val/test doc counts under the cluster-keyed gate of
    * `q_split_leakfree`). Everything composes PERSISTED artifacts — the
    * keep-list is read, not re-resolved — plus one corpus scan.
    *
    * Scale shape: one scan + one left equi-join against the keep-list +
    * two source-keyed hash-aggs + a |sources|-row rank-1 window. The
    * oracle replays the LSH chain + transitive closure (the
    * `q_split_leakfree` pattern) plus the mode window. */
  val corpusDatacard = Q(
    "q_corpus_datacard",
    s"""WITH RECURSIVE ${DedupQueries.lshCtes},
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM vpairs
       |  UNION
       |  SELECT doc_b, doc_a FROM vpairs
       |), walk(id, reach) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT w.id, e.dst FROM walk w JOIN edges e ON e.src = w.reach
       |), cl AS (SELECT id AS doc_id, min(reach) AS cluster FROM walk GROUP BY id),
       |base AS (
       |  SELECT d.source, d.doc_id, d.lang, CAST(len($W) AS BIGINT) AS toks,
       |    coalesce(cl.cluster = d.doc_id OR cl.cluster IS NULL, true) AS keep,
       |    CASE WHEN substr(md5('split|' ||
       |             CAST(coalesce(cl.cluster, d.doc_id) AS VARCHAR)), 1, 2) < 'cd'
       |         THEN 'train'
       |         WHEN substr(md5('split|' ||
       |             CAST(coalesce(cl.cluster, d.doc_id) AS VARCHAR)), 1, 2) < 'e6'
       |         THEN 'val' ELSE 'test' END AS split
       |  FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id
       |), per AS (
       |  SELECT source, count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS n_tokens,
       |    CAST(sum(toks) // count(*) AS BIGINT) AS toks_per_doc,
       |    CAST(sum(CASE WHEN keep THEN 0 ELSE 1 END) AS BIGINT) AS n_dup_dropped,
       |    CAST(sum(CASE WHEN split = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
       |    CAST(sum(CASE WHEN split = 'val' THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
       |    CAST(sum(CASE WHEN split = 'test' THEN 1 ELSE 0 END) AS BIGINT) AS n_test
       |  FROM base GROUP BY source
       |), lt AS (
       |  SELECT source, lang AS top_lang, n AS top_lang_n FROM (
       |    SELECT source, lang, count(*) AS n, row_number() OVER (
       |      PARTITION BY source ORDER BY count(*) DESC, lang) AS rk
       |    FROM base GROUP BY source, lang) WHERE rk = 1
       |)
       |SELECT p.source, p.n_docs, p.n_tokens, p.toks_per_doc,
       |  l.top_lang, CAST(l.top_lang_n * 1000000 // p.n_docs AS BIGINT)
       |    AS top_lang_ppm,
       |  p.n_dup_dropped, p.n_train, p.n_val, p.n_test
       |FROM per p JOIN lt l USING (source)
       |ORDER BY p.source""".stripMargin) { (s, d) =>
    def gate(c: org.apache.spark.sql.Column) =
      substring(md5(concat(lit("split|"), c.cast("string"))), 1, 2)
    val base = Tables.documents(s, d)
      .select(col("source"), col("doc_id"), col("lang"),
        size(tokens(col("text"))).cast("long").as("toks"))
      .join(DedupQueries.lshKeepList(s, d).select("doc_id", "cluster", "keep"),
        Seq("doc_id"), "left")
      .withColumn("keep", coalesce(col("keep"), lit(true)))
      .withColumn("g", gate(coalesce(col("cluster"), col("doc_id"))))
      .withColumn("split",
        when(col("g") < "cd", "train").when(col("g") < "e6", "val")
          .otherwise("test"))
    val per = base.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("toks").as("n_tokens"),
        sum(when(col("keep"), 0L).otherwise(1L)).as("n_dup_dropped"),
        sum(when(col("split") === "train", 1L).otherwise(0L)).as("n_train"),
        sum(when(col("split") === "val", 1L).otherwise(0L)).as("n_val"),
        sum(when(col("split") === "test", 1L).otherwise(0L)).as("n_test"))
      .withColumn("toks_per_doc", expr("n_tokens div n_docs"))
    val lt = base.groupBy("source", "lang").agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("source").orderBy(col("n").desc, col("lang"))))
      .filter(col("rk") === 1)
      .select(col("source"), col("lang").as("top_lang"), col("n").as("tln"))
    per.join(lt, Seq("source"))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        col("toks_per_doc"), col("top_lang"),
        expr("tln * 1000000 div n_docs").as("top_lang_ppm"),
        col("n_dup_dropped"), col("n_train"), col("n_val"), col("n_test"))
      .orderBy("source")
  }

  val splitLeakfree = Q(
    "q_split_leakfree",
    s"""WITH RECURSIVE ${DedupQueries.lshCtes},
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM vpairs
       |  UNION
       |  SELECT doc_b, doc_a FROM vpairs
       |), walk(id, reach) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT w.id, e.dst FROM walk w JOIN edges e ON e.src = w.reach
       |), cl AS (SELECT id AS doc_id, min(reach) AS cluster FROM walk GROUP BY id),
       |asg AS (
       |  SELECT d.doc_id, CAST(len($W) AS BIGINT) AS toks,
       |    CASE WHEN substr(md5('split|' || CAST(d.doc_id AS VARCHAR)), 1, 2) < 'cd'
       |         THEN 'train'
       |         WHEN substr(md5('split|' || CAST(d.doc_id AS VARCHAR)), 1, 2) < 'e6'
       |         THEN 'val' ELSE 'test' END AS own_split,
       |    CASE WHEN substr(md5('split|' ||
       |             CAST(coalesce(cl.cluster, d.doc_id) AS VARCHAR)), 1, 2) < 'cd'
       |         THEN 'train'
       |         WHEN substr(md5('split|' ||
       |             CAST(coalesce(cl.cluster, d.doc_id) AS VARCHAR)), 1, 2) < 'e6'
       |         THEN 'val' ELSE 'test' END AS split
       |  FROM documents d LEFT JOIN cl ON cl.doc_id = d.doc_id
       |)
       |SELECT split, count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS ws_tokens,
       |  CAST(sum(CASE WHEN split <> own_split THEN 1 ELSE 0 END) AS BIGINT)
       |    AS n_moved
       |FROM asg GROUP BY split ORDER BY split""".stripMargin) { (s, d) =>
    def gate(c: org.apache.spark.sql.Column) =
      substring(md5(concat(lit("split|"), c.cast("string"))), 1, 2)
    def splitOf(c: org.apache.spark.sql.Column) =
      when(gate(c) < "cd", "train").when(gate(c) < "e6", "val").otherwise("test")
    Tables.documents(s, d)
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("toks"))
      .join(DedupQueries.lshKeepList(s, d).select("doc_id", "cluster"),
        Seq("doc_id"), "left")
      .withColumn("own_split", splitOf(col("doc_id")))
      .withColumn("split", splitOf(coalesce(col("cluster"), col("doc_id"))))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("toks")).as("ws_tokens"),
        sum(when(col("split") =!= col("own_split"), 1L).otherwise(0L))
          .as("n_moved"))
      .orderBy("split")
  }

  /** Per-source token-budget sampling — the "data recipe" primitive: cap
    * every source at the SAME share of the corpus (total_tokens div 40,
    * i.e. half the uniform 1/20 share — a budget that BINDS on every
    * source) by walking its documents in a deterministic md5-gated order
    * and keeping the prefix whose running token sum fits. Equal budgets
    * are the fully-flattened mixture; a temperature recipe swaps the
    * per-source constant for `q_mixture_weights`' ppm share of the
    * global budget — the mechanism (hash order + partitioned running
    * sum + prefix cut) is identical.
    *
    * Scale: the running sum is a window PARTITIONED BY source — each
    * source packs independently in parallel (the `q_pack_shards` rule:
    * no global-sort single reducer), the budget is a 1-row aggregate
    * broadcast onto the scan (the `q_mixture_weights` normalizer-frame
    * idiom), and the hash order makes the kept prefix reproducible
    * under any partitioning. */
  val tokenBudget = Q(
    "q_token_budget",
    s"""WITH t AS (
       |  SELECT source, doc_id, CAST(len($W) AS BIGINT) AS toks,
       |    md5('sample|' || CAST(doc_id AS VARCHAR)) AS gate
       |  FROM documents
       |), tot AS (SELECT CAST(sum(toks) AS BIGINT) AS t_total FROM t),
       |c AS (
       |  SELECT source, toks, tot.t_total,
       |    sum(toks) OVER (PARTITION BY source ORDER BY gate, doc_id
       |                    ROWS UNBOUNDED PRECEDING) AS cum
       |  FROM t CROSS JOIN tot
       |)
       |SELECT source, count(*) AS n_kept, CAST(sum(toks) AS BIGINT) AS kept_tokens
       |FROM c WHERE cum <= t_total // 40 GROUP BY source
       |ORDER BY source""".stripMargin) { (s, d) =>
    val t = Tables.documents(s, d)
      .select(col("source"), col("doc_id"),
        size(tokens(col("text"))).cast("long").as("toks"),
        md5(concat(lit("sample|"), col("doc_id").cast("string"))).as("gate"))
    val tot = t.agg(sum(col("toks")).as("t_total"))
    t.crossJoin(broadcast(tot))
      .withColumn("cum", sum(col("toks")).over(
        Window.partitionBy("source").orderBy("gate", "doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .filter(col("cum") <= expr("t_total div 40"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"), sum(col("toks")).as("kept_tokens"))
      .orderBy("source")
  }

  /** Temperature-mixture SAMPLING — [[mixtureWeights]] actually applied:
    * a T = total/4 token budget splits across sources by the α = 3/4
    * ppm shares (integer arithmetic, `T · share_ppm // 1e6`), and each
    * source keeps its md5-gate-ordered document prefix up to its own
    * target — the flattening draw itself, where dominant sources get
    * truncated hard and small sources saturate (keep everything, the
    * `saturated` flag). Per-source report: kept docs/tokens vs target
    * vs available.
    *
    * Scale shape: the weights frame is |sources|-row (broadcast), the
    * cum window is PARTITIONED by source ordered by the hash gate —
    * same bounded-window discipline as [[tokenBudget]]; nothing
    * corpus-wide but one hash-agg and the one-row total. At the 80%-
    * crawl skew the crawl partition is the corpus — the window is the
    * [[ShardPacking.pack]] two-level decomposition's candidate if that
    * ever dominates; at a cum-PREFIX gate the window never materializes
    * more than running state per partition. */
  val mixtureSample = Q(
    "q_mixture_sample",
    s"""WITH src AS (
       |  SELECT source, CAST(sum(len($W)) AS BIGINT) AS src_toks
       |  FROM documents GROUP BY source
       |), w AS (
       |  SELECT source, src_toks, sqrt(src_toks * sqrt(src_toks)) AS wt FROM src
       |), tw AS (
       |  SELECT *, list_reduce(
       |    list(wt) OVER (ORDER BY source
       |                   ROWS BETWEEN UNBOUNDED PRECEDING
       |                   AND UNBOUNDED FOLLOWING),
       |    (a, b) -> a + b) AS totw
       |  FROM w
       |), tgt AS (
       |  SELECT source, src_toks,
       |    (SELECT CAST(sum(src_toks) AS BIGINT) FROM src) // 4
       |      * CAST(floor(1000000 * wt / totw) AS BIGINT) // 1000000 AS target
       |  FROM tw
       |), t AS (
       |  SELECT source, doc_id, CAST(len($W) AS BIGINT) AS toks,
       |    md5('sample|' || CAST(doc_id AS VARCHAR)) AS gate
       |  FROM documents
       |), c AS (
       |  SELECT source, toks,
       |    CAST(sum(toks) OVER (PARTITION BY source ORDER BY gate, doc_id
       |                         ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |  FROM t
       |)
       |SELECT g.source,
       |  CAST(coalesce(k.n_kept, 0) AS BIGINT) AS n_kept,
       |  CAST(coalesce(k.kept_tokens, 0) AS BIGINT) AS kept_tokens,
       |  g.target AS target_tokens, g.src_toks AS available_tokens,
       |  g.target >= g.src_toks AS saturated
       |FROM tgt g LEFT JOIN (
       |  SELECT c.source, count(*) AS n_kept,
       |    CAST(sum(c.toks) AS BIGINT) AS kept_tokens
       |  FROM c JOIN tgt ON tgt.source = c.source
       |  WHERE c.cum <= tgt.target GROUP BY c.source
       |) k ON k.source = g.source
       |ORDER BY g.source""".stripMargin) { (s, d) =>
    val src = Tables.documents(s, d)
      .groupBy("source")
      .agg(sum(size(tokens(col("text")))).cast("long").as("src_toks"))
      .withColumn("wt", sqrt(col("src_toks") * sqrt(col("src_toks"))))
    // one-row totals (grand token count + fixed-order weight fold)
    // broadcast onto the |sources|-row frame — the mixtureWeights idiom
    val tot = src.agg(
      sum(col("src_toks")).as("t_total"),
      aggregate(
        transform(
          array_sort(collect_list(struct(col("source"), col("wt")))),
          x => x("wt")),
        lit(0.0), (acc, x) => acc + x).as("totw"))
    val tgt = src.crossJoin(broadcast(tot))
      .withColumn("share_ppm",
        floor(lit(1000000) * col("wt") / col("totw")).cast("long"))
      .select(col("source"), col("src_toks"),
        expr("(t_total div 4) * share_ppm div 1000000").as("target"))
    val c = Tables.documents(s, d)
      .select(col("source"), col("doc_id"),
        size(tokens(col("text"))).cast("long").as("toks"),
        md5(concat(lit("sample|"), col("doc_id").cast("string"))).as("gate"))
      .withColumn("cum", sum(col("toks")).over(
        Window.partitionBy("source").orderBy("gate", "doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // a source whose first gate-ordered doc alone exceeds its target
    // keeps NOTHING — it must still report (n_kept = 0), so the report
    // aggregates from the targets frame with a left join, never losing
    // a source to the prefix filter
    val kept = c.join(broadcast(tgt), Seq("source"))
      .filter(col("cum") <= col("target"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), sum(col("toks")).as("kept_tokens"))
    tgt.join(kept, Seq("source"), "left")
      .select(col("source"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"),
        col("target").as("target_tokens"), col("src_toks").as("available_tokens"),
        (col("target") >= col("src_toks")).as("saturated"))
      .orderBy("source")
  }

  /** Temperature-mixture EPOCH schedule — the upsampling half that
    * [[mixtureSample]]'s prefix-cut cannot express: when a source's
    * α-flattened target EXCEEDS its available tokens, the recipe
    * repeats the source (epochs > 1, the GPT-3 table-2.2 move where
    * small high-quality domains run multiple epochs while the crawl
    * runs a fraction of one). Budget = one corpus-equivalent
    * (`t_total`), split by the α = 3/4 ppm shares; per source the
    * schedule is `full_epochs = target div toks` whole passes plus a
    * deterministic md5-gate-ordered document prefix filling the
    * `target mod toks` remainder — so the drawn set is reproducible
    * doc-for-doc, never a sampled approximation. Integer-exact
    * throughout (the ppm shares reuse [[mixtureWeights]]' bit-exact
    * fold; everything after is BIGINT div/mod; `t_total · ppm` stays
    * under 2^63 up to ~10^12 corpus tokens).
    *
    * Scale: one corpus hash-agg, a |sources|-row targets frame
    * (broadcast), and the same source-partitioned prefix window as
    * [[tokenBudget]] — nothing corpus-wide shuffles twice. */
  val mixtureEpochs = Q(
    "q_mixture_epochs",
    s"""WITH pd AS (
       |  SELECT source, doc_id, CAST(len($W) AS BIGINT) AS dtoks
       |  FROM documents
       |),
       |$epochTailSql""".stripMargin) { (s, d) =>
    epochScheduleFrame(
      Tables.documents(s, d)
        .select(col("source"), col("doc_id"),
          size(tokens(col("text"))).cast("long").as("dtoks")))
  }

  /** Epoch-schedule oracle tail: assumes a CTE `pd(doc_id, source,
    * dtoks)` is already declared; shared between [[mixtureEpochs]]
    * (raw corpus tokens) and the v2 composition
    * [[PipelineV2Queries.corpusSchedule]] (effective train tokens) so
    * the arithmetic cannot drift between them. Sources with zero token
    * mass are excluded — there is nothing to schedule and the epoch
    * ratio would divide by zero. */
  // lazy: referenced by mixtureEpochs' earlier val initializer
  /** Shared oracle core for the epoch kernel's two tails: per-source
    * totals, α = 3/4 targets, and the md5-gate-ordered per-doc prefix
    * cumsum `c(source, doc_id, dtoks, cum)` — the SELECT the schedule
    * tail aggregates and the draws tail emits. One text, so the two
    * surfaces cannot disagree about what "drawn" means. */
  private[operators] lazy val epochCoreCtes: String =
    s"""src AS (
       |  SELECT source, CAST(sum(dtoks) AS BIGINT) AS toks
       |  FROM pd GROUP BY source HAVING CAST(sum(dtoks) AS BIGINT) > 0
       |), w AS (
       |  SELECT source, toks, sqrt(toks * sqrt(toks)) AS wt FROM src
       |), tw AS (
       |  SELECT *, list_reduce(
       |    list(wt) OVER (ORDER BY source
       |                   ROWS BETWEEN UNBOUNDED PRECEDING
       |                   AND UNBOUNDED FOLLOWING),
       |    (a, b) -> a + b) AS totw
       |  FROM w
       |), tgt AS (
       |  SELECT source, toks,
       |    (SELECT CAST(sum(toks) AS BIGINT) FROM src)
       |      * CAST(floor(1000000 * wt / totw) AS BIGINT) // 1000000 AS target
       |  FROM tw
       |), gt AS (
       |  SELECT source, doc_id, dtoks,
       |    md5('sample|' || CAST(doc_id AS VARCHAR)) AS gate
       |  FROM pd
       |), c AS (
       |  SELECT source, doc_id, dtoks,
       |    CAST(sum(dtoks) OVER (PARTITION BY source ORDER BY gate, doc_id
       |                          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
       |  FROM gt
       |)""".stripMargin

  private[operators] lazy val epochTailSql: String =
    s"""$epochCoreCtes, rem AS (
       |  SELECT c.source, count(*) AS partial_docs,
       |    CAST(sum(c.dtoks) AS BIGINT) AS partial_tokens
       |  FROM c JOIN tgt ON tgt.source = c.source
       |  WHERE c.cum <= tgt.target % tgt.toks GROUP BY c.source
       |)
       |SELECT g.source, g.toks AS available_tokens, g.target AS target_tokens,
       |  g.target // g.toks AS full_epochs,
       |  CAST(coalesce(r.partial_docs, 0) AS BIGINT) AS partial_docs,
       |  CAST(coalesce(r.partial_tokens, 0) AS BIGINT) AS partial_tokens,
       |  (g.target // g.toks) * g.toks + coalesce(r.partial_tokens, 0)
       |    AS drawn_tokens,
       |  (1000 * ((g.target // g.toks) * g.toks
       |           + coalesce(r.partial_tokens, 0))) // g.toks AS epochs_milli
       |FROM tgt g LEFT JOIN rem r ON r.source = g.source
       |ORDER BY g.source""".stripMargin

  /** Spark twin of [[epochCoreCtes]]'s `tgt`: the per-source α = 3/4
    * targets frame (1-row totals agg + broadcast cross join — the
    * PlanHygieneSpec idiom; an unpartitioned window is banned). */
  private def epochTargets(pd: DataFrame): DataFrame = {
    val src = pd
      .groupBy("source")
      .agg(sum(col("dtoks")).cast("long").as("toks"))
      .filter(col("toks") > 0)
      .withColumn("wt", sqrt(col("toks") * sqrt(col("toks"))))
    val tot = src.agg(
      sum(col("toks")).as("t_total"),
      aggregate(
        transform(
          array_sort(collect_list(struct(col("source"), col("wt")))),
          x => x("wt")),
        lit(0.0), (acc, x) => acc + x).as("totw"))
    src.crossJoin(broadcast(tot))
      .withColumn("share_ppm",
        floor(lit(1000000) * col("wt") / col("totw")).cast("long"))
      .select(col("source"), col("toks"),
        expr("t_total * share_ppm div 1000000").as("target"))
  }

  /** Spark twin of [[epochCoreCtes]]'s `c`: the md5-gate-ordered
    * per-doc prefix cumsum. */
  private def epochCum(pd: DataFrame): DataFrame =
    pd.select(col("source"), col("doc_id"), col("dtoks"),
        md5(concat(lit("sample|"), col("doc_id").cast("string"))).as("gate"))
      .withColumn("cum", sum(col("dtoks")).over(
        Window.partitionBy("source").orderBy("gate", "doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))

  /** Spark twin of [[epochTailSql]] over a (doc_id, source, dtoks)
    * per-doc frame — the schedule kernel shared by the raw-corpus and
    * curated-survivor compositions.
    *
    * The kernel consumes `pd` FIVE times (the targets frame evaluates
    * its source agg twice and is itself consumed twice — broadcast into
    * `rem` plus the final join — and the prefix cumsum reads it again),
    * so the input plan is materialized ONCE here with an eager
    * localCheckpoint (guide §3.3: truncate a plan consumed repeatedly)
    * and every consumption reads the |docs|-row×3-col checkpoint
    * instead of re-running the upstream plan. For the self-contained
    * v2 composition that upstream plan is the whole funnel join tree —
    * before this, q_corpus_schedule paid ~2 funnel passes per run
    * (2.64 s canonical); the served forms save 4 re-reads of the
    * manifest. Same rows, same oracle — only the evaluation count
    * changes (r20 measurement: 2.64 s → see OPTIMIZATION_r20.md). */
  private[graft] def epochScheduleFrame(pd0: DataFrame): DataFrame = {
    val pd = pd0.materializeOnce
    val tgt = epochTargets(pd)
    // one conditional agg over the cumsum×targets join replaces the
    // former partial-prefix agg + second join back onto tgt (guide
    // §2.4): every tgt source has ≥1 doc in pd by construction, so
    // grouping the joined frame by source emits exactly tgt's rows,
    // with the no-partial case landing on the `otherwise(0)` arms
    // instead of a left-join NULL + coalesce
    val inPartial = col("cum") <= col("target") % col("toks")
    epochCum(pd).join(broadcast(tgt), Seq("source"))
      .groupBy(col("source"))
      .agg(first(col("toks")).as("toks"), first(col("target")).as("target"),
           sum(when(inPartial, 1L).otherwise(0L)).as("partial_docs"),
           sum(when(inPartial, col("dtoks")).otherwise(0L))
             .cast("long").as("partial_tokens"))
      .withColumn("full_epochs", expr("target div toks"))
      .withColumn("drawn_tokens",
        col("full_epochs") * col("toks") + col("partial_tokens"))
      .withColumn("epochs_milli",
        expr("(1000 * drawn_tokens) div toks"))
      .select(col("source"), col("toks").as("available_tokens"),
        col("target").as("target_tokens"), col("full_epochs"),
        col("partial_docs"), col("partial_tokens"),
        col("drawn_tokens"), col("epochs_milli"))
      .orderBy("source")
  }

  /** Oracle tail MATERIALIZING the schedule's drawn set: one row per
    * (source, doc) with a positive draw count — `full_epochs` passes
    * over every doc plus one extra for the md5-gate-ordered partial
    * prefix. Shares [[epochCoreCtes]] with the schedule tail, so the
    * aggregate and the materialization cannot disagree about what
    * "drawn" means. */
  private[operators] lazy val epochDrawsTailSql: String =
    s"""$epochCoreCtes
       |SELECT c.source, c.doc_id,
       |  CAST(g.target // g.toks +
       |       CASE WHEN c.cum <= g.target % g.toks THEN 1 ELSE 0 END
       |       AS BIGINT) AS draws,
       |  CAST(c.dtoks AS BIGINT) AS dtoks
       |FROM c JOIN tgt g ON g.source = c.source
       |WHERE g.target // g.toks > 0 OR c.cum <= g.target % g.toks
       |ORDER BY c.source, c.doc_id""".stripMargin

  /** Spark twin of [[epochDrawsTailSql]]: the materialized drawn set.
    * Same one-materialization discipline as [[epochScheduleFrame]]:
    * the kernel reads `pd` three times (targets ×2 + cumsum). */
  private[graft] def epochDrawsFrame(pd0: DataFrame): DataFrame = {
    val pd = pd0.materializeOnce
    epochCum(pd).join(broadcast(epochTargets(pd)), Seq("source"))
      .withColumn("full_epochs", expr("target div toks"))
      .withColumn("in_partial", col("cum") <= col("target") % col("toks"))
      .filter(col("full_epochs") > 0 || col("in_partial"))
      .select(col("source"), col("doc_id"),
        (col("full_epochs") +
          when(col("in_partial"), 1L).otherwise(0L)).as("draws"),
        col("dtoks").cast("long").as("dtoks"))
      .orderBy("source", "doc_id")
  }

  /** The epoch schedule MATERIALIZED doc-for-doc — what the loader
    * actually iterates: every drawn (source, doc) with its repeat
    * count. [[mixtureEpochs]] reports the per-source aggregate
    * contract; this emits the reproducible draw list behind it (the
    * GPT-3 table-2.2 sampling made deterministic: whole passes for
    * everyone, the remainder filled by the md5-gate-ordered prefix —
    * no RNG, so a re-run of the data loader sees the identical
    * sequence of repeats). Scale: the same one hash-agg +
    * source-partitioned prefix window as the schedule; output is at
    * most one row per drawn doc, i.e. corpus-linear. */
  val mixtureDraws = Q(
    "q_mixture_draws",
    s"""WITH pd AS (
       |  SELECT source, doc_id, CAST(len($W) AS BIGINT) AS dtoks
       |  FROM documents
       |),
       |$epochDrawsTailSql""".stripMargin) { (s, d) =>
    epochDrawsFrame(
      Tables.documents(s, d)
        .select(col("source"), col("doc_id"),
          size(tokens(col("text"))).cast("long").as("dtoks")))
  }
}
