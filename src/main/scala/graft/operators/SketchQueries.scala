package graft.operators

import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.plans.SparkBloom
import graft.plans.Hll.{hllEstimate, hllMerge, hllSketch}
import graft.plans.Kmv.{kmvEstimate, kmvIntersect, kmvJaccard, kmvMerge, kmvSketch}

/** Mergeable-sketch queries (SURVEY §7.3 sketch tier): cardinality via
  * [[graft.plans.HllSketchAgg]] — sketches as first-class values that
  * merge across groups, jobs, and shards. */
object SketchQueries {

  /** Distinct-text estimate per source AND for the whole corpus, in ONE
    * linear plan that exercises the full sketch algebra:
    *
    *   documents → per-source HLL sketches (hll_sketch, map-side
    *   combinable) → each sketch row fans out to its own group plus the
    *   `~all~` group → hll_merge folds each group's sketches → estimate.
    *
    * The `~all~` row is a MERGE of the five per-source sketches, not a
    * re-aggregation of raw data — the cross-shard workflow (per-shard
    * jobs emit sketch rows; a rollup merges them without re-reading the
    * corpus). `~all~` sorts after the lowercase source names, keeping
    * the order deterministic. Rows-only: HLL implementations differ by
    * design, so there is no DuckDB oracle; HllSketchSpec pins the
    * algebra (merge-of-shards ≡ whole corpus, repartition invariance)
    * and the estimate's accuracy against exact distinct counts. */
  /** Heavy hitters over the corpus word stream via Spark's mergeable
    * frequent-items sketch (`approx_top_k_accumulate`, a DataSketches
    * ItemsSketch) — per-source sketches first (the per-shard jobs), then
    * `approx_top_k_combine` folds them (the rollup), then the top 10
    * tokens inline to rows. `n_stream` is a plain count beside the
    * sketch. ORACLE-CHECKED in the exact regime: this corpus's 31-word
    * vocabulary sits below the sketch's capacity at maxItemsTracked=64
    * (a 128-slot map holding up to 96 items), so the sketch IS the exact
    * count map — the same below-capacity-exactness property the KMV tier
    * pins. The built-in does not order tied counts, so the (cnt desc,
    * word) tie order is imposed after the explode. The approximate
    * regime's error contract is pinned by HhSketchSpec, where
    * adversarial shardings exist. */
  val heavyHitters = {
    val k = 64
    Q(
      "q_heavy_hitters",
      """WITH w AS (
        |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS word
        |  FROM documents
        |), c AS (
        |  SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM w GROUP BY word
        |), n AS (SELECT CAST(count(*) AS BIGINT) AS n_stream FROM w)
        |SELECT word, cnt, n_stream FROM c, n
        |ORDER BY cnt DESC, word LIMIT 10""".stripMargin) { (s, d) =>
      val sk = Tables.documents(s, d)
        .select(col("source"),
          explode(graft.functions.TextFunctions.tokens(col("text"))).as("word"))
        .groupBy("source")
        .agg(expr(s"approx_top_k_accumulate(word, $k)").as("sk"),
          count(lit(1)).as("n"))
        // a literal key, not a global agg: over an empty corpus the
        // rollup yields no row instead of combining zero sketches
        .groupBy(lit(1))
        .agg(expr(s"approx_top_k_combine(sk, $k)").as("sk"),
          sum("n").as("n_stream"))
      sk.select(explode(expr(s"approx_top_k_estimate(sk, $k)")).as("it"),
          col("n_stream"))
        .select(col("it.item").as("word"), col("it.count").as("cnt"),
          col("n_stream"))
        .orderBy(desc("cnt"), asc("word"))
        .limit(10)
    }
  }

  /** Grouped heavy hitters: top-5 tokens PER SOURCE from per-shard
    * frequent-items sketches merged per group — the per-domain frequent-
    * tokens breakdown a corpus mixture report shows. Same exact-regime
    * oracle contract as [[heavyHitters]] (vocabulary below counter
    * capacity → the sketch is the exact count map); the rank is computed
    * from the merged sketch's items with the (cnt desc, word) tie-break
    * the oracle replays. */
  val heavyHittersGrouped = {
    val k = 64
    Q(
      "q_heavy_hitters_grouped",
      """WITH w AS (
        |  SELECT source, unnest(string_split_regex(trim(text), '\s+')) AS word
        |  FROM documents
        |), c AS (
        |  SELECT source, word, CAST(count(*) AS BIGINT) AS cnt
        |  FROM w GROUP BY source, word
        |), r AS (
        |  SELECT source, word, cnt,
        |    row_number() OVER (PARTITION BY source
        |                       ORDER BY cnt DESC, word) AS rnk
        |  FROM c
        |)
        |SELECT source, word, cnt, rnk FROM r WHERE rnk <= 5
        |ORDER BY source, rnk""".stripMargin) { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val sk = Tables.documents(s, d)
        .select(col("source"), col("doc_id"),
          explode(graft.functions.TextFunctions.tokens(col("text"))).as("word"))
        .groupBy(col("source"), (col("doc_id") % 4).as("shard"))
        .agg(expr(s"approx_top_k_accumulate(word, $k)").as("sk"))
        .groupBy("source").agg(expr(s"approx_top_k_combine(sk, $k)").as("sk"))
      val w = Window.partitionBy("source")
        .orderBy(col("cnt").desc, col("word"))
      sk.select(col("source"),
          explode(expr(s"approx_top_k_estimate(sk, $k)")).as("it"))
        .select(col("source"), col("it.item").as("word"), col("it.count").as("cnt"))
        .withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 5)
        .orderBy("source", "rnk")
    }
  }

  /** KMV distinct estimation per event type, ORACLE-CHECKED — the
    * sketch-tier member whose estimate DuckDB can recompute exactly
    * (k smallest md5 order statistics + one floor'd IEEE division; see
    * [[graft.plans.Kmv]]). The plan exercises the full algebra the way
    * a sharded corpus does: per-(type, user-shard) sketches first
    * (map-side combinable partials), then `kmv_merge` folds each type's
    * shard sketches — so the estimate column goes through BOTH
    * aggregates, and equals the whole-group sketch byte-for-byte
    * (KmvSketchSpec pins that identity). Exact distinct count alongside
    * for the error to be visible and oracle-pinned. */
  val kmvDistinct = {
    val k = 64
    // first 8 hex chars of hex-string expression `m` as an integer, by
    // digit arithmetic (DuckDB needs no hex-cast builtin)
    def hexU8(m: String): String =
      (1 to 8).map(i =>
        s"(strpos('0123456789abcdef', ($m)[$i]) - 1) * ${math.pow(16, 8 - i).toLong}")
        .mkString("(", " + ", ")")
    Q(
      "q_kmv_distinct",
      s"""WITH h AS (
         |  SELECT DISTINCT event_type,
         |    md5(CAST(user_id AS VARCHAR) || '|' || props) AS h
         |  FROM events
         |), r AS (
         |  SELECT event_type, h,
         |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn,
         |    count(*) OVER (PARTITION BY event_type) AS n
         |  FROM h
         |), kth AS (
         |  SELECT event_type, max(n) AS n,
         |    max(CASE WHEN rn = $k THEN h END) AS kth
         |  FROM r GROUP BY event_type
         |)
         |SELECT event_type, n AS n_exact,
         |  ${graft.plans.Kmv.estimateSql(k, hexU8)} AS kmv_est
         |FROM kth ORDER BY event_type""".stripMargin) { (s, d) =>
      val keyed = Tables.events(s, d)
        .select(col("event_type"), col("user_id"),
          concat(col("user_id").cast("string"), lit("|"), col("props")).as("key"))
      // shard stage: one sketch per (type, user-shard) — the per-shard
      // ingest job; rollup stage: merge the shard sketches per type
      val shards = keyed
        .groupBy(col("event_type"), (col("user_id") % 8).as("shard"))
        .agg(kmvSketch(col("key"), k).as("sk"))
      shards.groupBy("event_type")
        .agg(kmvMerge(col("sk")).as("sk"))
        .select(col("event_type"), kmvEstimate(col("sk")).as("kmv_est"))
        .join(keyed.groupBy("event_type")
          .agg(countDistinct(col("key")).as("n_exact")), "event_type")
        .select("event_type", "n_exact", "kmv_est")
        .orderBy("event_type")
    }
  }

  /** KMV audience overlap, ORACLE-CHECKED: how many (user, props) keys
    * appear in BOTH the click and the purchase streams — estimated from
    * two sketches alone (X = k smallest of the sketch union, m = |X ∩ A
    * ∩ B|, Jaccard ≈ m/|X|, intersection ≈ floor(jac · est(A∪B))) with
    * the exact overlap alongside. At 100 TB the two audiences live in
    * different jobs' outputs; their stored sketches answer the overlap
    * without any join over raw data. Plan: one hash-agg to per-key
    * membership flags, one global agg building both sketches
    * CONDITIONALLY (no 1-row cross joins), scalar overlap expressions on
    * the sketch pair. */
  val kmvOverlap = {
    val k = 64
    def hexU8(m: String): String =
      (1 to 8).map(i =>
        s"(strpos('0123456789abcdef', ($m)[$i]) - 1) * ${math.pow(16, 8 - i).toLong}")
        .mkString("(", " + ", ")")
    Q(
      "q_kmv_overlap",
      s"""WITH keys AS (
         |  SELECT md5(CAST(user_id AS VARCHAR) || '|' || props) AS h,
         |    max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS in_a,
         |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS in_b
         |  FROM events WHERE event_type IN ('click', 'purchase')
         |  GROUP BY 1
         |), xa AS (SELECT h FROM keys WHERE in_a = 1 ORDER BY h LIMIT $k),
         |xb AS (SELECT h FROM keys WHERE in_b = 1 ORDER BY h LIMIT $k),
         |u AS (
         |  SELECT h, row_number() OVER (ORDER BY h) AS rn
         |  FROM (SELECT DISTINCT h FROM (SELECT h FROM xa UNION ALL SELECT h FROM xb))
         |), x AS (SELECT h FROM u WHERE rn <= $k),
         |s AS (
         |  SELECT
         |    (SELECT count(*) FROM x) AS x_size,
         |    (SELECT count(*) FROM x
         |     WHERE h IN (SELECT h FROM xa) AND h IN (SELECT h FROM xb)) AS m_common,
         |    (SELECT max(h) FROM x) AS kth,
         |    (SELECT CAST(sum(CASE WHEN in_a = 1 AND in_b = 1 THEN 1 ELSE 0 END)
         |            AS BIGINT) FROM keys) AS exact_overlap
         |)
         |SELECT m_common, x_size,
         |  CASE WHEN x_size = 0 THEN 0.0
         |       ELSE m_common * 1.0 / x_size END AS jaccard,
         |  CAST(floor((CASE WHEN x_size = 0 THEN 0.0
         |              ELSE m_common * 1.0 / x_size END) *
         |    (CASE WHEN x_size < $k THEN x_size
         |          ELSE CAST(floor(${k - 1} /
         |            ((${hexU8("kth")} + 0.5) / 4294967296.0)) AS BIGINT) END))
         |    AS BIGINT) AS est_intersect,
         |  exact_overlap
         |FROM s""".stripMargin) { (s, d) =>
      val perKey = Tables.events(s, d)
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy(concat(col("user_id").cast("string"), lit("|"), col("props"))
          .as("key"))
        .agg(
          max(when(col("event_type") === "click", 1).otherwise(0)).as("in_a"),
          max(when(col("event_type") === "purchase", 1).otherwise(0)).as("in_b"))
      perKey.agg(
          kmvSketch(when(col("in_a") === 1, col("key")), k).as("ska"),
          kmvSketch(when(col("in_b") === 1, col("key")), k).as("skb"),
          sum(when(col("in_a") === 1 && col("in_b") === 1, 1L).otherwise(0L))
            .as("exact_overlap"))
        .select(
          graft.plans.Kmv.kmvOverlapM(col("ska"), col("skb")).as("m_common"),
          graft.plans.Kmv.kmvOverlapX(col("ska"), col("skb")).as("x_size"),
          kmvJaccard(col("ska"), col("skb")).as("jaccard"),
          kmvIntersect(col("ska"), col("skb")).as("est_intersect"),
          col("exact_overlap"))
    }
  }

  /** Theta-style KMV set algebra: audience difference and union
    * estimates from two stored sketches — "how many click-users never
    * purchased" without an exact join, the remaining member of the
    * sketch set-algebra family. Same uniform union sample X as
    * [[kmvOverlap]]: |A \ B| ≈ (members of X in A only)/|X| · est(A∪B),
    * est(A∪B) = the KMV estimator on the merged sketch. Every piece is
    * order statistics over md5 values, so the oracle recomputes the
    * whole decomposition exactly; exact counts alongside to keep the
    * error visible and pinned. */
  val kmvDiff = {
    val k = 64
    def hexU8(m: String): String =
      (1 to 8).map(i =>
        s"(strpos('0123456789abcdef', ($m)[$i]) - 1) * ${math.pow(16, 8 - i).toLong}")
        .mkString("(", " + ", ")")
    Q(
      "q_kmv_diff",
      s"""WITH keys AS (
         |  SELECT md5(CAST(user_id AS VARCHAR) || '|' || props) AS h,
         |    max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS in_a,
         |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS in_b
         |  FROM events WHERE event_type IN ('click', 'purchase')
         |  GROUP BY 1
         |), xa AS (SELECT h FROM keys WHERE in_a = 1 ORDER BY h LIMIT $k),
         |xb AS (SELECT h FROM keys WHERE in_b = 1 ORDER BY h LIMIT $k),
         |u AS (
         |  SELECT h, row_number() OVER (ORDER BY h) AS rn
         |  FROM (SELECT DISTINCT h FROM (SELECT h FROM xa UNION ALL SELECT h FROM xb))
         |), x AS (SELECT h FROM u WHERE rn <= $k),
         |s AS (
         |  SELECT
         |    (SELECT count(*) FROM x) AS x_size,
         |    (SELECT count(*) FROM x
         |     WHERE h IN (SELECT h FROM xa) AND h NOT IN (SELECT h FROM xb)) AS m_a_only,
         |    (SELECT count(*) FROM x
         |     WHERE h IN (SELECT h FROM xb) AND h NOT IN (SELECT h FROM xa)) AS m_b_only,
         |    (SELECT max(h) FROM x) AS kth,
         |    (SELECT CAST(sum(CASE WHEN in_a = 1 AND in_b = 0 THEN 1 ELSE 0 END)
         |            AS BIGINT) FROM keys) AS exact_a_not_b,
         |    (SELECT CAST(sum(CASE WHEN in_b = 1 AND in_a = 0 THEN 1 ELSE 0 END)
         |            AS BIGINT) FROM keys) AS exact_b_not_a
         |), e AS (
         |  SELECT *,
         |    CASE WHEN x_size < $k THEN x_size
         |         ELSE CAST(floor(${k - 1} /
         |           ((${hexU8("kth")} + 0.5) / 4294967296.0)) AS BIGINT) END AS est_union
         |  FROM s
         |)
         |SELECT
         |  CASE WHEN x_size = 0 THEN 0
         |       ELSE CAST(floor(m_a_only * 1.0 / x_size * est_union) AS BIGINT)
         |       END AS est_a_not_b,
         |  CASE WHEN x_size = 0 THEN 0
         |       ELSE CAST(floor(m_b_only * 1.0 / x_size * est_union) AS BIGINT)
         |       END AS est_b_not_a,
         |  CAST(est_union AS BIGINT) AS est_union,
         |  exact_a_not_b, exact_b_not_a
         |FROM e""".stripMargin) { (s, d) =>
      val perKey = Tables.events(s, d)
        .filter(col("event_type").isin("click", "purchase"))
        .groupBy(concat(col("user_id").cast("string"), lit("|"), col("props"))
          .as("key"))
        .agg(
          max(when(col("event_type") === "click", 1).otherwise(0)).as("in_a"),
          max(when(col("event_type") === "purchase", 1).otherwise(0)).as("in_b"))
      perKey.agg(
          kmvSketch(when(col("in_a") === 1, col("key")), k).as("ska"),
          kmvSketch(when(col("in_b") === 1, col("key")), k).as("skb"),
          sum(when(col("in_a") === 1 && col("in_b") === 0, 1L).otherwise(0L))
            .as("exact_a_not_b"),
          sum(when(col("in_b") === 1 && col("in_a") === 0, 1L).otherwise(0L))
            .as("exact_b_not_a"))
        .select(
          graft.plans.Kmv.kmvDiff(col("ska"), col("skb")).as("est_a_not_b"),
          graft.plans.Kmv.kmvDiff(col("skb"), col("ska")).as("est_b_not_a"),
          graft.plans.Kmv.kmvUnion(col("ska"), col("skb")).as("est_union"),
          col("exact_a_not_b"), col("exact_b_not_a"))
    }
  }

  /** Bloom pre-filtered near-dup removal, EXACT by construction — the
    * 100 TB join-avoidance pattern:
    *
    *   drop-list (persisted LSH keep-list artifact) → one tiny Bloom
    *   filter ([[SparkBloom]]: 8 KiB sized for 8k ids, so 6 hashes and
    *   far under 1% fp for ~a thousand) → a scalar subquery the
    *   corpus scan probes → rows the filter rejects are DEFINITE non-members
    *   and skip the anti-join entirely → only the maybe-present sliver
    *   takes the exact anti-join, which removes false positives.
    *
    * The final answer therefore equals a plain anti-join — the DuckDB
    * oracle IS the plain anti-join — while at scale the shuffle-join
    * input shrinks from the whole corpus to ~(true members + fp·corpus)
    * rows. The filter is computed once, as an uncorrelated scalar
    * subquery — no join against the sketch row. */
  val bloomPrefilter = Q(
    "q_bloom_prefilter",
    s"""WITH RECURSIVE ${DedupQueries.lshCtes},
       |edges AS (
       |  SELECT doc_a AS src, doc_b AS dst FROM vpairs
       |  UNION
       |  SELECT doc_b, doc_a FROM vpairs
       |), walk(id, reach) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT w.id, e.dst FROM walk w JOIN edges e ON e.src = w.reach
       |), drops AS (
       |  SELECT id FROM walk GROUP BY id HAVING id <> min(reach)
       |)
       |SELECT source, count(*) AS n_docs, min(doc_id) AS first_doc
       |FROM documents
       |WHERE doc_id NOT IN (SELECT id FROM drops)
       |GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    val dropIds = DedupQueries.lshKeepList(s, d)
      .filter(!col("keep")).select(col("doc_id"))
    val sketch = dropIds.agg(SparkBloom.agg(col("doc_id"), 1L << 13, 1L << 16))
    val docs = Tables.documents(s, d).select("doc_id", "source")
    val tagged = docs
      .withColumn("maybe", SparkBloom.mightContain(sketch.scalar(), col("doc_id")))
    val clean = tagged.filter(!col("maybe")).select("doc_id", "source")
    val suspect = tagged.filter(col("maybe")).select("doc_id", "source")
      .join(dropIds, Seq("doc_id"), "left_anti")
    clean.unionByName(suspect)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
      .orderBy("source")
  }

  val hllDistinct = Q.rowsOnly("q_hll_distinct") { (s, d) =>
    Tables.documents(s, d)
      .groupBy("source")
      .agg(hllSketch(col("text"), 12).as("sk"), count(lit(1)).as("n_docs"))
      .select(explode(array(col("source"), lit("~all~"))).as("source"),
              col("sk"), col("n_docs"))
      .groupBy("source")
      .agg(hllEstimate(hllMerge(col("sk"))).as("est_distinct"),
           sum(col("n_docs")).cast("long").as("n_docs"))
      .orderBy("source")
  }

  /** Count-min point-frequency estimation, FULLY ORACLE-CHECKED
    * (collisions included): the d×w counter grid is pure sums over
    * md5-derived buckets, so DuckDB replays every cell exactly —
    * bucket(r, v) = first 32 bits of md5(r || '|' || v) mod w,
    * cell = Σ counts of colliding words, estimate = min over rows. The
    * grid is stream-order independent, so per-source shard sketches
    * merge to the whole-corpus sketch BYTE-FOR-BYTE (no below-capacity
    * caveat, unlike frequent items) — CmsSketchSpec pins the identity and
    * the overestimate-only contract. w = 64 on a ~31-word vocabulary
    * forces real collisions, so the oracle is exercising the estimator,
    * not an exact-regime shortcut. */
  val cmsCounts = {
    val (d, w) = (4, 64)
    val keys = Seq("scan", "join", "merge", "window", "shuffle")
    def hexU8(m: String): String =
      (1 to 8).map(i =>
        s"(strpos('0123456789abcdef', ($m)[$i]) - 1) * ${math.pow(16, 8 - i).toLong}")
        .mkString("(", " + ", ")")
    def bucketSql(expr: String, r: String): String =
      s"${hexU8(s"md5(CAST($r AS VARCHAR) || '|' || $expr)")} % $w"
    Q(
      "q_cms_counts",
      s"""WITH words AS (
         |  SELECT unnest(string_split_regex(trim(text), '\\s+')) AS word
         |  FROM documents
         |), c AS (
         |  SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM words GROUP BY word
         |), rows_ AS (SELECT unnest(range(0, $d)) AS r),
         |cells AS (
         |  SELECT rows_.r, ${bucketSql("c.word", "rows_.r")} AS b,
         |    SUM(c.cnt) AS cell
         |  FROM c, rows_ GROUP BY 1, 2
         |), qk AS (SELECT unnest([${keys.map("'" + _ + "'").mkString(", ")}]) AS key),
         |est AS (
         |  -- LEFT join: a key whose bucket is EMPTY in some row has a
         |  -- zero cell there (the grid stores zeros; the CTE does not)
         |  SELECT qk.key, CAST(min(coalesce(cells.cell, 0)) AS BIGINT) AS cms_est
         |  FROM qk CROSS JOIN rows_
         |  LEFT JOIN cells ON cells.r = rows_.r
         |    AND cells.b = ${bucketSql("qk.key", "rows_.r")}
         |  GROUP BY qk.key
         |)
         |SELECT est.key, coalesce(c.cnt, 0) AS n_exact, est.cms_est
         |FROM est LEFT JOIN c ON c.word = est.key
         |ORDER BY est.key""".stripMargin) { (s, d2) =>
      import graft.plans.Cms.{cmsMerge, cmsQuery, cmsSketch}
      val wordsDf = Tables.documents(s, d2)
        .select(col("source"),
          explode(graft.functions.TextFunctions.tokens(col("text"))).as("word"))
      // per-source shard sketches → one global merge (byte-identical to
      // sketching the whole stream at once)
      val sk = wordsDf
        .groupBy("source").agg(cmsSketch(col("word"), d, w).as("sk"))
        .agg(cmsMerge(col("sk")).as("sk"))
      val exact = wordsDf.filter(col("word").isin(keys: _*))
        .groupBy(col("word").as("key"))
        .agg(count(lit(1)).as("n_exact"))
      sk.select(explode(lit(keys.toArray)).as("key"), col("sk"))
        .select(col("key"), cmsQuery(col("sk"), col("key")).as("cms_est"))
        .join(exact, Seq("key"), "left")
        .select(col("key"), coalesce(col("n_exact"), lit(0L)).as("n_exact"),
          col("cms_est"))
        .orderBy("key")
    }
  }

  /** Mergeable quantile estimation per event type, ORACLE-CHECKED — the
    * cross-shard p50/p90/p99 workflow without a global sort, via the
    * deterministic bottom-k row sample ([[graft.plans.QSketch]]: the
    * k smallest md5(event_id) rows ARE the sample, so DuckDB reproduces
    * sample and selection exactly; the reported quantile is a stored
    * input double, hash-identical). Same two-stage algebra as
    * `q_kmv_distinct`: per-(type, user-shard) sketches first, then
    * `qsketch_merge` folds each type's shards — the estimate goes
    * through BOTH aggregates, and merge-of-shards ≡ whole-group
    * byte-for-byte (QSketchSpec pins the identity). */
  val qtileSketch = {
    val k = 128
    Q(
      "q_qtile_sketch",
      s"""WITH s AS (
         |  SELECT event_type, value,
         |    row_number() OVER (PARTITION BY event_type
         |                       ORDER BY md5(CAST(event_id AS VARCHAR))) AS rn
         |  FROM events WHERE value IS NOT NULL
         |), samp AS (
         |  SELECT event_type, value,
         |    row_number() OVER (PARTITION BY event_type ORDER BY value) - 1 AS vi,
         |    count(*) OVER (PARTITION BY event_type) AS m
         |  FROM s WHERE rn <= $k
         |), n AS (
         |  SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows
         |  FROM events WHERE value IS NOT NULL GROUP BY event_type
         |)
         |SELECT event_type,
         |  max(CASE WHEN vi = CAST(floor(0.5 * (m - 1)) AS BIGINT) THEN value END) AS p50,
         |  max(CASE WHEN vi = CAST(floor(0.9 * (m - 1)) AS BIGINT) THEN value END) AS p90,
         |  max(CASE WHEN vi = CAST(floor(0.99 * (m - 1)) AS BIGINT) THEN value END) AS p99,
         |  CAST(max(m) AS BIGINT) AS m_sample, max(n_rows) AS n_rows
         |FROM samp JOIN n USING (event_type)
         |GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, d) =>
      import graft.plans.QSketch.{qSketch, qSketchM, qSketchMerge, qSketchN, qSketchQuantile}
      val keyed = Tables.events(s, d)
        .filter(col("value").isNotNull)
        .select(col("event_type"), col("user_id"),
          col("event_id").cast("string").as("key"), col("value"))
      val shards = keyed
        .groupBy(col("event_type"), (col("user_id") % 8).as("shard"))
        .agg(qSketch(col("key"), col("value"), k).as("sk"))
      shards.groupBy("event_type")
        .agg(qSketchMerge(col("sk")).as("sk"))
        .select(col("event_type"),
          qSketchQuantile(col("sk"), lit(0.5)).as("p50"),
          qSketchQuantile(col("sk"), lit(0.9)).as("p90"),
          qSketchQuantile(col("sk"), lit(0.99)).as("p99"),
          qSketchM(col("sk")).as("m_sample"),
          qSketchN(col("sk")).as("n_rows"))
        .orderBy("event_type")
    }
  }
}
