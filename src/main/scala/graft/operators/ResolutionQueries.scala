package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Entity resolution (record linkage) over the `customer` table — the
  * Customer360 move the reference's ETL stops short of: finding rows
  * that refer to the SAME real-world entity despite textual drift, then
  * electing one golden record per entity.
  *
  * Classic three-stage shape, each stage a scale-safe Spark plan:
  *
  *  1. BLOCKING — candidate pairs only within a cheap equality block
  *     (here `(c_nationkey, c_mktsegment)`), turning O(n²) comparisons
  *     into Σ nᵢ² over block sizes. The block key is a plain shuffle
  *     key: a sort-merge self-join, no cartesian anywhere. Recall
  *     contract: matches that disagree on the block key are missed by
  *     construction — production systems run several complementary
  *     blocking passes and union the candidates (exactly the multi-pass
  *     pattern of [[DedupQueries]]' LSH bands).
  *  2. MATCHING — a similarity predicate on candidates; here
  *     `levenshtein(name_a, name_b) <= 2`, Spark's codegen'd edit
  *     distance (identical DP definition in DuckDB, so the oracle is
  *     engine-exact).
  *  3. RESOLUTION + SURVIVORSHIP — matched pairs → connected components
  *     via [[DedupResolve]] (the same O(log diameter) pointer-jumping
  *     loop the dedup tier uses), then one golden record per entity by
  *     a deterministic rule (max `c_acctbal`, ties → min key).
  *
  * At 100 TB: blocking and matching are one equi-join whose cost is
  * bounded by the largest block (monitor block sizes with
  * `q_er_blocking`; cap or sub-block hot blocks exactly like the LSH
  * bucket caps); resolution is iterative equi-joins over match pairs
  * only — pairs are rare, so the loop runs on a tiny fraction of the
  * input.
  */
object ResolutionQueries {

  /** Hot-block cap (round-8 verdict item 2): the one way blocked ER
    * degenerates at scale is a popular block key — membership grows
    * linearly with the corpus and candidate pairs quadratically, so one
    * hot block becomes a straggler task (the LSH bucket problem,
    * record-linkage-shaped). Blocks over the cap are SUB-BLOCKED: their
    * members split into ceil(n/cap) slices by `id % nsub`, so the
    * candidate join stays bounded at ~cap² per slice. Recall contract:
    * within-hot-block pairs that land in different slices are missed —
    * the cap trades bounded cost for partial in-block recall (LSH drops
    * the whole bucket; ER keeps 1/nsub of it, which sub-blocking gets
    * for free because equality blocks need no band agreement).
    * [[erOversizedBlocks]] is the telemetry twin an operator alerts on.
    * Dense sequential ids spread ±1-evenly under mod; the guard is
    * deterministic, so the DuckDB oracles replay it exactly. */
  private[graft] val ErMaxBlock = 500

  /** Sub-block refinement over a (id, nm, blk) frame: `blk2` equals
    * `blk` for within-cap blocks and `blk#<id mod nsub>` inside
    * oversized ones. The block-size frame is one row per distinct block
    * key — metadata-sized, AQE broadcasts it onto the scan. */
  private[graft] def subBlocked(rows: DataFrame, maxBlock: Int): DataFrame =
    // block size as a COUNT OVER the (blk) exchange instead of a
    // groupBy + join-back — one pass over the rows frame instead of
    // two, no join (guide §2.4); bn is the same per-blk count
    rows
      .withColumn("bn", count(lit(1)).over(Window.partitionBy("blk")))
      .withColumn("nsub",
        ((col("bn") + lit(maxBlock - 1)) / lit(maxBlock)).cast("long"))
      .withColumn("blk2",
        when(col("bn") <= maxBlock, col("blk"))
          .otherwise(concat(col("blk"), lit("#"),
            (col("id") % col("nsub")).cast("string"))))
      .select("id", "nm", "blk2")

  /** Telemetry twin of the cap: blocks whose membership exceeds it,
    * with the slice count the guard split them into. */
  private[graft] def erOversizedBlocks(rows: DataFrame,
                                       maxBlock: Int = ErMaxBlock): DataFrame =
    rows.groupBy("blk")
      .agg(count(lit(1)).as("n_members"))
      .filter(col("n_members") > maxBlock)
      .withColumn("n_sub",
        ((col("n_members") + lit(maxBlock - 1)) / lit(maxBlock)).cast("long"))

  /** The demographic blocking frame both match stages share. */
  private[graft] def demographicRows(s: SparkSession, d: String,
                                     bound: Option[Int]): DataFrame = {
    val base0 = Tables.customer(s, d)
      .select("c_custkey", "c_name", "c_nationkey", "c_mktsegment")
    val base = bound.map(b => base0.filter(col("c_custkey") < b)).getOrElse(base0)
    base.select(col("c_custkey").as("id"), col("c_name").as("nm"),
      concat_ws("|", col("c_nationkey"), col("c_mktsegment")).as("blk"))
  }

  /** DuckDB CTEs: sub-block replay + blocked fuzzy-match pairs,
    * optionally key-bounded — the exact arithmetic of [[subBlocked]]
    * (`//` is DuckDB integer division; ids are positive, so `%` agrees
    * with Spark's). */
  private def matchCte(bound: Option[Int]): String = {
    val slice = bound.map(b => s"WHERE c_custkey < $b").getOrElse("")
    s"""er_r0 AS (
       |  SELECT c_custkey, c_name,
       |    CAST(c_nationkey AS VARCHAR) || '|' || c_mktsegment AS blk
       |  FROM customer $slice
       |), er_bs AS (
       |  SELECT blk, count(*) AS bn FROM er_r0 GROUP BY blk
       |), er_rs AS (
       |  SELECT r.c_custkey, r.c_name,
       |    CASE WHEN b.bn <= $ErMaxBlock THEN r.blk
       |         ELSE r.blk || '#' || CAST(r.c_custkey %
       |           ((b.bn + ${ErMaxBlock - 1}) // $ErMaxBlock) AS VARCHAR)
       |    END AS blk2
       |  FROM er_r0 r JOIN er_bs b USING (blk)
       |), m AS (
       |  SELECT a.c_custkey AS cust_a, b.c_custkey AS cust_b,
       |    levenshtein(a.c_name, b.c_name) AS dist
       |  FROM er_rs a JOIN er_rs b
       |    ON a.blk2 = b.blk2 AND a.c_custkey < b.c_custkey
       |  WHERE levenshtein(a.c_name, b.c_name) <= 2
       |)""".stripMargin
  }

  /** Spark side of the shared match stage. `bound` trims both sides
    * BEFORE the join (pushed to the scan) so the resolution queries'
    * recursive-CTE oracle stays cheap; the unbounded match itself is
    * verified by q_er_fuzzy_match. */
  private[graft] def matchPairs(s: SparkSession, d: String,
                                bound: Option[Int]): DataFrame =
    matchPairsFrom(s, demographicRows(s, d, bound), ErMaxBlock)

  /** Blocked banded-levenshtein match over an (id, nm, blk) frame with
    * the hot-block guard applied. Pure plan construction. */
  private[graft] def matchPairsFrom(s: SparkSession, rows: DataFrame,
                                    maxBlock: Int): DataFrame = {
    val sb = subBlocked(rows, maxBlock)
    // spread the probe side: the whole customer table is one parquet
    // split at bench scale, and the blocked match would otherwise run
    // its levenshtein loop as a single task
    val a = sb.toDF("cust_a", "name_a", "blk2")
      .repartition(s.sparkContext.defaultParallelism, col("cust_a"))
    val b = sb.toDF("cust_b", "name_b", "blk2")
    a.join(b, Seq("blk2"))
      .filter(col("cust_a") < col("cust_b"))
      // 3-arg banded variant: O(threshold·n) early-exit DP per pair
      // (vs the full O(n²) table), -1 when the band is exceeded —
      // same surviving pairs and distances as the unbounded form
      .withColumn("dist", levenshtein(col("name_a"), col("name_b"), 2))
      .filter(col("dist") >= 0)
      .select("cust_a", "cust_b", "dist")
  }

  /** Block-size profile: members and candidate pairs per block — the
    * dial that tells an operator whether a blocking key is selective
    * enough (a hot block's nᵢ² is the whole cost of stage 2). */
  val blocking = Q(
    "q_er_blocking",
    """SELECT c_nationkey, c_mktsegment, count(*) AS n_members,
      |  CAST(count(*) * (count(*) - 1) / 2 AS BIGINT) AS n_pairs
      |FROM customer
      |GROUP BY c_nationkey, c_mktsegment
      |ORDER BY c_nationkey, c_mktsegment""".stripMargin) { (s, d) =>
    Tables.customer(s, d)
      .groupBy("c_nationkey", "c_mktsegment")
      .agg(count(lit(1)).as("n_members"))
      .withColumn("n_pairs",
        (col("n_members") * (col("n_members") - 1) / 2).cast("long"))
      .orderBy("c_nationkey", "c_mktsegment")
  }

  /** Stage-2 output: all blocked match pairs at edit distance ≤ 2,
    * over the FULL table (no slice) — one sort-merge self-join. */
  val fuzzyMatch = Q(
    "q_er_fuzzy_match",
    s"""WITH ${matchCte(None)}
       |SELECT cust_a, cust_b, dist FROM m
       |ORDER BY cust_a, cust_b""".stripMargin) { (s, d) =>
    matchPairs(s, d, None).orderBy("cust_a", "cust_b")
  }

  /** Resolution slice bound: keeps the DuckDB recursive-CTE oracle
    * (quadratic in component walk length) tractable at sf0.1 while the
    * Spark path runs the identical plan it runs unbounded. */
  private val ResolveBound = 3000

  /** Resolved entity labels (cust_id, entity) over the bounded match
    * slice — the pointer-jumping loop runs ONCE per (run, corpus) and
    * persists through [[graft.sources.IndexCatalog]]; `q_er_clusters`
    * and `q_er_golden` both serve from the stored artifact (the
    * keep-list discipline of the dedup tier). */
  private[graft] def erLabels(s: SparkSession, d: String): DataFrame = {
    import graft.sources.IndexCatalog
    val dir = IndexCatalog.ensure(s, s"er_labels_${IndexCatalog.tag(d)}",
                                  inputs = Seq(d),
                                  owners = Seq(ResolutionQueries.getClass,
                                    graft.Tables.getClass,
                                    DedupResolve.getClass)) { dir =>
      val pairs = matchPairs(s, d, Some(ResolveBound))
        .select(col("cust_a").as("doc_a"), col("cust_b").as("doc_b"))
      DedupResolve.resolve(pairs)
        .select(col("id").as("cust_id"), col("cluster").as("entity"))
        .write.mode("overwrite").parquet(s"$dir/labels")
      // the entity label is itself a customer id (canonical min member)
      IndexCatalog.declareIds("path", "labels", Seq("cust_id", "entity"),
        space = "cust")
    }
    IndexCatalog.read(s, dir, "labels")
  }

  /** Stage-3a: entity ids (connected components) for every customer in
    * a match pair; `keep` marks the canonical min-key member. Spark
    * side is [[DedupResolve]]'s pointer-jumping loop; the oracle walks
    * the same graph with a recursive CTE. */
  val clusters = Q(
    "q_er_clusters",
    s"""WITH RECURSIVE ${matchCte(Some(ResolveBound))},
       |edges AS (
       |  SELECT cust_a AS src, cust_b AS dst FROM m
       |  UNION
       |  SELECT cust_b, cust_a FROM m
       |), walk(id, reach) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT w.id, e.dst FROM walk w JOIN edges e ON e.src = w.reach
       |)
       |SELECT id AS cust_id, min(reach) AS entity, id = min(reach) AS keep
       |FROM walk GROUP BY id ORDER BY cust_id""".stripMargin) { (s, d) =>
    erLabels(s, d)
      .select(col("cust_id"), col("entity"),
              (col("cust_id") === col("entity")).as("keep"))
      .orderBy("cust_id")
  }

  /** Multi-pass blocking — the production answer to single-key recall
    * loss: a second, INDEPENDENT blocking pass (here the last 3 name
    * characters) catches matches the demographic block key misses
    * (same-name customers filed under different nation/segment), and
    * the candidate sets union before matching. Each pass stays an
    * equi-join on its own block key; the union dedups on the pair, so
    * a candidate found by both passes is matched once. Recall grows
    * pass by pass while cost stays Σ (per-pass block sizes)² — the
    * same additive-recall shape as the LSH band union in
    * [[DedupQueries]]. */
  /** The suffix blocking frame (last 3 name characters) of the second
    * multiblock pass. */
  private[graft] def suffixRows(s: SparkSession, d: String): DataFrame =
    Tables.customer(s, d).select(col("c_custkey").as("id"),
      col("c_name").as("nm"), substring(col("c_name"), -3, 3).as("blk"))

  /** DuckDB sub-block replay for one blocking pass: `<p>_rs` holds
    * (c_custkey, c_name, blk2) with [[subBlocked]]'s guard applied. */
  private def subCte(p: String, blkSql: String): String =
    s"""${p}_r0 AS (
       |  SELECT c_custkey, c_name, $blkSql AS blk FROM customer
       |), ${p}_bs AS (
       |  SELECT blk, count(*) AS bn FROM ${p}_r0 GROUP BY blk
       |), ${p}_rs AS (
       |  SELECT r.c_custkey, r.c_name,
       |    CASE WHEN b.bn <= $ErMaxBlock THEN r.blk
       |         ELSE r.blk || '#' || CAST(r.c_custkey %
       |           ((b.bn + ${ErMaxBlock - 1}) // $ErMaxBlock) AS VARCHAR)
       |    END AS blk2
       |  FROM ${p}_r0 r JOIN ${p}_bs b USING (blk)
       |)""".stripMargin

  /** One guarded candidate pass over an (id, nm, blk) frame. */
  private def candPass(s: SparkSession, rows: DataFrame): DataFrame = {
    val sb = subBlocked(rows, ErMaxBlock)
    val a = sb.toDF("cust_a", "name_a", "blk2")
      .repartition(s.sparkContext.defaultParallelism,
                   col("cust_a")) // spread the probe side (see matchPairs)
    val b = sb.toDF("cust_b", "name_b", "blk2")
    a.join(b, Seq("blk2")).filter(col("cust_a") < col("cust_b"))
      .select("cust_a", "cust_b", "name_a", "name_b")
  }

  /** The unexecuted two-pass union plan — the shape the builder
    * materializes.
    *
    * levenshtein + threshold run INSIDE each pass, before the
    * union-distinct: dist is a function of the pair, so deduping
    * (cust_a, cust_b, dist) is result-identical to deduping raw
    * candidates — but the exchange carries 3 ints instead of two name
    * strings, and the ≤2 filter drops ~99% of candidates before any
    * shuffle. A pair blocked by BOTH passes re-computes its banded
    * levenshtein (O(threshold·n) early-exit DP) instead of shipping
    * names — the cheaper side of that trade at any scale. */
  private[graft] def multiBlockPlan(s: SparkSession, d: String): DataFrame = {
    def scored(cand: DataFrame): DataFrame = cand
      .withColumn("dist", levenshtein(col("name_a"), col("name_b"), 2))
      .filter(col("dist") >= 0) // banded early-exit DP (see matchPairs)
      .select("cust_a", "cust_b", "dist")
    scored(candPass(s, demographicRows(s, d, None)))
      .union(scored(candPass(s, suffixRows(s, d)))).distinct()
  }

  /** Multiblock match pairs persisted once per (run, corpus) — the
    * production ER shape: the two blocked self-joins run in the
    * BUILDER, queries serve the stored pair set (the lsh_pairs
    * discipline; the live single-pass join shape stays plan-swept via
    * `q_er_fuzzy_match`). */
  private[graft] def multiBlockPairs(s: SparkSession, d: String): DataFrame = {
    import graft.sources.IndexCatalog
    val dir = IndexCatalog.ensure(s, s"er_mb_pairs_${IndexCatalog.tag(d)}",
                                  inputs = Seq(d),
                                  owners = Seq(ResolutionQueries.getClass,
                                    graft.Tables.getClass)) { dir =>
      multiBlockPlan(s, d).write.mode("overwrite").parquet(s"$dir/pairs")
      IndexCatalog.declareIds("path", "pairs", Seq("cust_a", "cust_b"),
        space = "cust")
    }
    IndexCatalog.read(s, dir, "pairs")
  }

  val multiBlock = Q(
    "q_er_multiblock",
    s"""WITH ${subCte("d", "CAST(c_nationkey AS VARCHAR) || '|' || c_mktsegment")},
       |${subCte("sf", "right(c_name, 3)")},
       |cand AS (
       |  SELECT a.c_custkey AS cust_a, b.c_custkey AS cust_b,
       |    a.c_name AS name_a, b.c_name AS name_b
       |  FROM d_rs a JOIN d_rs b
       |    ON a.blk2 = b.blk2 AND a.c_custkey < b.c_custkey
       |  UNION
       |  SELECT a.c_custkey, b.c_custkey, a.c_name, b.c_name
       |  FROM sf_rs a JOIN sf_rs b
       |    ON a.blk2 = b.blk2 AND a.c_custkey < b.c_custkey
       |)
       |SELECT cust_a, cust_b, levenshtein(name_a, name_b) AS dist
       |FROM cand WHERE levenshtein(name_a, name_b) <= 2
       |ORDER BY cust_a, cust_b""".stripMargin) { (s, d) =>
    multiBlockPairs(s, d).orderBy("cust_a", "cust_b")
  }

  /** Stage-3b survivorship: one golden record per entity by the
    * deterministic rule (max acctbal, ties → min custkey) — a
    * rank-1-per-group window over the resolved clusters joined back to
    * the source rows. Singletons (customers in no match pair) keep
    * themselves by definition and are not re-listed. */
  val golden = Q(
    "q_er_golden",
    s"""WITH RECURSIVE ${matchCte(Some(ResolveBound))},
       |edges AS (
       |  SELECT cust_a AS src, cust_b AS dst FROM m
       |  UNION
       |  SELECT cust_b, cust_a FROM m
       |), walk(id, reach) AS (
       |  SELECT src, src FROM edges
       |  UNION
       |  SELECT w.id, e.dst FROM walk w JOIN edges e ON e.src = w.reach
       |), labeled AS (
       |  SELECT id AS cust_id, min(reach) AS entity FROM walk GROUP BY id
       |)
       |SELECT entity, n_members, c_custkey AS golden_custkey,
       |  c_acctbal AS golden_acctbal
       |FROM (
       |  SELECT l.entity, c.c_custkey, c.c_acctbal,
       |    count(*) OVER (PARTITION BY l.entity) AS n_members,
       |    row_number() OVER (PARTITION BY l.entity
       |                       ORDER BY c.c_acctbal DESC, c.c_custkey) AS rk
       |  FROM labeled l JOIN customer c ON l.cust_id = c.c_custkey
       |) WHERE rk = 1 ORDER BY entity""".stripMargin) { (s, d) =>
    val labeled = erLabels(s, d)
    val w = Window.partitionBy("entity")
    val joined = labeled.join(
      Tables.customer(s, d).select("c_custkey", "c_acctbal"),
      col("cust_id") === col("c_custkey"))
    joined
      .withColumn("n_members", count(lit(1)).over(w))
      .withColumn("rk", row_number().over(
        w.orderBy(col("c_acctbal").desc, col("c_custkey"))))
      .filter(col("rk") === 1)
      .select(col("entity"), col("n_members"),
              col("c_custkey").as("golden_custkey"),
              col("c_acctbal").as("golden_acctbal"))
      .orderBy("entity")
  }
}
