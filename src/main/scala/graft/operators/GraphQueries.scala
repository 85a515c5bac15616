package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Q
import graft.plans.Materialize.MaterializeOps

/** Iterative graph analytics over the engine's own similarity graph.
  *
  * The kNN graph ([[SimilarityQueries.knnEdges]]) is the substrate
  * graph-shaped corpus passes run on — centrality for coreset
  * selection, components for cluster resolution (already covered by
  * [[DedupResolve]]'s pointer jumping). PageRank is the canonical
  * bulk-iterative member: each iteration is one shuffle-on-key join +
  * one aggregation, the BSP superstep shape, expressed as K unrolled
  * DataFrame stages so Catalyst sees a single DAG (no driver-side
  * data, no collect — only plan construction loops).
  *
  * Exactness contract: ranks live in INTEGER space (scale 10^12) and
  * every step is integer multiply / floor-divide / long sum — a long
  * sum is order-independent, unlike the float sums textbook PageRank
  * would need, so the result is bit-identical on any partitioning and
  * the DuckDB oracle replays it exactly (with the engine's BIGINT-cast
  * convention on SUM).
  *
  * Scale design: contributions shuffle on vec_a (join) then vec_b
  * (agg) — 2 exchanges per superstep, both keyed; the node set is
  * closed under the symmetric cell-mate candidate relation, so no
  * dangling-mass correction term is needed; at 100 TB the edge set
  * would be a persisted IndexCatalog artifact (here it's recomputed
  * from the persisted IVF assignment table, which is itself the
  * artifact — the scan per superstep is of index-sized data, not the
  * corpus).
  */
object GraphQueries {

  /** Rank scale: 10^12 ≈ 40 bits, leaving 85×(in-degree×scale) far
    * below 2^63 even for a full 500-cap cell's in-degree. */
  val prScale = 1000000000000L
  val prBase: Long = prScale * 15 / 100 // (1-d) mass, d = 0.85
  val prIters = 3

  /** One PageRank superstep. Skew posture (pinned by
    * PagerankSkewGuardSpec): a hot IN-degree vertex never concentrates a
    * reduce task, because the in-sum aggregation's partial (map-side)
    * combine collapses the hot key to one row per map partition before
    * the exchange. A hot OUT-degree (source) key would skew the
    * contribution join — AQE's skew split structurally cannot fire
    * inside this co-partitioned multi-join (the rule matches only a
    * join over two bare shuffle reads), but the production input bounds
    * out-degree at k by construction (kNN top-3 per node, asserted
    * against the artifact); a generic unbounded-out-degree graph should
    * route its contribution join through [[Salting.saltedJoin]], whose
    * superstep equivalence the spec proves. */
  private[graft] def oneIter(edges: DataFrame, deg: DataFrame, ranks: DataFrame): DataFrame = {
    val contrib = edges
      .join(deg, Seq("vec_a"))
      .join(ranks.withColumnRenamed("vec_id", "vec_a"), Seq("vec_a"))
      .select(col("vec_b").as("vec_id"), expr("pr DIV outdeg").as("c"))
    val inSum = contrib.groupBy("vec_id").agg(sum("c").as("in_sum"))
    deg.select(col("vec_a").as("vec_id"))
      .join(inSum, Seq("vec_id"), "left")
      .select(col("vec_id"),
        (lit(prBase) + expr("(85 * coalesce(in_sum, 0)) DIV 100")).as("pr"))
  }

  /** Weighted-variant rank scale: smaller than [[prScale]] because each
    * contribution multiplies rank by an edge weight ≤ [[wMax]] before
    * the divide — worst-case mass concentration (every node's full
    * N×scale mass on one vertex) times wMax must stay below 2^63;
    * 10^9 × 10^4 nodes × 10^3 ≈ 10^16 leaves 600× headroom. */
  val wprScale = 1000000000L
  val wprBase: Long = wprScale * 15 / 100

  /** Edge weight: cosine ∈ [-1,1] affine-mapped to the integer range
    * [1, 1001] — strictly positive (a negative-cosine edge must not
    * push negative mass) and exact (the cosine doubles are bit-equal
    * across engines — q_knn_graph pins that — so floor lands the same
    * side of every boundary). */
  val wMax = 1001L
  private val edgeWeight = (floor((col("cosine") + 1) * 500) + 1).cast("long")
  private val edgeWeightSql = "CAST(floor((cosine + 1) * 500) AS BIGINT) + 1"

  private def oneWeightedIter(ew: DataFrame, wdeg: DataFrame, ranks: DataFrame): DataFrame = {
    val contrib = ew
      .join(wdeg, Seq("vec_a"))
      .join(ranks.withColumnRenamed("vec_id", "vec_a"), Seq("vec_a"))
      .select(col("vec_b").as("vec_id"), expr("(pr * w) DIV wsum").as("c"))
    val inSum = contrib.groupBy("vec_id").agg(sum("c").as("in_sum"))
    wdeg.select(col("vec_a").as("vec_id"))
      .join(inSum, Seq("vec_id"), "left")
      .select(col("vec_id"),
        (lit(wprBase) + expr("(85 * coalesce(in_sum, 0)) DIV 100")).as("pr"))
  }

  /** Similarity-weighted PageRank over the kNN graph: a node's rank
    * flows to its neighbors PROPORTIONALLY to edge cosine rather than
    * uniformly — the centrality a coreset-selection pass wants, where a
    * node tightly coupled to its cell-mates outranks one with the same
    * degree but weaker ties. Same superstep shape as [[pagerank]]
    * (2 keyed exchanges per iteration: join on vec_a, agg on vec_b);
    * the only new per-edge state is the integer weight and the
    * precomputed per-source weight total `wsum` replacing `outdeg`. */
  val weightedPagerank = Q(
    "q_pagerank_weighted",
    s"""WITH ${SimilarityQueries.knnEdgesCtes},
       |ew AS (SELECT vec_a, vec_b, $edgeWeightSql AS w FROM knn),
       |wdeg AS (SELECT vec_a, CAST(SUM(w) AS BIGINT) AS wsum
       |         FROM ew GROUP BY 1),
       |r0 AS (SELECT vec_a AS vec_id, CAST($wprScale AS BIGINT) AS pr FROM wdeg),
       |${(1 to prIters).map { i =>
         s"""r$i AS (
            |  SELECT d.vec_a AS vec_id,
            |    CAST($wprBase + (85 * COALESCE(s.c, 0)) // 100 AS BIGINT) AS pr
            |  FROM wdeg d LEFT JOIN (
            |    SELECT ew.vec_b, CAST(SUM((r.pr * ew.w) // dg.wsum) AS BIGINT) AS c
            |    FROM ew JOIN r${i - 1} r ON r.vec_id = ew.vec_a
            |            JOIN wdeg dg ON dg.vec_a = ew.vec_a
            |    GROUP BY ew.vec_b) s ON s.vec_b = d.vec_a)""".stripMargin
       }.mkString(",\n")}
       |SELECT vec_id, pr FROM r$prIters ORDER BY vec_id""".stripMargin) { (s, d) =>
    // same iteration-invariant materialization as [[pagerank]]
    val ew = SimilarityQueries.knnEdges(s, d)
      .select(col("vec_a"), col("vec_b"), edgeWeight.as("w"))
      .materializeOnce
    val wdeg = ew.groupBy("vec_a").agg(sum("w").as("wsum"))
      .materializeOnce
    val r0 = wdeg.select(col("vec_a").as("vec_id"), lit(wprScale).as("pr"))
    val rk = (1 to prIters).foldLeft(r0)((r, _) => oneWeightedIter(ew, wdeg, r))
    rk.orderBy("vec_id")
  }

  /** Canonical undirected `u < v` edge list of a directed
    * (vec_a, vec_b) edge set. */
  private[graft] def undirected(e: DataFrame): DataFrame =
    e.select(least(col("vec_a"), col("vec_b")).as("u"),
             greatest(col("vec_a"), col("vec_b")).as("v"))
      .distinct()

  /** Construction shape of [[triangles]] over any canonical undirected
    * edge frame — factored out so GraphOpsSpec pins the counting on a
    * handcrafted graph (the registered query runs it over the persisted
    * kNN artifact). */
  private[graft] def trianglesFrom(und: DataFrame): DataFrame = {
    val tri = und
      .join(und.select(col("u").as("v"), col("v").as("w")), Seq("v"))
      .join(und.select(col("u"), col("v").as("w")), Seq("u", "w"))
      .select(col("u").as("a"), col("v").as("b"), col("w").as("c"))
    val tcount = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("vec_id"))
      .groupBy("vec_id").agg(count(lit(1)).as("tri"))
    val deg = und.select(col("u").as("vec_id"))
      .union(und.select(col("v").as("vec_id")))
      .groupBy("vec_id").agg(count(lit(1)).as("deg"))
    deg.join(tcount, Seq("vec_id"), "left")
      .select(col("vec_id"), col("deg"),
        coalesce(col("tri"), lit(0L)).as("tri"),
        when(col("deg") < 2, lit(0L))
          .otherwise(expr("(200 * coalesce(tri, 0)) DIV (deg * (deg - 1))"))
          .as("coeff_pct"))
      .orderBy("vec_id")
  }

  /** Construction shape of [[linkPredict]] (sans limit) over any
    * canonical undirected edge frame. */
  private[graft] def linkPredictFrom(und: DataFrame): DataFrame = {
    val adj = und.select(col("u").as("m"), col("v").as("x"))
      .union(und.select(col("v").as("m"), col("u").as("x")))
    val cn = adj
      .join(adj.select(col("m"), col("x").as("y")), Seq("m"))
      .filter(col("x") < col("y"))
      .groupBy(col("x").as("u"), col("y").as("v"))
      .agg(count(lit(1)).as("cn"))
    cn.join(und, Seq("u", "v"), "left_anti")
      .orderBy(col("cn").desc, col("u"), col("v"))
  }

  /** Per-node triangle count and local clustering coefficient over the
    * kNN graph — the density gauge a graph-curation pass reads (a
    * high-coefficient neighborhood is a tight near-duplicate clique;
    * a zero-coefficient hub is a spurious centroid-adjacent node).
    *
    * Shape: the directed top-k edge set canonicalizes to an undirected
    * `u < v` edge list (≤ kN rows), wedges come from one self-join on
    * the middle vertex and close into triangles by a second keyed join
    * (the standard a<b<c enumeration — each triangle counted exactly
    * once), then per-node counts explode the 3 corners. All joins are
    * keyed equi-joins on vertex ids; candidate volume is bounded by the
    * per-cell cap exactly like the kNN build itself. Coefficient is the
    * integer percentage 200·tri DIV (deg·(deg−1)) — deg is the
    * UNDIRECTED degree, and deg<2 nodes define 0 (no wedge exists). */
  val triangles = Q(
    "q_graph_triangles",
    s"""WITH ${SimilarityQueries.knnEdgesCtes},
       |und AS (SELECT DISTINCT least(vec_a, vec_b) AS u,
       |                        greatest(vec_a, vec_b) AS v FROM knn),
       |tri AS (
       |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
       |  FROM und e1 JOIN und e2 ON e2.u = e1.v
       |       JOIN und e3 ON e3.u = e1.u AND e3.v = e2.v),
       |corners AS (
       |  SELECT a AS vec_id FROM tri
       |  UNION ALL SELECT b FROM tri
       |  UNION ALL SELECT c FROM tri),
       |tcount AS (SELECT vec_id, CAST(count(*) AS BIGINT) AS tri
       |           FROM corners GROUP BY 1),
       |ends AS (SELECT u AS vec_id FROM und UNION ALL SELECT v FROM und),
       |deg AS (SELECT vec_id, CAST(count(*) AS BIGINT) AS deg
       |        FROM ends GROUP BY 1)
       |SELECT d.vec_id, d.deg, CAST(COALESCE(t.tri, 0) AS BIGINT) AS tri,
       |  CAST(CASE WHEN d.deg < 2 THEN 0
       |       ELSE (200 * COALESCE(t.tri, 0)) // (d.deg * (d.deg - 1))
       |       END AS BIGINT) AS coeff_pct
       |FROM deg d LEFT JOIN tcount t USING (vec_id)
       |ORDER BY d.vec_id""".stripMargin) { (s, d) =>
    // the undirected edge frame feeds four arms (three triangle sides +
    // the degree count) — materialize its distinct once at the call
    // site; the helper stays lazy for GraphOpsSpec's handcrafted graphs
    trianglesFrom(
      undirected(SimilarityQueries.knnEdges(s, d)).materializeOnce)
  }

  /** Link prediction by common-neighbor count: the top-100 node pairs
    * that share the most neighbors in the kNN graph but are NOT
    * themselves connected — the candidate edges a graph-densification
    * pass (or a "related documents" recommender) would add next. One
    * wedge enumeration (self-join of the symmetric adjacency on the
    * middle vertex, `x < y` canonicalizes), one count, one anti-join
    * against the existing edge set, one TakeOrderedAndProject. All
    * shuffles are keyed; wedge volume is Σ deg², bounded by the IVF
    * cell cap exactly like [[triangles]]. Deterministic: ties break by
    * (u, v) after the count. */
  val linkPredict = Q(
    "q_graph_link_predict",
    s"""WITH ${SimilarityQueries.knnEdgesCtes},
       |und AS (SELECT DISTINCT least(vec_a, vec_b) AS u,
       |                        greatest(vec_a, vec_b) AS v FROM knn),
       |adj AS (SELECT u AS m, v AS x FROM und
       |        UNION ALL SELECT v, u FROM und),
       |cn AS (
       |  SELECT e1.x AS u, e2.x AS v, CAST(count(*) AS BIGINT) AS cn
       |  FROM adj e1 JOIN adj e2 ON e1.m = e2.m AND e1.x < e2.x
       |  GROUP BY 1, 2)
       |SELECT u, v, cn FROM cn
       |WHERE NOT EXISTS (SELECT 1 FROM und WHERE und.u = cn.u AND und.v = cn.v)
       |ORDER BY cn DESC, u, v LIMIT 100""".stripMargin) { (s, d) =>
    // und feeds both adjacency halves and the anti-join — same call-site
    // materialization as [[triangles]]
    linkPredictFrom(
      undirected(SimilarityQueries.knnEdges(s, d)).materializeOnce)
      .limit(100)
  }

  /** Mutual-kNN edge set: pairs where EACH side ranks the other in its
    * top-k — the standard symmetrized graph for density-based
    * clustering (mutual edges are far more precise than one-directional
    * ones, which hub nodes accumulate spuriously). One self-join of the
    * directed edge set against its own reversal; cosine is symmetric so
    * either side's value serves. */
  val mutualKnn = Q(
    "q_graph_mutual_knn",
    s"""WITH ${SimilarityQueries.knnEdgesCtes}
       |SELECT f.vec_a AS u, f.vec_b AS v, f.cosine
       |FROM knn f JOIN knn r ON r.vec_a = f.vec_b AND r.vec_b = f.vec_a
       |WHERE f.vec_a < f.vec_b
       |ORDER BY u, v""".stripMargin) { (s, d) =>
    val e = SimilarityQueries.knnEdges(s, d)
    val rev = e.select(col("vec_b").as("vec_a"), col("vec_a").as("vec_b"))
    e.join(rev, Seq("vec_a", "vec_b"))
      .filter(col("vec_a") < col("vec_b"))
      .select(col("vec_a").as("u"), col("vec_b").as("v"), col("cosine"))
      .orderBy("u", "v")
  }

  /** Synchronous label-propagation supersteps. */
  val lpIters = 3

  /** One label-propagation superstep over a symmetric (m, x) adjacency:
    * every node adopts the most frequent label among its neighbors,
    * ties broken by the SMALLEST label — the deterministic variant of
    * classic LPA (async random-order LPA is irreproducible; synchronous
    * min-tiebreak is a pure function of the graph, so the DuckDB oracle
    * replays it exactly). Three keyed operations: the label lookup join
    * (on the neighbor id), the (node, label) count — partial combine
    * collapses a hot label before the exchange — and the per-node
    * argmax as ONE rank-1 window in (count desc, label asc) order
    * (2 keyed exchanges per superstep, not the 4 a max-join-min
    * formulation costs; the window partition is a node's DISTINCT
    * neighbor-label set, bounded by its degree). */
  private[graft] def lpIter(adj: DataFrame, labels: DataFrame): DataFrame = {
    val nl = adj
      .join(labels.select(col("vec_id").as("x"), col("lbl")), Seq("x"))
      .groupBy("m", "lbl").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("m").orderBy(col("c").desc, col("lbl"))
    nl.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("m").as("vec_id"), col("lbl"))
  }

  /** Construction shape of [[communities]] over any canonical
    * undirected `u < v` edge frame (factored for GraphOpsSpec, which
    * pins the propagation on a handcrafted two-clique bridge graph). */
  private[graft] def communitiesFrom(und: DataFrame): DataFrame = {
    val adj = und.select(col("u").as("m"), col("v").as("x"))
      .union(und.select(col("v").as("m"), col("u").as("x")))
    val l0 = adj.select(col("m").as("vec_id")).distinct()
      .select(col("vec_id"), col("vec_id").as("lbl"))
    val lk = (1 to lpIters).foldLeft(l0)((l, _) => lpIter(adj, l))
    lk.withColumn("csize",
        count(lit(1)).over(Window.partitionBy(col("lbl"))))
      .select(col("vec_id"), col("lbl").as("community"), col("csize"))
      .orderBy("vec_id")
  }

  /** The canonical mutual-kNN undirected edge frame (each side ranks
    * the other top-k), off the persisted kNN artifact. */
  private[graft] def mutualUndirected(s: SparkSession, d: String): DataFrame = {
    val e = SimilarityQueries.knnEdges(s, d)
    undirected(e.join(
      e.select(col("vec_b").as("vec_a"), col("vec_a").as("vec_b")),
      Seq("vec_a", "vec_b")))
  }

  /** Community labels resolved ONCE per (run, corpus) and persisted —
    * `q_graph_communities` serves from the stored artifact (the
    * er_labels discipline: propagation is training-shaped state, and a
    * deploy re-propagates only when the code feeding the bytes
    * changes). Owners cover the transitive builder closure down to the
    * kNN/IVF tiers, the [[DedupQueries]] sem-owners convention. */
  private[graft] def communityLabels(s: SparkSession, d: String): DataFrame = {
    import graft.sources.IndexCatalog
    // dependency first: keeps kNN/IVF build cost attributed to
    // idx_knn/idx_ivf in the bench (the KnnIndex.edges pattern)
    SimilarityQueries.knnEdges(s, d)
    val dir = IndexCatalog.ensure(s, s"communities_${IndexCatalog.tag(d)}",
        inputs = Seq(d),
        owners = Seq(GraphQueries.getClass, SimilarityQueries.getClass,
          KnnIndex.getClass, IvfQuantizer.getClass, IvfIndex.getClass,
          graft.Tables.getClass, classOf[graft.plans.CosineSimilarity],
          graft.sources.BucketedTableSink.getClass)) { dir =>
      communitiesFrom(mutualUndirected(s, d))
        .write.mode("overwrite").parquet(s"$dir/labels")
      // the community label is itself a vec id (canonical min member)
      IndexCatalog.declareIds("path", "labels", Seq("vec_id", "community"))
    }
    IndexCatalog.read(s, dir, "labels")
  }

  /** Community detection by synchronous label propagation over the
    * MUTUAL-kNN graph — the topic/near-duplicate grouping pass a corpus
    * build runs between pairwise dedup (connected components over
    * verified match pairs) and global clustering (IVF cells): mutual
    * edges are the precision-filtered similarity graph, and LPA finds
    * its dense regions without training anything. Nodes with no mutual
    * edge have no evidence of community membership and are not listed
    * (documented contract, same as singleton handling in `q_er_golden`).
    *
    * Scale shape: propagation runs once per corpus and persists through
    * [[communityLabels]]; serving is an artifact scan. The build itself
    * is the [[pagerank]] posture — each of the [[lpIters]] supersteps
    * is edge-sized work on keyed exchanges (see [[lpIter]]), labels are
    * node-sized, nothing quadratic, no driver data; its plan shape is
    * pinned by GraphOpsSpec over handcrafted graphs. */
  val communities = Q(
    "q_graph_communities",
    s"""WITH ${SimilarityQueries.knnEdgesCtes},
       |mund AS (
       |  SELECT f.vec_a AS u, f.vec_b AS v
       |  FROM knn f JOIN knn r ON r.vec_a = f.vec_b AND r.vec_b = f.vec_a
       |  WHERE f.vec_a < f.vec_b),
       |ladj AS (SELECT u AS m, v AS x FROM mund
       |         UNION ALL SELECT v, u FROM mund),
       |l0 AS (SELECT DISTINCT m AS vec_id, m AS lbl FROM ladj),
       |${(1 to lpIters).map { i =>
         s"""l$i AS (
            |  SELECT m AS vec_id, lbl FROM (
            |    SELECT m, lbl,
            |      row_number() OVER (PARTITION BY m ORDER BY c DESC, lbl) AS rk
            |    FROM (
            |      SELECT a.m, r.lbl, count(*) AS c
            |      FROM ladj a JOIN l${i - 1} r ON r.vec_id = a.x
            |      GROUP BY a.m, r.lbl))
            |  WHERE rk = 1)""".stripMargin
       }.mkString(",\n")}
       |SELECT vec_id, community, csize FROM (
       |  SELECT vec_id, lbl AS community,
       |    count(*) OVER (PARTITION BY lbl) AS csize
       |  FROM l$lpIters)
       |ORDER BY vec_id""".stripMargin) { (s, d) =>
    communityLabels(s, d).orderBy("vec_id")
  }

  val pagerank = Q(
    "q_pagerank",
    s"""WITH ${SimilarityQueries.knnEdgesCtes},
       |e AS (SELECT vec_a, vec_b FROM knn),
       |deg AS (SELECT vec_a, CAST(count(*) AS BIGINT) AS outdeg
       |        FROM e GROUP BY 1),
       |r0 AS (SELECT vec_a AS vec_id, CAST($prScale AS BIGINT) AS pr FROM deg),
       |${(1 to prIters).map { i =>
         s"""r$i AS (
            |  SELECT d.vec_a AS vec_id,
            |    CAST($prBase + (85 * COALESCE(s.c, 0)) // 100 AS BIGINT) AS pr
            |  FROM deg d LEFT JOIN (
            |    SELECT e.vec_b, CAST(SUM(r.pr // dg.outdeg) AS BIGINT) AS c
            |    FROM e JOIN r${i - 1} r ON r.vec_id = e.vec_a
            |           JOIN deg dg ON dg.vec_a = e.vec_a
            |    GROUP BY e.vec_b) s ON s.vec_b = d.vec_a)""".stripMargin
       }.mkString(",\n")}
       |SELECT vec_id, pr FROM r$prIters ORDER BY vec_id""".stripMargin) { (s, d) =>
    // materialize the iteration-invariant frames once: every superstep
    // re-references edges and deg (the unrolled DAG otherwise re-runs
    // the kNN edge derivation 3x and the degree agg 5x — the plan held
    // 10 parquet scans). This IS the documented 100 TB posture ("the
    // edge set would be a persisted artifact") applied in-session.
    val edges = SimilarityQueries.knnEdges(s, d).select("vec_a", "vec_b")
      .materializeOnce
    val deg = edges.groupBy("vec_a").agg(count(lit(1)).as("outdeg"))
      .materializeOnce
    val r0 = deg.select(col("vec_a").as("vec_id"), lit(prScale).as("pr"))
    val rk = (1 to prIters).foldLeft(r0)((r, _) => oneIter(edges, deg, r))
    rk.orderBy("vec_id")
  }
}
