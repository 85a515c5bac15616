package graft

/** Whole-inventory plan hygiene: NO registered query may plan a
  * CartesianProduct or BroadcastNestedLoopJoin — the two shapes that
  * silently turn into n² at 100 TB — except the documented, hard-bounded
  * recall baselines. Planning-only (no execution), so the sweep stays
  * cheap and new queries are guarded automatically on registration.
  *
  * Artifact-backed queries (LSH pairs, keep-lists, embedding pairs) are
  * special-cased: their registered plan is just a parquet scan of the
  * [[graft.sources.IndexCatalog]] artifact, and merely CONSTRUCTING it
  * would materialize the artifact mid-sweep. The sweep instead
  * plan-checks [[graft.operators.DedupQueries.builderPlans]] — the exact
  * unexecuted plans the builders run — so the real pair-generation
  * shapes stay guarded without executing anything. */
class PlanHygieneSpec extends SparkSpec {

  private def badShapes(plan: String): Boolean =
    plan.contains("CartesianProduct") || plan.contains("BroadcastNestedLoopJoin")

  /** Documented bounded O(n²) recall oracles (each caps its input to
    * <500 ids), plus the brute-force ANN baseline whose
    * BroadcastNestedLoopJoin is the intended shape: a bounded query
    * batch (10 rows) broadcast against one corpus scan IS brute force —
    * 10·n by construction, not n². */
  private val boundedBaselines = Set(
    "q_dedup_jaccard_pairs", "q_dedup_containment", "q_dedup_embedding_exact",
    "q_ann_bruteforce",
    // int8 ANN: same bounded query-batch × corpus shape as bruteforce,
    // plus a ONE-row per-dim stats frame cross-joined onto the scan
    "q_ann_int8",
    // binary (1-bit) tier: the same bounded query-batch × corpus shape
    // over the packed Hamming codes (ONE-row threshold frame, the int8
    // stats idiom); the rerank composes the shortlist through it, and
    // the recall gauges compose two of these shapes
    "q_ann_binary", "q_ann_binary_rerank",
    "q_ann_binary_recall", "q_ann_binary_rerank_recall",
    // matryoshka: the same bounded query-batch × corpus shape over the
    // sliced prefix; the recall gauge composes two of them; the
    // two-stage rerank shortlists through the same shape before its
    // constant-size exact rerank join
    "q_ann_matryoshka", "q_ann_matryoshka_recall",
    "q_ann_rerank", "q_ann_rerank_recall",
    // margin mining: the same bounded query-batch × corpus shape, with
    // a cross-label (non-equi) candidate filter
    "q_bitext_mine",
    // ONE-row bounds frame broadcast onto the scan (q_ann_int8 pattern)
    "q_histogram",
    // IVF serving path (r21): the k·dim centroid table folded into ONE
    // row and cross-joined onto the unexploded embedding scan — the
    // per-vector argmin runs map-only instead of explode×k + hash-agg +
    // rank window (two corpus-grain exchanges); same q_ann_int8
    // ONE-row-broadcast idiom
    "q_ivf_drift", "q_embedding_outliers",
    // ONE-row normalizer frame broadcast onto the |sources|-row agg
    "q_mixture_weights",
    // calendar spine: |days| × |event types| — two metadata-sized
    // derived frames crossed; data-sized work is all equi-keyed
    "q_gapfill_daily", "q_rolling_7day",
    // file-skipping audit: ≤64-row file-stats frames range-joined onto
    // the ≤|sources|-row code frame — metadata × metadata by
    // construction; the corpus-sized work is two hash-aggs
    "q_zorder_prune",
    // ONE-row per-file-count frame broadcast onto the scan for the
    // linear baseline (q_token_budget pattern); layouts are hash-aggs
    "q_curve_compare",
    // ONE-row bigram-total normalizer frame broadcast onto the
    // vocabulary-sized survivor set (q_mixture_weights pattern)
    "q_text_collocations",
    // ONE-row corpus-total normalizer frame broadcast onto the
    // (source, token) agg (q_mixture_weights pattern)
    "q_source_divergence",
    // ONE-row bigram-type-total frame broadcast onto the
    // bigram-vocabulary frame (q_source_divergence pattern)
    "q_lm_kn_heldout",
    // ONE-row global-budget frame broadcast onto the scan
    // (q_mixture_weights pattern)
    "q_token_budget",
    // ONE-row max-ppm frame broadcast onto the two-artifact join
    // (q_token_budget pattern); the ten-step grid is conditional sums
    "q_filter_sweep",
    // ONE-row token-totals frame crossed onto the 256-row bucket model
    // before it broadcasts onto the raw token stream
    // (q_mixture_weights pattern); the _live twin keeps the
    // construction plan registered after r12 artifact-serving
    "q_dsir_weights", "q_dsir_sample", "q_dsir_weights_live",
    // the DSIR drift gauge: TWO one-row totals frames (model totals +
    // current-stream total) crossed onto the 256-row bucket join —
    // 256 × 1 × 1 by construction (q_dsir_weights_live pattern)
    "q_dsir_drift",
    // the KN drift gauge: the q_lm_kn_heldout scoring joins (ONE-row
    // bigram-type-total frame crossed onto the instance stream) with
    // OOV flags kept — same bounded shape, |sources|-row output
    "q_kn_drift",
    // TWO one-row aggregates crossed (totals × unique-chunk store) —
    // 1 × 1 by construction; the corpus-sized work is one hash-agg on
    // the chunk md5 upstream of both
    "q_blob_storage", "q_blob_grid",
    // ONE-row totals frame (grand tokens + fixed-order weight fold)
    // crossed onto the |sources|-row weights frame; the per-doc join
    // is a broadcast equi-join on source (q_token_budget pattern)
    "q_mixture_sample",
    // same ONE-row totals + |sources|-row targets shape as
    // q_mixture_sample; the remainder-prefix join is broadcast
    // equi-keyed on source
    "q_mixture_epochs",
    // the same epoch-schedule kernel composed over the v2 funnel's
    // artifact-served survivor frame
    "q_corpus_schedule",
    // the same kernel over the persisted v2-manifest artifact's train
    // slice (the production serving path) — same ONE-row totals +
    // |sources|-row targets shape; the pareto twin reads the other
    // dial's manifest through the identical kernel
    "q_corpus_schedule_served", "q_corpus_schedule_pareto_served",
    // the kernel's draws tails (raw corpus + manifest-served): same
    // ONE-row totals + |sources|-row targets shape, emitted per doc
    "q_mixture_draws", "q_corpus_draws_served",
    // |langs|-row totals frame (≤5) + ONE-row vocabulary-size frame
    // crossed onto the distinct-token frame: the vote grid is
    // vocab × |langs| BY DESIGN — bounded by the label alphabet,
    // never by corpus size
    "q_trained_langid")

  /** Queries whose CONSTRUCTION already runs Spark jobs — iterative
    * training/resolution (IVF k-means, connected components), eager
    * sketches, or an IndexCatalog artifact build — too heavy for a sweep
    * that should stay planning-only. Their builder-side join shapes are
    * covered by the builder-plan sweep below and their own specs. */
  private val constructionEager = Set(
    "q_dedup_minhash_lsh", "q_dedup_cross_source", "q_dedup_simhash_pairs",
    "q_dedup_embedding",
    "q_dedup_resolve", "q_dedup_embedding_resolve", "q_corpus_curation",
    // contamination + funnel consume the persisted bench-gram artifact;
    // the gram-build shape is swept via builderPlans("bench_grams")
    "q_curation_funnel", "q_text_contamination",
    "q_ann_ivf", "q_ann_filtered", "q_ann_filtered_recall",
    "q_ann_ivf_probe2", "q_ann_recall", "q_ann_cells",
    "q_ann_ivfpq", "q_ann_ivfpq_recall", "q_embedding_outliers",
    // serves from the persisted IVF artifact (assigned distances +
    // one cell-partitioned window); the training shape is swept via
    // the IVF builder plans
    "q_d4_prune",
    // consume the sem_pairs artifact (built from the persisted IVF
    // assignments); the pair-generation shape is swept via
    // builderPlans("sem_pairs"), and the recall gauge additionally
    // composes the documented bounded exact baseline
    // recall gauge: consumes the lsh pair artifact AND composes the
    // documented bounded exact baseline (same pattern as the semantic
    // recall gauges below)
    "q_dedup_lsh_recall",
    "q_dedup_semantic", "q_dedup_semantic2", "q_dedup_semantic_recall",
    "q_dedup_semantic2_recall", "q_dedup_semantic_resolve",
    // consumes the sem_pairs artifact (eval↔train edge cut + counts);
    // pair generation swept via builderPlans("sem_pairs")
    "q_semantic_contamination",
    // eagerly checkpoints its candidate pool at construction (the
    // greedy supersteps re-read it); the fetch shape is the whitelisted
    // q_ann_int8 bounded query-batch × scan + ONE-row stats frame
    "q_mmr_select",
    // serve from the kn_scores artifact (doc-grain scan + per-source
    // ntile); the live train+score shape stays registered AND
    // hygiene-relevant via q_lm_kn_heldout (same joins, no windows'
    // worth of difference), plus KneserNeySpec's hand-corpus plans
    "q_lm_kn", "q_quality_tertiles", "q_quality_mixture",
    // serve from the bucketed inverted-index artifact; the postings
    // build shape is swept via builderPlans("inv_index"). bm25's one
    // cross join broadcasts the artifact's ONE-row collection-stats
    // frame — bounded by construction, the q_ann_int8 pattern
    "q_text_search", "q_text_bm25", "q_text_phrase",
    // same artifact-served postings; its cross joins are the 3-row
    // query-term cf frame and the 1-row stats frame — bounded by the
    // query alphabet (the q_text_bm25 pattern)
    "q_text_ql",
    // serves from BOTH persisted artifacts (inverted index + IVF);
    // its two cross joins broadcast the index's ONE-row stats frame
    // (the q_text_bm25 pattern); leg shapes are k-bounded windows
    "q_hybrid_rrf",
    // the hybrid's MRR gauge: same artifact-served legs, plus the
    // documented bounded-query-batch brute-force exact-NN baseline
    // (the q_ann_bruteforce shape — 5·n by construction, not n²)
    "q_retrieval_mrr",
    "q_freq_items",
    // consumes the keep-list artifact; its Bloom filter is a scalar
    // subquery over the drop list, probed map-side
    "q_bloom_prefilter",
    // serves from the knn edge artifact (one hash-agg + left join);
    // edge construction swept via the knnEdgesFrom stand-in sweep
    "q_knn_hubness",
    // serve from the winnow fingerprint artifact (fh-bucketed:
    // distinct, bucket count, pair join, and span joins all
    // bucket-local); the window-selection construction shape stays
    // swept via the LIVE q_winnow_fingerprint
    "q_winnow_matches", "q_winnow_spans",
    // serve from the er_labels artifact (DedupResolve's pointer-jumping
    // loop, run once per corpus via IndexCatalog); the underlying
    // blocked match-join shape IS plan-swept via q_er_fuzzy_match
    // (same self-join, unbounded)
    "q_er_clusters", "q_er_golden",
    // serves from the er_mb_pairs artifact; the two-pass union shape
    // is swept via builderPlans("er_mb_pairs")
    "q_er_multiblock",
    // serve from the img_phash artifact (pixels touched once per
    // corpus); the decode+hash shape is swept via
    // builderPlans("img_phash")
    "q_mm_img_phash", "q_mm_img_neardup",
    // serve from the gif_phash artifact (frames decoded once per
    // corpus); the decode shape is swept via builderPlans("gif_phash")
    "q_mm_gif_frames", "q_mm_gif_neardup",
    // serves from the communities artifact (LPA run once per corpus via
    // IndexCatalog); the superstep plan shape is pinned by GraphOpsSpec
    // over handcrafted graphs
    "q_graph_communities",
    // consumes the lsh keep-list artifact (cluster labels); the LSH
    // pair-generation shape is swept via builderPlans, the query's own
    // plan is one left equi-join + hash-agg
    "q_split_leakfree",
    // same keep-list artifact consumption as q_split_leakfree
    "q_corpus_datacard")

  test("no registered query plans a cartesian or nested-loop join") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, _) if boundedBaselines(name) || constructionEager(name) => None
      case (name, fn) =>
        val plan = fn(spark, sf0001).queryExecution.sparkPlan.toString
        if (badShapes(plan)) Some(name) else None
    }
    spark.catalog.clearCache() // some queries cache their inputs
    assert(offenders.isEmpty,
      s"unbounded join shapes in: ${offenders.mkString(", ")}")
  }

  test("no registered query plans an unpartitioned window") {
    // A WindowExec with an empty partition spec funnels the whole input
    // through ONE task — fine on a 150-row frame today, a straggler at
    // 100 TB, and the warning it logs is kept out of the bench tail.
    // Caveat: a constant partition key can still be folded away by
    // AQE's runtime re-optimization (the q_mixture_weights regression
    // this test was added after) — don't use constant keys either; use
    // a 1-row aggregate + broadcast cross join instead.
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, _) if constructionEager(name) => None
      case (name, fn) =>
        val bad = fn(spark, sf0001).queryExecution.executedPlan.collect {
          case w: org.apache.spark.sql.execution.window.WindowExec
              if w.partitionSpec.isEmpty => w
          case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec
              if w.partitionSpec.isEmpty => w
        }
        if (bad.nonEmpty) Some(name) else None
    }
    spark.catalog.clearCache()
    assert(offenders.isEmpty,
      s"unpartitioned windows in: ${offenders.mkString(", ")}")
  }

  test("no index-builder plan contains a cartesian or nested-loop join") {
    val offenders = operators.DedupQueries.builderPlans(spark, sf0001).flatMap {
      case (name, df) =>
        val plan = df.queryExecution.sparkPlan.toString
        if (badShapes(plan)) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"unbounded join shapes in builders: ${offenders.mkString(", ")}")
  }

  test("no registered query statically broadcasts an unbounded relation") {
    // The r15 scale-killer class: a static broadcast() hint whose build
    // side is a corpus-derived relation with no cardinality bound
    // between the hint and the scan. A hint is not advisory — Spark
    // attempts the exchange regardless of measured size and fails hard
    // at the 8 GB broadcast cap instead of demoting to a sort-merge —
    // so any side that can grow with the corpus (a base table, or an
    // artifact relation like the boilerplate list, whose row count
    // tracks duplicated-content volume) must stay unhinted and let AQE
    // decide. Bounding nodes that legitimately cap a hinted side:
    // a global (ungrouped) aggregate — ONE row by construction — and
    // limits. A GROUPED aggregate does NOT bound (group-by seg over the
    // corpus is corpus-sized); genuinely bounded grouped-key domains
    // (fixed bucket counts, the label alphabet) are exempted per query
    // below, with the bound stated.
    import org.apache.spark.sql.catalyst.plans.logical._
    // Schema-bounded TPC-H dims: region is 5 rows and nation 25 by
    // spec, at every scale factor — a static hint on them is honest.
    val boundedTables = Set("region.parquet", "nation.parquet")
    def unboundedLeaf(p: LogicalPlan): Option[String] = p match {
      case a: Aggregate if a.groupingExpressions.isEmpty => None
      case _: GlobalLimit | _: LocalLimit => None
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        val paths = r.relation match {
          case f: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
            f.location.rootPaths.map(_.getName)
          case _ => Seq("<non-file relation>")
        }
        paths.find(n => !boundedTables(n))
      case other =>
        other.children.flatMap(unboundedLeaf).headOption
    }
    val exempt: Map[String, String] = Map(
      // bounded query batch: vec_id < 10 filter on the hinted side —
      // 10 rows by construction (the brute-force baseline's shape);
      // a Filter is not a generic bound, so these stay name-exempted
      "q_ann_bruteforce" -> "10-row query-batch filter",
      "q_ann_int8" -> "10-row query-batch filter",
      "q_ann_binary" -> "10-row query-batch filter",
      "q_ann_binary_rerank" -> "10-row query-batch filter",
      "q_ann_binary_recall" -> "10-row query-batch filter",
      "q_ann_binary_rerank_recall" -> "10-row query-batch filter",
      "q_ann_matryoshka" -> "10-row query-batch filter",
      "q_ann_matryoshka_recall" -> "10-row query-batch filter",
      "q_ann_rerank" -> "10-row query-batch filter",
      "q_ann_rerank_recall" -> "10-row query-batch filter",
      "q_bitext_mine" -> "bounded query-batch filter",
      "q_hard_negatives" -> "10-row query-batch filter",
      // grouped-agg sides whose grouping key has a FIXED domain, or
      // fixed-size trained artifacts — bounded by construction, stated:
      "q_dsir_weights_live" -> "256-row hashed bucket model × 1-row totals",
      "q_ivf_drift" -> "K-row centroid artifact (K fixed at train time)",
      "q_mixture_sample" -> "≤|sources|-row targets frame (source alphabet)",
      "q_mixture_epochs" -> "≤|sources|-row targets frame (source alphabet)",
      "q_corpus_schedule" -> "≤|sources|-row targets frame (source alphabet)",
      "q_corpus_schedule_served" -> "≤|sources|-row targets frame (source alphabet)",
      "q_corpus_schedule_pareto_served" -> "≤|sources|-row targets frame (source alphabet)",
      "q_mixture_draws" -> "≤|sources|-row targets frame (source alphabet)",
      "q_corpus_draws_served" -> "≤|sources|-row targets frame (source alphabet)",
      "q_pack_shards" -> "fixed-count pack-bucket offsets frame",
      "q_trained_langid" -> "≤|langs|-row totals frame (label alphabet)")
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, _) if constructionEager(name) || exempt.contains(name) =>
        None
      case (name, fn) =>
        val hinted = fn(spark, sf0001).queryExecution.analyzed.collect {
          case h: ResolvedHint
              if h.hints.strategy.contains(
                org.apache.spark.sql.catalyst.plans.logical.BROADCAST) =>
            unboundedLeaf(h.child)
        }.flatten
        if (hinted.nonEmpty) Some(s"$name (${hinted.mkString(", ")})") else None
    }
    spark.catalog.clearCache()
    assert(offenders.isEmpty,
      s"static broadcast hints on unbounded relations in: " +
        offenders.mkString("; "))
  }

  test("no builder plan broadcasts a corpus-sized base-table side") {
    // The round-2 scale-killer class: a STATIC broadcast hint whose build
    // side scans an unbounded base table. AQE may still broadcast at
    // runtime when a side measures small — that's the point — but no
    // builder may pin it at plan time.
    val offenders = operators.DedupQueries.builderPlans(spark, sf0001).flatMap {
      case (name, df) =>
        val hinted = df.queryExecution.analyzed.collect {
          case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
              if h.hints.strategy.exists(
                _ == org.apache.spark.sql.catalyst.plans.logical.BROADCAST) => h
        }
        if (hinted.nonEmpty) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"static broadcast hints in builders: ${offenders.mkString(", ")}")
  }
}
