package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.sources.IndexCatalog
import graft.functions.TextFunctions.{tokens, StopwordTable}

/** CorpusPipeline v2 — the modern curation recipe composed end-to-end
  * (RefinedWeb §3 / FineWeb-shaped), with the per-stage loss funnel
  * every corpus release ships. Where v1 ([[CorpusQueries.curationFunnel]],
  * `pipeline/CorpusPipeline.manifest`) chains the r5-era gates (length
  * ratio → 5-gram decontamination → hard LSH drop), v2 composes the
  * stage operators the registry has since proven individually:
  *
  *  1. line-grain boilerplate EXCISION ([[BoilerplateQueries]] — CCNet's
  *     duplicated-paragraph removal): the document's token mass shrinks
  *     to its non-boilerplate words; wholly-boilerplate docs drop;
  *  2. Gopher quality rules (Rae et al. 2021 table A1 subset, the
  *     [[TextQueries.qualityRules]] gates) evaluated over the CLEANED
  *     token stream — rules see what excision kept, not the raw text;
  *  3. Kneser–Ney perplexity band policy (CCNet's head/middle/tail mix,
  *     the [[LangModelQueries.qualityMixture]] policy: keep head, keep
  *     half of middle by md5 gate) over the FROZEN full-corpus score
  *     artifact — a production scorer is trained once per snapshot, not
  *     re-fit on each candidate subset;
  *  4. SOFT near-dup dedup ([[DedupQueries.softWeights]]): no document
  *     drops; every cluster member carries weight 10⁶/csize ppm so a
  *     cluster contributes one document-equivalent of mass — the funnel
  *     reports both raw kept tokens and the weighted effective mass;
  *  5. DSIR threshold admission ([[DsirQueries]], Xie et al. 2023):
  *     target-slice docs (src0/src1) pass by definition; raw-pool docs
  *     pass on positive importance weight (more target-like than
  *     raw-like in quantized bit-log units);
  *  6. leak-free train split: the md5 split gate keyed by the LSH
  *     CLUSTER label ([[CorpusQueries.splitLeakfree]]), so near-dups
  *     can never straddle train/val/test;
  *  7. sequence packing accounting ([[ShardPacking.chunkSequences]] at
  *     L = 512): the train survivors' token stream chunks into exactly
  *     ceil(T/L) sequences — the funnel states that count arithmetically
  *     and CorpusPipelineSpec pins it against the real chunker's output.
  *
  * Funnel semantics: each document gets a survival LEVEL (0 = dropped by
  * excision, 1 = failed quality, 2 = failed the LM band, 3 = failed
  * DSIR, 5 = survivor outside train, 6 = train survivor; soft dedup
  * assigns no level — it weighs, it does not drop), one hash-agg prices
  * all stages as conditional sums, `stack` pivots to rows. Token
  * accounting: `toks` is raw whitespace tokens at stage 0 and excision-
  * kept words from stage 1 on; `eff_toks` additionally applies the soft
  * dedup weight (per-doc floor of kept·w_ppm/10⁶) from stage 4 on.
  *
  * Every gate consumes a PERSISTED artifact (boilerplate list+excision,
  * kn_scores, LSH keep-list, DSIR weights) — the funnel recomputes no
  * training pass. Scale shape: one token-grain hash-agg over the cleaned
  * stream (the Gopher stats — corpus-linear, the only token-grain
  * exchange), five doc-grain equi-joins (AQE broadcasts the small
  * sides), one |docs|-row window inside the served kn_scores frame, one
  * final hash-agg. Nothing pairs, nothing collects; at 100 TB each join
  * key is doc_id — co-partitioned by the first shuffle and reused.
  */
object PipelineV2Queries {

  private val W = """string_split_regex(trim(text), '\s+')"""
  private[graft] val SeqLen = 512L

  /** The composed DuckDB oracle: KN block + LSH block + renamed DSIR
    * block + segment/boilerplate block + the level cascade. DSIR's CTE
    * names collide with the KN block's (`tok`, `sc`), so its fragment is
    * rebound under a `d_` prefix — a whole-word textual rename of the
    * eight CTE names, nothing inside string literals matches any of
    * them. The rename list is ASSERTED against the CTE names actually
    * declared in scoreCtes (r15 advice: a CTE added there but missing
    * here would silently rebind the composed oracle). */
  private def dsirBlock: String = {
    val names = Seq("tok", "bk", "tc", "rc", "bt", "tot", "sc", "wts")
    val declared = """(?m)^(\w+) AS \(""".r
      .findAllMatchIn(DsirQueries.scoreCtes).map(_.group(1)).toSeq
    require(declared.sorted == names.sorted,
      s"DSIR CTE rename list drifted: scoreCtes declares " +
        s"[${declared.mkString(",")}], rename covers [${names.mkString(",")}]")
    names.foldLeft(DsirQueries.scoreCtes)((s, n) =>
      s.replaceAll("\\b" + n + "\\b", "d_" + n))
  }

  private def sw = StopwordTable("en").map(w => s"'$w'").mkString(", ")

  /** The shared CTE prefix ending in `lvl(doc_id, source, raw_toks,
    * kept, w_ppm, level)` — the oracle twin of [[survivorFrame]],
    * consumed by both the funnel accounting ([[corpusPipelineV2]]) and
    * the epoch-schedule composition ([[corpusSchedule]]). `pareto`
    * swaps stage 5's pool admission from the DSIR sign threshold to
    * the trained classifier's Pareto gate
    * ([[QualityClassifierQueries.paretoPoolSql]]). */
  private def lvlCtes(pareto: Boolean = false): String = {
    val kn = LangModelQueries.knCtes.stripPrefix("WITH ")
    val sg = BoilerplateQueries.SegWords
    val md = BoilerplateQueries.MinDocs
    s"""$kn,
       |${DedupQueries.lshCtes},
       |${DedupQueries.ccWalkCtes("dd_")},
       |kl AS (
       |  SELECT id AS doc_id, min(reach) AS cluster FROM dd_walk GROUP BY id
       |), cs AS (
       |  SELECT cluster, CAST(count(*) AS BIGINT) AS csize FROM kl GROUP BY cluster
       |),
       |$dsirBlock,
       |sg_base AS (SELECT doc_id, $W AS w FROM documents WHERE len($W) >= 1),
       |sg_ds AS (SELECT doc_id, w,
       |            unnest(range((len(w) + ${sg - 1}) // $sg)) AS seg_idx
       |          FROM sg_base),
       |sg AS (SELECT doc_id, seg_idx,
       |         array_to_string(w[(seg_idx*$sg+1):(seg_idx*$sg+$sg)], ' ') AS seg
       |       FROM sg_ds),
       |bp AS (SELECT seg FROM sg GROUP BY seg
       |       HAVING count(DISTINCT doc_id) >= $md),
       |cln AS (
       |  SELECT s.doc_id,
       |    CAST(sum(CASE WHEN b.seg IS NULL
       |                  THEN len(string_split(s.seg, ' ')) ELSE 0 END) AS BIGINT)
       |      AS words_kept
       |  FROM sg s LEFT JOIN bp b ON s.seg = b.seg GROUP BY s.doc_id
       |),
       |ctok AS (
       |  SELECT s.doc_id, unnest(string_split(s.seg, ' ')) AS t
       |  FROM sg s LEFT JOIN bp b ON s.seg = b.seg WHERE b.seg IS NULL
       |),
       |ctc AS (SELECT doc_id, t, count(*) AS cnt FROM ctok GROUP BY doc_id, t),
       |cds AS (
       |  SELECT doc_id,
       |    CAST(sum(cnt) AS BIGINT) AS n_words,
       |    CAST(max(cnt) AS BIGINT) AS max_cnt,
       |    CAST(sum(cnt * length(t)) AS BIGINT) AS total_chars,
       |    CAST(sum(CASE WHEN t IN ($sw) THEN cnt ELSE 0 END) AS BIGINT) AS sw_toks,
       |    CAST(sum(CASE WHEN length(t) < 3 THEN cnt ELSE 0 END) AS BIGINT) AS n_short
       |  FROM ctc GROUP BY doc_id
       |),
       |qa AS (
       |  SELECT doc_id FROM cds
       |  WHERE n_words BETWEEN 50 AND 100000
       |    AND 3 * n_words <= total_chars AND total_chars <= 10 * n_words
       |    AND 5 * max_cnt <= n_words AND sw_toks >= 2 AND 5 * n_short <= n_words
       |),
       |t3 AS (
       |  SELECT doc_id, ntile(3) OVER (PARTITION BY source
       |                                ORDER BY avg_ppm, doc_id) AS b3
       |  FROM ds
       |),
       |lmk AS (
       |  SELECT doc_id FROM t3
       |  WHERE b3 = 1 OR (b3 = 2
       |    AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '80')
       |),
       |sel AS (
       |  SELECT doc_id FROM documents
       |  WHERE source IN (${DsirQueries.TargetSrcs.map(s => s"'$s'").mkString(", ")})
       |  UNION ALL ${
           if (pareto) QualityClassifierQueries.paretoPoolSql("d_wts")
           else "SELECT doc_id FROM d_wts WHERE weight_bits > 0"}
       |),
       |lvl AS (
       |  SELECT d.doc_id, d.source, CAST(len($W) AS BIGINT) AS raw_toks,
       |    coalesce(c.words_kept, 0) AS kept,
       |    CAST(1000000 // coalesce(cs.csize, 1) AS BIGINT) AS w_ppm,
       |    CASE
       |      WHEN coalesce(c.words_kept, 0) = 0 THEN 0
       |      WHEN q.doc_id IS NULL THEN 1
       |      WHEN m.doc_id IS NULL THEN 2
       |      WHEN s.doc_id IS NULL THEN 3
       |      WHEN substr(md5('split|' ||
       |             CAST(coalesce(kl.cluster, d.doc_id) AS VARCHAR)), 1, 2) >= 'cd'
       |        THEN 5
       |      ELSE 6 END AS level
       |  FROM documents d
       |  LEFT JOIN cln c ON c.doc_id = d.doc_id
       |  LEFT JOIN qa q ON q.doc_id = d.doc_id
       |  LEFT JOIN lmk m ON m.doc_id = d.doc_id
       |  LEFT JOIN sel s ON s.doc_id = d.doc_id
       |  LEFT JOIN kl ON kl.doc_id = d.doc_id
       |  LEFT JOIN cs ON cs.cluster = kl.cluster
       |)""".stripMargin
  }

  private def funnelSql(pareto: Boolean = false): String = {
    val s5 = if (pareto) "5_pareto" else "5_dsir"
    s"""WITH RECURSIVE ${lvlCtes(pareto)},
       |stages AS (
       |  SELECT '0_raw' AS stage, count(*) AS n_docs,
       |    CAST(sum(raw_toks) AS BIGINT) AS toks,
       |    CAST(sum(raw_toks) AS BIGINT) AS eff_toks FROM lvl
       |  UNION ALL SELECT '1_excised', count(*), CAST(sum(kept) AS BIGINT),
       |    CAST(sum(kept) AS BIGINT) FROM lvl WHERE level >= 1
       |  UNION ALL SELECT '2_quality', count(*), CAST(sum(kept) AS BIGINT),
       |    CAST(sum(kept) AS BIGINT) FROM lvl WHERE level >= 2
       |  UNION ALL SELECT '3_lm_band', count(*), CAST(sum(kept) AS BIGINT),
       |    CAST(sum(kept) AS BIGINT) FROM lvl WHERE level >= 3
       |  UNION ALL SELECT '4_softdedup', count(*), CAST(sum(kept) AS BIGINT),
       |    CAST(sum(kept * w_ppm // 1000000) AS BIGINT) FROM lvl WHERE level >= 3
       |  UNION ALL SELECT '$s5', count(*), CAST(sum(kept) AS BIGINT),
       |    CAST(sum(kept * w_ppm // 1000000) AS BIGINT) FROM lvl WHERE level >= 4
       |  UNION ALL SELECT '6_train_split', count(*), CAST(sum(kept) AS BIGINT),
       |    CAST(sum(kept * w_ppm // 1000000) AS BIGINT) FROM lvl WHERE level >= 6
       |  UNION ALL SELECT '7_packed',
       |    CAST((sum(CASE WHEN level >= 6 THEN kept ELSE 0 END) + ${SeqLen - 1})
       |         // $SeqLen AS BIGINT),
       |    CAST(sum(CASE WHEN level >= 6 THEN kept ELSE 0 END) AS BIGINT),
       |    CAST(sum(CASE WHEN level >= 6 THEN kept * w_ppm // 1000000
       |             ELSE 0 END) AS BIGINT)
       |  FROM lvl
       |)
       |SELECT stage, n_docs, toks, eff_toks FROM stages ORDER BY stage""".stripMargin
  }

  /** Gopher quality verdict over a CLEANED segment stream (doc_id, seg):
    * word-grain stats (count, max repetition, char mass, stopword and
    * short-word counts) gated by the Rae et al. table-A1 subset, all
    * integer cross-multiplied. Shared by the batch [[survivorFrame]]
    * and the on-arrival [[graft.streaming.AdmissionStreams]] twin so
    * the rule set cannot drift between them (the ccWalkCtes lesson).
    * Returns (doc_id, q_ok) for PASSING docs only — consumers left-join
    * and read null as a fail. */
  private[graft] def gopherOkFrame(cleanSegs: DataFrame): DataFrame = {
    val swList = StopwordTable("en")
    cleanSegs
      .select(col("doc_id"), explode(split(col("seg"), " ")).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id")
      .agg(sum("cnt").as("n_words"), max("cnt").as("max_cnt"),
        sum(col("cnt") * length(col("t"))).as("total_chars"),
        sum(when(col("t").isin(swList: _*), col("cnt")).otherwise(0L)).as("sw_toks"),
        sum(when(length(col("t")) < 3, col("cnt")).otherwise(0L)).as("n_short"))
      .filter(
        col("n_words").between(50, 100000) &&
          lit(3) * col("n_words") <= col("total_chars") &&
          col("total_chars") <= lit(10) * col("n_words") &&
          lit(5) * col("max_cnt") <= col("n_words") &&
          col("sw_toks") >= 2 && lit(5) * col("n_short") <= col("n_words"))
      .select(col("doc_id"), lit(true).as("q_ok"))
  }

  /** Per-document survival frame (doc_id, source, raw_toks, kept, w_ppm,
    * cluster, level) — the v2 pipeline's doc-grain core, shared by the
    * funnel query, `CorpusPipeline.manifestV2`, and CorpusPipelineSpec's
    * cross-consistency pins. Levels: 0 excision-dropped, 1 quality-
    * failed, 2 LM-band-failed, 3 admission-rejected, 5 survivor
    * (val/test), 6 train survivor. `pareto` swaps stage 5's pool
    * admission from the DSIR sign threshold to the trained
    * classifier's Pareto gate — same frozen weights artifact, a
    * different admission dial over it. */
  private[graft] def survivorFrame(s: SparkSession, d: String,
                                   pareto: Boolean = false): DataFrame = {
    val docs = Tables.documents(s, d)
    val bpDir = BoilerplateQueries.boilerplateDir(s, d)
    // words_total rides along: segments partition the word array, so the
    // artifact's words_total IS size(tokens(text)) for every segmented
    // doc (docs with zero words never segment and coalesce to 0 below) —
    // reading it here drops a full corpus re-tokenize AND lets the spine
    // scan prune `text` entirely (guide §2.3 / §6: the fat column never
    // leaves the one pass that genuinely needs it).
    // Freshness coupling (r20 advice): raw_toks is now served by the
    // artifact, so a stale or partially built `excised` dir would
    // silently zero it where the old plan computed it live — the same
    // ArtifactSentinel/IndexCatalog content-key that guards words_kept
    // (boilerplateDir rebuilds on any input or owner-code change)
    // guards words_total identically, since both ride the same file.
    val kept = IndexCatalog.read(s, bpDir, "excised")
      .select(col("doc_id"), col("words_kept"), col("words_total"))
    // Gopher stats over the CLEANED token stream: segments minus the
    // persisted boilerplate list, exploded to words. NO static broadcast
    // hint: the list grows with the corpus's *duplicated* content — AQE
    // broadcasts it while it measures small and demotes to a sort-merge
    // on seg past the threshold (a pinned hint would instead fail hard
    // at the 8 GB broadcast cap; r15 verdict item 2).
    val bp = IndexCatalog.read(s, bpDir, "list").select(col("seg").as("bseg"))
    val qa = gopherOkFrame(
      BoilerplateQueries.segmentsOf(docs)
        .join(bp, col("seg") === col("bseg"), "left_anti"))
    // KN band policy over the frozen score artifact (the qualityMixture
    // keep rule: head + md5-gated half of middle)
    val lmk = LangModelQueries.knScores(s, d)
      .withColumn("b3", ntile(3).over(
        Window.partitionBy("source").orderBy("avg_ppm", "doc_id")))
      .filter(col("b3") === 1 || (col("b3") === 2 &&
        substring(md5(col("doc_id").cast("string")), 1, 2) < "80"))
      .select(col("doc_id"), lit(true).as("lm_ok"))
    // soft dedup weights from the persisted keep-list's cluster labels
    val kl = DedupQueries.lshKeepList(s, d).select("doc_id", "cluster")
    val cs = kl.groupBy("cluster").agg(count(lit(1)).as("csize"))
    // pool admission from the persisted weights: DSIR sign threshold
    // by default, the classifier's Pareto gate under the variant dial
    val pool =
      if (pareto)
        QualityClassifierQueries.paretoPoolFrame(DsirQueries.weightsTable(s, d))
      else DsirQueries.weightsTable(s, d)
        .filter(col("weight_bits") > 0).select(col("doc_id"))
    val sel = docs.filter(DsirQueries.isTarget).select(col("doc_id"))
      .union(pool)
      .select(col("doc_id"), lit(true).as("sel_ok"))
    docs
      .select(col("doc_id"), col("source"))
      .join(kept, Seq("doc_id"), "left")
      .join(qa, Seq("doc_id"), "left")
      .join(lmk, Seq("doc_id"), "left")
      .join(sel, Seq("doc_id"), "left")
      .join(kl, Seq("doc_id"), "left")
      .join(cs, Seq("cluster"), "left")
      .select(col("doc_id"), col("source"),
        coalesce(col("words_total"), lit(0L)).as("raw_toks"),
        coalesce(col("words_kept"), lit(0L)).as("kept"),
        expr("1000000 div coalesce(csize, 1L)").as("w_ppm"),
        coalesce(col("cluster"), col("doc_id")).as("cluster"),
        when(coalesce(col("words_kept"), lit(0L)) === 0, 0)
          .when(col("q_ok").isNull, 1)
          .when(col("lm_ok").isNull, 2)
          .when(col("sel_ok").isNull, 3)
          .when(substring(md5(concat(lit("split|"),
            coalesce(col("cluster"), col("doc_id")).cast("string"))), 1, 2)
            >= "cd", 5)
          .otherwise(6).as("level"))
  }

  /** Funnel accounting over a survivor frame: 8 stage rows of (n_docs,
    * kept tokens, weighted effective tokens), stage 5 labeled by the
    * admission dial in force. */
  private def funnelFrame(lvl: DataFrame, stage5: String): DataFrame = {
    def cnt(k: Int) = sum(when(col("level") >= k, 1L).otherwise(0L))
    def tk(k: Int) = sum(when(col("level") >= k, col("kept")).otherwise(0L))
    def ef(k: Int) = sum(when(col("level") >= k,
      expr("kept * w_ppm div 1000000")).otherwise(0L))
    val tot = lvl.agg(
      count(lit(1)).as("n0"), sum("raw_toks").as("t0"),
      cnt(1).as("n1"), tk(1).as("t1"),
      cnt(2).as("n2"), tk(2).as("t2"),
      cnt(3).as("n3"), tk(3).as("t3"), ef(3).as("e3"),
      cnt(4).as("n4"), tk(4).as("t4"), ef(4).as("e4"),
      cnt(6).as("n6"), tk(6).as("t6"), ef(6).as("e6"))
    tot.select(expr(
      s"""stack(8,
         |  '0_raw', n0, t0, t0,
         |  '1_excised', n1, t1, t1,
         |  '2_quality', n2, t2, t2,
         |  '3_lm_band', n3, t3, t3,
         |  '4_softdedup', n3, t3, e3,
         |  '$stage5', n4, t4, e4,
         |  '6_train_split', n6, t6, e6,
         |  '7_packed', (t6 + ${SeqLen - 1}) div $SeqLen, t6, e6
         |) AS (stage, n_docs, toks, eff_toks)""".stripMargin))
      .orderBy("stage")
  }

  /** The audited v2 funnel: 8 stage rows of (n_docs, kept tokens,
    * weighted effective tokens). */
  val corpusPipelineV2: Q = Q("q_corpus_pipeline_v2", funnelSql()) { (s, d) =>
    funnelFrame(survivorFrame(s, d), "5_dsir")
  }

  /** The v2 funnel under the ALTERNATIVE admission dial (round-16
    * verdict item 5): stage 5 admits pool documents by the trained
    * quality classifier's Pareto gate
    * ([[QualityClassifierQueries]] — GPT-3/PaLM's stochastic
    * target-vs-crawl filter) instead of DSIR's sign threshold. Both
    * dials consume the SAME frozen `dsir_weights` artifact, so this
    * variant prices the policy choice alone: the threshold keeps every
    * more-target-than-raw document; Pareto keeps all of the certain
    * top but lets a deterministic-md5 "lucky" fraction of low scorers
    * through (so the kept set doesn't collapse onto the target
    * distribution). Downstream stages (leak-free split, packing
    * arithmetic) are unchanged — one executable funnel per dial, both
    * oracle-checked, hash-divergent only at stages ≥ 5. */
  val corpusPipelinePareto: Q =
    Q("q_corpus_pipeline_pareto", funnelSql(pareto = true)) { (s, d) =>
      funnelFrame(survivorFrame(s, d, pareto = true), "5_pareto")
    }

  /** Quality-vs-quantity sweep — the data-recipe curve behind every
    * threshold choice (the "how much do we lose if we filter harder"
    * plot): for a 10-step grid over the KN perplexity range, how many
    * documents and whitespace tokens survive `avg_ppm ≤ k·max/10`, and
    * how much DSIR quality mass they carry. One pass over the two
    * persisted artifacts (kn_scores + dsir_weights) with ten
    * conditional sums — the grid costs nothing extra; the comparison
    * `10·avg_ppm ≤ k·max` is the integer-exact form of
    * `avg_ppm ≤ floor(k·max/10)`. Target-slice docs carry no DSIR
    * weight (they are the distribution) — their quality term is 0.
    * `ws_tokens = n_bigrams + 1`, exact for every scored (≥2-token)
    * document; the sweep is over scored documents by construction.
    * The quality column stays a SUM: per-bucket means would divide
    * possibly-negative log-odds mass (div truncates in Spark, floors
    * in DuckDB) — consumers divide on their side of the boundary. */
  val filterSweep: Q = {
    // grid over [min, max] ppm (an outlier must stretch only the last
    // step, not collapse the whole curve); `10·(a−mn) ≤ k·(mp−mn)` is
    // the exact integer form of `a ≤ mn + floor(k·(mp−mn)/10)`, and
    // every term is provably non-negative (no floor-vs-truncate trap)
    def keep(k: Int) = s"10 * (avg_ppm - mn) <= $k * (mp - mn)"
    val d10 = (1 to 10).map(k =>
      s"CAST(sum(CASE WHEN ${keep(k)} THEN 1 ELSE 0 END) AS BIGINT) AS d$k")
    val t10 = (1 to 10).map(k =>
      s"CAST(sum(CASE WHEN ${keep(k)} THEN toks ELSE 0 END) AS BIGINT) AS t$k")
    val q10 = (1 to 10).map(k =>
      s"CAST(sum(CASE WHEN ${keep(k)} THEN wb ELSE 0 END) AS BIGINT) AS q$k")
    val sums = (d10 ++ t10 ++ q10).mkString(",\n    ")
    val rows = (1 to 10).map(k =>
      s"SELECT $k AS decile, mn + ($k * (mp - mn)) // 10 AS threshold_ppm, " +
        s"d$k AS n_docs, t$k AS ws_tokens, q$k AS quality_bits FROM a")
      .mkString("\n  UNION ALL ")
    Q(
      "q_filter_sweep",
      s"""WITH ${LangModelQueries.knCtes.stripPrefix("WITH ")},
         |$dsirBlock,
         |j AS (
         |  SELECT ds.avg_ppm, ds.n_bigrams + 1 AS toks,
         |    coalesce(w.weight_bits, 0) AS wb
         |  FROM ds LEFT JOIN d_wts w ON w.doc_id = ds.doc_id
         |), mx AS (
         |  SELECT CAST(max(avg_ppm) AS BIGINT) AS mp,
         |    CAST(min(avg_ppm) AS BIGINT) AS mn
         |  FROM j
         |),
         |a AS (
         |  SELECT mp, mn,
         |    $sums
         |  FROM j CROSS JOIN mx GROUP BY mp, mn
         |)
         |SELECT decile, threshold_ppm, n_docs, ws_tokens, quality_bits
         |FROM ($rows) ORDER BY decile""".stripMargin) { (s, d) =>
      val j = LangModelQueries.knScores(s, d)
        .select(col("doc_id"), col("avg_ppm"),
          (col("n_bigrams") + lit(1L)).as("toks"))
        .join(DsirQueries.weightsTable(s, d)
          .select(col("doc_id"), col("weight_bits")), Seq("doc_id"), "left")
        .select(col("avg_ppm"), col("toks"),
          coalesce(col("weight_bits"), lit(0L)).as("wb"))
      val mx = j.agg(max("avg_ppm").cast("long").as("mp"),
                     min("avg_ppm").cast("long").as("mn"))
      def keepC(k: Int) =
        lit(10) * (col("avg_ppm") - col("mn")) <= lit(k) * (col("mp") - col("mn"))
      val aggs =
        (1 to 10).map(k => sum(when(keepC(k), 1L).otherwise(0L)).as(s"d$k")) ++
        (1 to 10).map(k => sum(when(keepC(k), col("toks")).otherwise(0L)).as(s"t$k")) ++
        (1 to 10).map(k => sum(when(keepC(k), col("wb")).otherwise(0L)).as(s"q$k"))
      val a = j.crossJoin(broadcast(mx))
        .groupBy("mp", "mn").agg(aggs.head, aggs.tail: _*)
      val stackArgs = (1 to 10).map(k =>
        s"$k, mn + ($k" + s"L * (mp - mn)) div 10, d$k, t$k, q$k")
        .mkString(",\n        ")
      a.select(expr(
        s"""stack(10,
           |        $stackArgs
           |) AS (decile, threshold_ppm, n_docs, ws_tokens, quality_bits)"""
          .stripMargin))
        .orderBy("decile")
    }
  }

  /** The recipe's LAST stage, composed end-to-end: the temperature
    * epoch schedule ([[CorpusQueries.epochTailSql]] — α = 3/4 shares,
    * whole passes + md5-gated partial prefix) computed over the v2
    * funnel's TRAIN survivors, weighted by their soft-dedup effective
    * token mass (`kept · w_ppm / 10⁶`). This is what a trainer actually
    * consumes: curate → weight → schedule — small high-quality sources
    * repeat, the crawl runs a fraction, and the arithmetic is exactly
    * the registered `q_mixture_epochs` kernel, shared so the two
    * compositions cannot drift.
    *
    * Scale: everything upstream is the funnel's artifact-served plan;
    * the schedule itself adds one hash-agg over the survivor frame, a
    * |sources|-row targets frame, and one source-partitioned prefix
    * window — the [[CorpusQueries.tokenBudget]] discipline. The kernel
    * consumes its per-doc frame twice (targets agg + prefix window),
    * so THIS self-contained query computes the survivor joins twice
    * (~2× a funnel pass — fine at the oracle gate's SFs); a production
    * build schedules over the WRITTEN manifest instead
    * ([[graft.pipeline.CorpusPipeline.writeManifest]] then
    * [[CorpusQueries.epochScheduleFrame]] on the persisted table), so
    * the funnel runs once and the double-consumption hits a parquet
    * read, not the join tree. */
  private def scheduleSql(pareto: Boolean = false): String =
    s"""WITH RECURSIVE ${lvlCtes(pareto)},
       |pd AS (
       |  SELECT doc_id, source, kept * w_ppm // 1000000 AS dtoks
       |  FROM lvl WHERE level >= 6
       |),
       |${CorpusQueries.epochTailSql}""".stripMargin

  val corpusSchedule: Q = Q("q_corpus_schedule", scheduleSql()) { (s, d) =>
    CorpusQueries.epochScheduleFrame(
      survivorFrame(s, d).filter(col("level") >= 6)
        .select(col("doc_id"), col("source"),
          expr("kept * w_ppm div 1000000").as("dtoks")))
  }

  /** The PRODUCTION form of [[corpusSchedule]] (round-16 verdict item
    * 4): the schedule kernel over the PERSISTED v2 manifest
    * ([[V2ManifestIndex]]) instead of the self-contained survivor join
    * tree. The self-contained form above stays registered for oracle
    * honesty — it proves the composition from raw tables — but its
    * kernel consumes the per-doc frame twice, so it pays ~2 funnel
    * passes per run (2.83 s at sf0.1, the bench's worst server). Here
    * the funnel runs ONCE into the manifest artifact and both kernel
    * consumptions hit a pruned parquet read (`split=train` directory),
    * which is what a trainer deploys. Same oracle SQL: the manifest's
    * train slice is exactly the level-6 survivors with their effective
    * token mass, so the served schedule is row-identical to the
    * self-contained one (CorpusPipelineSpec pins this equality). */
  val corpusScheduleServed: Q = Q("q_corpus_schedule_served", scheduleSql()) {
    (s, d) =>
      graft.pipeline.CorpusPipeline.epochSchedule(
        V2ManifestIndex.manifest(s, d))
  }

  /** The Pareto dial's loader-facing schedule (dial symmetry with
    * [[corpusScheduleServed]]): the epoch kernel over the
    * `v2manifest_pareto` artifact's train slice. The two dials admit
    * different pools at stage 5, so their train survivor sets — and
    * therefore their epoch schedules — genuinely differ; a trainer
    * comparing admission policies consumes exactly this pair. The
    * oracle recomputes the Pareto funnel from raw tables; the serving
    * path is a pruned parquet read + the bounded kernel. */
  val corpusScheduleParetoServed: Q =
    Q("q_corpus_schedule_pareto_served", scheduleSql(pareto = true)) { (s, d) =>
      graft.pipeline.CorpusPipeline.epochSchedule(
        V2ManifestIndex.manifest(s, d, pareto = true))
    }

  /** The drawn set behind [[corpusScheduleServed]], materialized
    * doc-for-doc over the persisted manifest's train slice — the
    * loader-facing surface: every curated train document the schedule
    * draws, with its repeat count (whole passes + the md5-gate-ordered
    * partial prefix). Same artifact read + kernel as the schedule
    * (shared [[CorpusQueries.epochDrawsFrame]] /
    * [[CorpusQueries.epochDrawsTailSql]]); the oracle recomputes the
    * whole funnel, the serving path reads the pruned `split=train`
    * directory. */
  val corpusDrawsServed: Q = Q(
    "q_corpus_draws_served",
    s"""WITH RECURSIVE ${lvlCtes()},
       |pd AS (
       |  SELECT doc_id, source, kept * w_ppm // 1000000 AS dtoks
       |  FROM lvl WHERE level >= 6
       |),
       |${CorpusQueries.epochDrawsTailSql}""".stripMargin) { (s, d) =>
    CorpusQueries.epochDrawsFrame(
      V2ManifestIndex.manifest(s, d).filter(col("split") === "train")
        .select(col("doc_id"), col("source"),
          expr("toks * weight_ppm div 1000000").as("dtoks")))
  }

  /** The PRODUCTION form of [[corpusPipelineV2]] (round-17 verdict item
    * 4's pattern applied to the funnel accounting itself): the 8-stage
    * accounting aggregated over the PERSISTED per-doc level frame
    * ([[V2ManifestIndex.lvlFrame]]) instead of re-running the survivor
    * join tree. The funnel runs once into the artifact; each serve is
    * one parquet scan + one hash-agg. Same oracle SQL — the level
    * frame IS the lvl CTE's rows, so the served accounting is
    * row-identical to the self-contained form (CorpusPipelineSpec pins
    * the equality). */
  val corpusPipelineV2Served: Q =
    Q("q_corpus_pipeline_v2_served", funnelSql()) { (s, d) =>
      funnelFrame(V2ManifestIndex.lvlFrame(s, d), "5_dsir")
    }

  /** The PRODUCTION form of [[corpusPipelinePareto]] (round-17 verdict
    * item 4): the Pareto-dial funnel accounting over the persisted
    * `v2manifest_pareto` level frame — the self-contained form above
    * pays a full funnel pass per execution (1.9 s canonical, 9.8 s at
    * the 10× smoke, the board's most expensive serve); this one is a
    * parquet scan + hash-agg. Both dials' artifacts share the builder,
    * schema-sidecar and sentinel pattern. */
  val corpusPipelineParetoServed: Q =
    Q("q_corpus_pipeline_pareto_served", funnelSql(pareto = true)) { (s, d) =>
      funnelFrame(V2ManifestIndex.lvlFrame(s, d, pareto = true), "5_pareto")
    }
}

/** Persisted v2-manifest artifact: the curate→weight pipeline's output
  * table (doc_id, source, split, shard, toks, weight_ppm), built once
  * per corpus by [[graft.pipeline.CorpusPipeline.manifestV2]] and
  * served to every downstream consumer (epoch schedule, sequence
  * chunking, per-split accounting). At 100 TB the funnel is a
  * multi-hour job; its consumers must read a table, not re-run the
  * join tree. Written `partitionBy(split)` so the train-slice readers
  * prune at the directory level. Deterministic construction (md5
  * gates, integer weights, seeded packing) keeps artifact reads
  * bit-identical to a recompute — the [[SentinelChecks]]
  * `v2_manifest` byte check audits exactly that per gate run. */
object V2ManifestIndex {
  import graft.sources.IndexCatalog

  /** Transitive owners: the funnel composes boilerplate excision, the
    * Gopher rules, the KN band, LSH soft-dedup, DSIR admission and the
    * shard packer — an edit to ANY of those changes manifest bytes. */
  private val v2mOwners: Seq[Class[_]] = Seq(
    V2ManifestIndex.getClass,
    PipelineV2Queries.getClass, graft.pipeline.CorpusPipeline.getClass,
    ShardPacking.getClass, BoilerplateQueries.getClass,
    LangModelQueries.getClass, DedupQueries.getClass,
    DedupResolve.getClass, DsirQueries.getClass, graft.plans.OneRow.getClass,
    graft.Tables.getClass, graft.functions.TextFunctions.getClass,
    classOf[graft.plans.WordShingles], classOf[graft.plans.MinHashes],
    classOf[graft.plans.MinHashBands])


  private def writeDdl(s: SparkSession, dir: String, name: String,
                       ddl: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir, name)
    val out = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      .create(p, true)
    try out.write(ddl.getBytes("UTF-8")) finally out.close()
  }

  private def readWithDdl(s: SparkSession, dir: String, table: String,
                          sidecar: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(dir, sidecar)
    val in = p.getFileSystem(s.sparkContext.hadoopConfiguration).open(p)
    val ddl =
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    s.read.schema(org.apache.spark.sql.types.StructType.fromDDL(ddl))
      .parquet(s"$dir/$table")
  }

  /** Build (first caller only) the per-dial artifact dir holding BOTH
    * the packed survivor manifest (`manifest/`, partitioned by split)
    * and the per-doc level frame (`lvl/` — every document with its
    * funnel level, the [[PipelineV2Queries.survivorFrame]] output), so
    * the funnel join tree runs ONCE per (corpus, dial) and every
    * consumer — schedule, draws, funnel accounting — reads a table.
    * Schema sidecars are written next to both tables: a corpus the
    * funnel rejects WHOLESALE (the 10× near-dup smoke corpus — every
    * replica segment becomes boilerplate, every doc excises to zero)
    * yields an EMPTY manifest, and an empty partitioned parquet dir
    * has no footer to infer from; the declared schema keeps the
    * artifact readable so downstream consumers see zero rows, not an
    * error. */
  private def build(s: SparkSession, d: String,
                    pareto: Boolean)(dir: String): Unit = {
    val sv = PipelineV2Queries.survivorFrame(s, d, pareto)
    sv.write.mode("overwrite").parquet(s"$dir/lvl")
    writeDdl(s, dir, "lvl_schema.ddl", sv.schema.toDDL)
    // build the manifest from the lvl BYTES just landed, not the lazy
    // survivor plan: feeding `sv` again would execute the whole funnel
    // join tree a second time (round-18 advice — the build paid double
    // and lvl/manifest consistency rested on plan determinism rather
    // than derivation)
    val m = graft.pipeline.CorpusPipeline.manifestV2From(
      readWithDdl(s, dir, "lvl", "lvl_schema.ddl"))
    m.write.mode("overwrite").partitionBy("split")
      .parquet(s"$dir/manifest")
    writeDdl(s, dir, "manifest_schema.ddl", m.schema.toDDL)
    IndexCatalog.declareIds("path", "manifest", Seq("doc_id"))
  }

  // one ensure site per dial, each with its own literal key, so
  // SentinelGuardSpec's static key-prefix extraction sees both prefixes
  private def ensureDir(s: SparkSession, d: String, pareto: Boolean): String =
    if (pareto)
      IndexCatalog.ensure(s, s"v2manifest_pareto_${IndexCatalog.tag(d)}",
        inputs = Seq(d), owners = v2mOwners)(build(s, d, pareto = true))
    else
      IndexCatalog.ensure(s, s"v2manifest_${IndexCatalog.tag(d)}",
        inputs = Seq(d), owners = v2mOwners)(build(s, d, pareto = false))

  /** Read the packed survivor manifest for the given admission dial. */
  def manifest(s: SparkSession, d: String, pareto: Boolean = false): DataFrame =
    readWithDdl(s, ensureDir(s, d, pareto), "manifest", "manifest_schema.ddl")

  /** Read the per-doc funnel level frame for the given admission dial —
    * what the served funnel accounting aggregates (stages 0–4 need the
    * DROPPED docs too, which the survivor manifest by definition
    * lacks). */
  def lvlFrame(s: SparkSession, d: String, pareto: Boolean = false): DataFrame =
    readWithDdl(s, ensureDir(s, d, pareto), "lvl", "lvl_schema.ddl")
}
