package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.functions.TextFunctions._
import graft.plans.Materialize.MaterializeOps

/** Statistical language-model operators over the `documents` corpus —
  * the "learn a distribution from the corpus, then score/classify the
  * corpus with it" family that sits between the closed-form text
  * statistics ([[TextQueries]]) and the iterated trainers
  * ([[ChunkingQueries]] BPE). Three members:
  *
  *  - `q_lm_bigram` — bigram-conditional surprisal scoring, the
  *    LM-perplexity quality filter at Markov order 1 (the unigram
  *    version is `q_text_surprisal`);
  *  - `q_source_divergence` — per-source chi-square drift of the token
  *    distribution vs the pooled corpus, the mixture-monitoring gauge
  *    of a multi-source corpus build;
  *  - `q_trained_langid` — a train/apply token-frequency voting
  *    classifier over the labeled `lang` column with add-one smoothing,
  *    evaluated as a held-out confusion matrix.
  *
  * All three stay in EXACT INTEGER arithmetic (the `q_text_surprisal` /
  * `q_tfidf_terms` house trick: bit-length for log2, fixed-point `div`
  * for ratios), so every emitted cell is bit-identical in DuckDB.
  * Every frame is token-vocabulary-sized or posting-sized — nothing
  * pairs documents quadratically, so the plans survive corpus scale-up;
  * the only broadcasts are 1-row (corpus totals) or ≤|lang|-row frames.
  */
object LangModelQueries {

  private val W = """string_split_regex(trim(text), '\s+')"""

  /** Bigram-conditional surprisal — the order-1 LM quality score.
    * Per bigram (w1,w2): `surprisal = bitlen(c(w1·)) − bitlen(c(w1 w2))`
    * (both counts over the whole corpus, numerator counts w1 in
    * bigram-FIRST position so the ratio is the conditional MLE
    * P(w2|w1); `cb ≤ c1` makes the score non-negative). Bit-length
    * replaces log2, so the score is exact in both engines; a document
    * of improbable word TRANSITIONS (shuffled text, boilerplate
    * stitching, OCR junk) ranks high even when each word is
    * individually common — exactly what unigram surprisal cannot see.
    *
    * Plan: one fused-shingle explode ([[wordShingles]] k=2, the native
    * expression), two COUNT OVERs (bigram key, first-word key) on the
    * same frame — two vocabulary-keyed exchanges, one per-doc hash-agg,
    * one top-k. No joins, no quadratic frame; at 100 TB this is the
    * collocations plan with a doc-level reduce on top.
    * (r21 A/B: a (doc, bigram) pre-agg + bigram-model broadcast-join
    * form — cb = Σ_doc k, c1 = Σ_bg cb by algebra — measured 1.319 vs
    * 0.940 baseline on the full-bench sample, after an isolated
    * min-of-3 had read as a wash; the added model derivation +
    * broadcast build outweighs the two removed instance sorts while
    * the bigram exchanges are bench-sized. Reverted — same crossover
    * note as q_tfidf_terms/q_text_surprisal: the pre-agg + join form
    * wins only once instances ≫ vocabulary.) */
  val lmBigram = Q(
    "q_lm_bigram",
    s"""WITH tok AS (SELECT doc_id, $W AS w FROM documents),
       |b AS (
       |  SELECT doc_id, unnest([array_to_string(w[i:i+1], ' ')
       |                         for i in range(1, len(w))]) AS bg
       |  FROM tok
       |), c AS (
       |  SELECT doc_id,
       |    count(*) OVER (PARTITION BY bg) AS cb,
       |    count(*) OVER (PARTITION BY split_part(bg, ' ', 1)) AS c1
       |  FROM b
       |)
       |SELECT doc_id, count(*) AS n_bigrams,
       |  CAST(sum(length(bin(c1)) - length(bin(cb))) AS BIGINT) AS surprisal,
       |  CAST(sum(length(bin(c1)) - length(bin(cb))) * 1000000 // count(*)
       |       AS BIGINT) AS avg_ppm
       |FROM c GROUP BY doc_id
       |ORDER BY avg_ppm DESC, doc_id LIMIT 25""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"),
        explode(wordShingles(tokens(col("text")), 2)).as("bg"))
      .withColumn("cb", count(lit(1)).over(Window.partitionBy("bg")))
      .withColumn("c1", count(lit(1)).over(
        Window.partitionBy(substring_index(col("bg"), " ", 1))))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(length(bin(col("c1"))) - length(bin(col("cb")))).as("surprisal"))
      .withColumn("avg_ppm", expr("surprisal * 1000000 div n_bigrams"))
      .orderBy(col("avg_ppm").desc, col("doc_id"))
      .limit(25)
  }

  /** Per-source token-distribution drift vs the pooled corpus — the
    * mixture-health gauge of a multi-source build (a crawl slice whose
    * distribution walks away from the pool is the first sign of
    * boilerplate floods, language drift, or scraper breakage).
    *
    * Statistic: a chi-square-shaped sum over the source's observed
    * vocabulary, `Σ (p_s − p)² div (p + 1)`, with both relative
    * frequencies in fixed-point ppm (`c·10⁶ div T`) — exact BIGINT
    * algebra, no float log, deterministic in both engines. One-sided by
    * construction (tokens the source never emits contribute 0);
    * that keeps the frame posting-sized and the statistic monotone in
    * over-representation, which is the signal that matters for drift.
    *
    * Plan: one (source, token) hash-agg, a window sum to token totals,
    * a window sum to source totals, the 1-row corpus total broadcast —
    * all vocabulary-keyed, nothing quadratic. */
  val sourceDivergence = Q(
    "q_source_divergence",
    s"""WITH sc AS (
       |  SELECT source, w, CAST(count(*) AS BIGINT) AS c
       |  FROM (SELECT source, unnest($W) AS w FROM documents)
       |  GROUP BY source, w
       |), tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM sc),
       |d AS (
       |  SELECT source,
       |    c * 1000000 // sum(c) OVER (PARTITION BY source) AS ps,
       |    (sum(c) OVER (PARTITION BY w)) * 1000000 // tot.t AS pg
       |  FROM sc CROSS JOIN tot
       |)
       |SELECT source, count(*) AS n_terms,
       |  CAST(sum((ps - pg) * (ps - pg) // (pg + 1)) AS BIGINT) AS chi2_ppm
       |FROM d GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    val sc = Tables.documents(s, d)
      .select(col("source"), explode(tokens(col("text"))).as("w"))
      .groupBy("source", "w").agg(count(lit(1)).as("c"))
    val tot = sc.agg(sum(col("c")).as("t"))
    sc
      .withColumn("ts", sum(col("c")).over(Window.partitionBy("source")))
      .withColumn("cg", sum(col("c")).over(Window.partitionBy("w")))
      .crossJoin(broadcast(tot))
      .select(col("source"),
        expr("c * 1000000 div ts").as("ps"),
        expr("cg * 1000000 div t").as("pg"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_terms"),
        sum(expr("(ps - pg) * (ps - pg) div (pg + 1)")).as("chi2_ppm"))
      .orderBy("source")
  }

  /** Train/apply language classification — the supervised twin of the
    * stopword-heuristic `q_text_langid`: TRAIN per-language token
    * frequencies on 4/5 of the corpus (doc_id % 5 < 4), APPLY to the
    * held-out fifth, and emit the confusion matrix (lang × lang_pred ×
    * count) — the measured-accuracy loop of a production labeler.
    *
    * Model: each training-vocabulary token votes for the language
    * maximizing its add-one-smoothed relative frequency
    * `(c_L(w)+1)·10¹² div (T_L + V)` (fixed-point, exact; ties →
    * lexicographically-first language); a held-out document's
    * prediction is the majority token vote (ties → first language).
    * This is naive Bayes with per-token hard assignment — chosen over
    * summed log-likelihoods because it needs NO float logarithm, so the
    * whole train/apply loop is engine-exact. Held-out tokens absent
    * from the training vocabulary abstain (inner join); a document of
    * only-unseen tokens drops out of the matrix, which the spec pins.
    *
    * Plan: training counts are one (lang, token) hash-agg; the vote
    * table is vocabulary × |lang| (the ≤5-row totals frame and the
    * 1-row vocabulary size broadcast onto it); apply is one
    * posting-sized join + two windowed argmaxes. Nothing scales worse
    * than the corpus token count. */
  val trainedLangId = Q(
    "q_trained_langid",
    s"""WITH tok AS (SELECT doc_id, lang, unnest($W) AS w FROM documents),
       |tr AS (SELECT * FROM tok WHERE doc_id % 5 < 4),
       |cnt AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS c
       |        FROM tr GROUP BY lang, w),
       |tot AS (SELECT lang, CAST(count(*) AS BIGINT) AS t FROM tr GROUP BY lang),
       |voc AS (SELECT CAST(count(DISTINCT w) AS BIGINT) AS v FROM tr),
       |grid AS (
       |  SELECT vw.w, tot.lang, tot.t, voc.v
       |  FROM (SELECT DISTINCT w FROM tr) vw CROSS JOIN tot CROSS JOIN voc
       |), wt AS (
       |  SELECT g.w, g.lang,
       |    (coalesce(c.c, 0) + 1) * 1000000000000 // (g.t + g.v) AS weight
       |  FROM grid g LEFT JOIN cnt c ON c.lang = g.lang AND c.w = g.w
       |), vote AS (
       |  SELECT w, lang AS lang_vote FROM (
       |    SELECT w, lang, row_number() OVER (
       |      PARTITION BY w ORDER BY weight DESC, lang) AS rn
       |    FROM wt) WHERE rn = 1
       |), ballots AS (
       |  SELECT t.doc_id, t.lang, v.lang_vote, count(*) AS n
       |  FROM tok t JOIN vote v ON v.w = t.w
       |  WHERE t.doc_id % 5 = 4
       |  GROUP BY t.doc_id, t.lang, v.lang_vote
       |), pred AS (
       |  SELECT doc_id, lang, lang_vote AS lang_pred FROM (
       |    SELECT *, row_number() OVER (
       |      PARTITION BY doc_id ORDER BY n DESC, lang_vote) AS rn
       |    FROM ballots) WHERE rn = 1
       |)
       |SELECT lang, lang_pred, count(*) AS n_docs
       |FROM pred GROUP BY lang, lang_pred ORDER BY lang, lang_pred""".stripMargin) {
      (s, d) => confusionFrom(Tables.documents(s, d)
        .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("w")))
    }

  /** Shared Kneser–Ney CTE block (DuckDB side): interpolated KN at
    * discount d = 3/4, every probability held as an integer rational
    * over the common denominator 4·c(v·)·T so the bit-length log2
    * surrogate is exact in both engines. */
  private[operators] def knCtes: String =
    s"""WITH tok AS (
       |  SELECT doc_id, source, $W AS w FROM documents
       |), b AS (
       |  SELECT doc_id, source,
       |    unnest([array_to_string(w[i:i+1], ' ')
       |            for i in range(1, len(w))]) AS bg
       |  FROM tok
       |), ty AS (
       |  SELECT bg, split_part(bg, ' ', 1) AS v, split_part(bg, ' ', 2) AS wd,
       |    CAST(count(*) AS BIGINT) AS cvw
       |  FROM b GROUP BY 1, 2, 3
       |), st AS (
       |  SELECT bg, cvw,
       |    sum(cvw)  OVER (PARTITION BY v)  AS cv,
       |    count(*)  OVER (PARTITION BY v)  AS n1v,
       |    count(*)  OVER (PARTITION BY wd) AS n1w
       |  FROM ty
       |), tt AS (SELECT CAST(count(*) AS BIGINT) AS t FROM ty),
       |sc AS (
       |  SELECT bg,
       |    length(bin(4 * cv * tt.t))
       |      - length(bin(greatest(4 * cvw - 3, 0) * tt.t + 3 * n1v * n1w))
       |      AS bits
       |  FROM st CROSS JOIN tt
       |), doc AS (
       |  SELECT b.doc_id, b.source,
       |    CAST(count(*) AS BIGINT) AS n_bigrams,
       |    CAST(sum(sc.bits) AS BIGINT) AS kn_bits
       |  FROM b JOIN sc USING (bg) GROUP BY b.doc_id, b.source
       |), ds AS (
       |  SELECT doc_id, source, n_bigrams, kn_bits,
       |    kn_bits * 1000000 // n_bigrams AS avg_ppm
       |  FROM doc
       |)""".stripMargin

  /** Per-document interpolated Kneser–Ney surprisal — the real
    * LM-perplexity quality filter (Kneser & Ney 1995; Chen & Goodman
    * 1998 eq. 4.25), one rung above [[lmBigram]]'s raw conditional MLE:
    * absolute discounting (d = 3/4) re-routes probability mass from
    * observed bigrams to the CONTINUATION distribution
    * `P_cont(w) = N1+(·w)/N1+(··)`, so a word that appears in many
    * distinct contexts backs off cheap while a word frequent only
    * inside one collocation stays expensive — the distinction raw MLE
    * and unigram surprisal both miss (the CCNet/KenLM filtering signal,
    * Wenzek et al. 2020).
    *
    * Exactness: with d = 3/4 every KN probability is the integer
    * rational `(max(4·c(vw)−3, 0)·T + 3·N1+(v·)·N1+(·w)) / (4·c(v·)·T)`
    * (numerator ≤ denominator since Σ_w P(w|v) = 1), and the house
    * bit-length surrogate replaces log2 on BOTH sides, so every score
    * is engine-identical. Exact while 4·c(v·)·T < 2^63; at corpus
    * scales beyond that the denominator's log decomposes per factor
    * (2 + bitlen(cv) + bitlen(T), off by ≤1 bit) — documented swap,
    * not needed at any tested SF.
    *
    * Plan: one bigram hash-agg (type frame), two keyed window exchanges
    * (first-word, second-word), a 1-row type-total broadcast, one
    * posting-sized equi-join back to the instance frame, one per-doc
    * hash-agg. Nothing pairs documents; everything is bigram-vocabulary
    * or token keyed — the [[lmBigram]] plan plus one join. */
  val kneserNey = Q(
    "q_lm_kn",
    s"""$knCtes
       |SELECT doc_id, n_bigrams, kn_bits, avg_ppm
       |FROM ds ORDER BY avg_ppm DESC, doc_id LIMIT 25""".stripMargin) {
    (s, d) =>
      knScores(s, d)
        .select("doc_id", "n_bigrams", "kn_bits", "avg_ppm")
        .orderBy(col("avg_ppm").desc, col("doc_id"))
        .limit(25)
  }

  /** CCNet-style perplexity banding (Wenzek et al. 2020 §4.3): every
    * document scored by [[kneserNey]] KN surprisal, then cut into
    * head/middle/tail TERTILES PER SOURCE (CCNet buckets per
    * language/snapshot — the per-source grain is what makes the bands
    * comparable across heterogeneous corpus slices), and summarized as
    * per-band document counts and ppm bounds — the frame a curation
    * pipeline joins against to keep `head`, sample `middle`, drop
    * `tail`.
    *
    * The tertile is rank-based (`ntile(3)` over the per-source total
    * order `(avg_ppm, doc_id)`) — deterministic, engine-identical, and
    * partitioned by source so the window never funnels the corpus into
    * one partition ([[WarehouseQueries.equidepthHist]] pattern). The
    * windowed frame is doc-grain — three orders below token grain; a
    * deployment whose single source exceeds one executor's sort budget
    * would swap the exact ntile for sampled cutpoints
    * (`approx_percentile`), trading the exact-rank contract. */
  val qualityTertiles = Q(
    "q_quality_tertiles",
    s"""$knCtes, t3 AS (
       |  SELECT source, avg_ppm,
       |    ntile(3) OVER (PARTITION BY source
       |                   ORDER BY avg_ppm, doc_id) AS b3
       |  FROM ds
       |)
       |SELECT source,
       |  CASE b3 WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
       |          ELSE 'tail' END AS bucket,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  min(avg_ppm) AS lo_ppm, max(avg_ppm) AS hi_ppm,
       |  CAST(sum(avg_ppm) // count(*) AS BIGINT) AS mean_ppm
       |FROM t3 GROUP BY source, b3 ORDER BY source, b3""".stripMargin) {
    (s, d) =>
      knScores(s, d)
        .withColumn("b3", ntile(3).over(
          Window.partitionBy("source").orderBy("avg_ppm", "doc_id")))
        .groupBy("source", "b3")
        .agg(count(lit(1)).as("n_docs"),
          min("avg_ppm").as("lo_ppm"), max("avg_ppm").as("hi_ppm"),
          expr("sum(avg_ppm) div count(*)").as("mean_ppm"))
        .withColumn("bucket",
          when(col("b3") === 1, "head")
            .when(col("b3") === 2, "middle").otherwise("tail"))
        .orderBy("source", "b3")
        .select("source", "bucket", "n_docs", "lo_ppm", "hi_ppm", "mean_ppm")
  }

  /** Held-out Kneser–Ney scoring — the true train/apply discipline
    * ([[trainedLangId]]'s split convention): the KN model trains on
    * 4/5 of the corpus (`doc_id % 5 < 4`) and scores the held-out
    * fifth, so unseen-transition backoff is exercised FOR REAL and
    * oracle-checked (in [[kneserNey]]'s self-scored frame every bigram
    * is in-model by construction; here the eval slice carries
    * transitions the trainer never saw). Backoff contract = the
    * [[graft.streaming.QualityStreams]] frozen-model rule: unseen
    * bigram over seen words prices at the exact KN backoff (cvw = 0,
    * true marginals); unseen words coalesce their marginals to the
    * hapax prior — deterministic, never dropped.
    *
    * Plan: train-slice bigram hash-agg + two marginal hash-aggs
    * (vocabulary-sized), 1-row type total broadcast, three equi-joins
    * from the eval bigram stream onto the model frames (AQE broadcasts
    * the vocabulary sides), one per-doc hash-agg, top-k. */
  val kneserNeyHeldout = Q(
    "q_lm_kn_heldout",
    s"""WITH tok AS (SELECT doc_id, $W AS w FROM documents),
       |b AS (
       |  SELECT doc_id, unnest([array_to_string(w[i:i+1], ' ')
       |                         for i in range(1, len(w))]) AS bg
       |  FROM tok
       |), ty AS (
       |  SELECT bg, split_part(bg, ' ', 1) AS v, split_part(bg, ' ', 2) AS wd,
       |    CAST(count(*) AS BIGINT) AS cvw
       |  FROM b WHERE doc_id % 5 < 4 GROUP BY 1, 2, 3
       |), ty2 AS (SELECT bg, cvw FROM ty),
       |fw AS (SELECT v, CAST(sum(cvw) AS BIGINT) AS cv,
       |         CAST(count(*) AS BIGINT) AS n1v FROM ty GROUP BY v),
       |cw AS (SELECT wd, CAST(count(*) AS BIGINT) AS n1w FROM ty GROUP BY wd),
       |tt AS (SELECT CAST(count(*) AS BIGINT) AS t FROM ty),
       |ev AS (
       |  SELECT doc_id, bg, split_part(bg, ' ', 1) AS v,
       |    split_part(bg, ' ', 2) AS wd
       |  FROM b WHERE doc_id % 5 = 4
       |), sc AS (
       |  SELECT e.doc_id,
       |    length(bin(4 * coalesce(f.cv, 1) * tt.t))
       |      - length(bin(greatest(4 * coalesce(y.cvw, 0) - 3, 0) * tt.t
       |                   + 3 * coalesce(f.n1v, 1) * coalesce(c.n1w, 1)))
       |      AS bits
       |  FROM ev e
       |  LEFT JOIN ty2 y USING (bg)
       |  LEFT JOIN fw f USING (v)
       |  LEFT JOIN cw c USING (wd)
       |  CROSS JOIN tt
       |)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
       |  CAST(sum(bits) AS BIGINT) AS kn_bits,
       |  CAST(sum(bits) AS BIGINT) * 1000000 // count(*) AS avg_ppm
       |FROM sc GROUP BY doc_id
       |ORDER BY avg_ppm DESC, doc_id LIMIT 25""".stripMargin) { (s, d) =>
    val inst = Tables.documents(s, d)
      .select(col("doc_id"),
        explode(wordShingles(tokens(col("text")), 2)).as("bg"))
    // same four-consumer materialization as q_kn_drift: the type-stats
    // frame feeds the bigram arm + both marginals + the type total
    val st = knTypeStats(inst.filter(col("doc_id") % 5 < 4))
      .materializeOnce
    val fw = st.select("v", "cv", "n1v").distinct()
    val cw = st.select("wd", "n1w").distinct()
    val tt = st.agg(count(lit(1)).as("t"))
    inst.filter(col("doc_id") % 5 === 4)
      .withColumn("v", substring_index(col("bg"), " ", 1))
      .withColumn("wd", substring_index(col("bg"), " ", -1))
      .join(st.select("bg", "cvw"), Seq("bg"), "left")
      .join(fw, Seq("v"), "left")
      .join(cw, Seq("wd"), "left")
      .crossJoin(broadcast(tt))
      .select(col("doc_id"),
        (length(bin(coalesce(col("cv"), lit(1L)) * 4 * col("t"))) -
          length(bin(
            greatest(coalesce(col("cvw"), lit(0L)) * 4 - 3, lit(0L)) * col("t")
              + coalesce(col("n1v"), lit(1L)) * coalesce(col("n1w"), lit(1L)) * 3)))
          .as("bits"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum("bits").cast("long").as("kn_bits"))
      .withColumn("avg_ppm", expr("kn_bits * 1000000 div n_bigrams"))
      .orderBy(col("avg_ppm").desc, col("doc_id"))
      .limit(25)
  }

  /** The KN drift gauge's measurement frame ([[KnLifecycle]], round-18
    * verdict item 1): the corpus scored through the FROZEN-model
    * scoring joins ([[kneserNeyHeldout]]'s left-join + coalesce
    * backoff path — NOT the self-scored inner join, so the OOV
    * accounting is structural) with per-source OOV shares and mean
    * surprisal in exact ppm — the two observables
    * [[KnLifecycle.driftCheck]] compares against its training
    * baseline. Registered self-gauged (model and stream from the same
    * corpus, the `q_binary_drift` discipline): OOV is zero by
    * construction and the coalesce arms are provably inert, so the
    * oracle pins that the backoff-shaped scorer reproduces the exact
    * in-model prices.
    *
    * Scale: one bigram hash-agg + two marginal hash-aggs
    * (vocabulary-sized), three equi-joins from the instance stream
    * onto the model frames, one per-source hash-agg — the streaming
    * twin's own plan with the aggregate grain coarsened to |sources|
    * rows. */
  val knDrift = Q(
    "q_kn_drift",
    s"""WITH tok AS (SELECT doc_id, source, $W AS w FROM documents),
       |b AS (
       |  SELECT doc_id, source,
       |    unnest([array_to_string(w[i:i+1], ' ')
       |            for i in range(1, len(w))]) AS bg
       |  FROM tok
       |), ty AS (
       |  SELECT bg, split_part(bg, ' ', 1) AS v, split_part(bg, ' ', 2) AS wd,
       |    CAST(count(*) AS BIGINT) AS cvw
       |  FROM b GROUP BY 1, 2, 3
       |), ty2 AS (SELECT bg, cvw FROM ty),
       |fw AS (SELECT v, CAST(sum(cvw) AS BIGINT) AS cv,
       |         CAST(count(*) AS BIGINT) AS n1v FROM ty GROUP BY v),
       |cw AS (SELECT wd, CAST(count(*) AS BIGINT) AS n1w FROM ty GROUP BY wd),
       |tt AS (SELECT CAST(count(*) AS BIGINT) AS t FROM ty),
       |ev AS (
       |  SELECT source, bg, split_part(bg, ' ', 1) AS v,
       |    split_part(bg, ' ', 2) AS wd
       |  FROM b
       |), sc AS (
       |  SELECT e.source,
       |    CASE WHEN y.cvw IS NULL THEN 1 ELSE 0 END AS oovb,
       |    CASE WHEN f.cv IS NULL OR c.n1w IS NULL THEN 1 ELSE 0 END AS oovw,
       |    length(bin(4 * coalesce(f.cv, 1) * tt.t))
       |      - length(bin(greatest(4 * coalesce(y.cvw, 0) - 3, 0) * tt.t
       |                   + 3 * coalesce(f.n1v, 1) * coalesce(c.n1w, 1)))
       |      AS bits
       |  FROM ev e
       |  LEFT JOIN ty2 y USING (bg)
       |  LEFT JOIN fw f USING (v)
       |  LEFT JOIN cw c USING (wd)
       |  CROSS JOIN tt
       |)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_bigrams,
       |  CAST(sum(oovb) AS BIGINT) AS oov_bigrams,
       |  CAST(sum(oovw) AS BIGINT) AS oov_words,
       |  CAST((1000000 * sum(oovw)) // count(*) AS BIGINT) AS oov_ppm,
       |  CAST(sum(bits) AS BIGINT) AS kn_bits,
       |  CAST((CAST(sum(bits) AS BIGINT) * 1000000) // count(*) AS BIGINT)
       |    AS mean_ppm
       |FROM sc GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    val inst = Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        explode(wordShingles(tokens(col("text")), 2)).as("bg"))
    // the type-stats frame feeds FOUR consumers below (bigram arm,
    // first-word marginal, continuation marginal, type total) — one
    // materialization instead of four bigram-agg+window passes; the
    // corpus is then read exactly twice (train + the scoring probe)
    val st = knTypeStats(inst).materializeOnce
    val fw = st.select("v", "cv", "n1v").distinct()
    val cw = st.select("wd", "n1w").distinct()
    val tt = st.agg(count(lit(1)).as("t"))
    inst
      .withColumn("v", substring_index(col("bg"), " ", 1))
      .withColumn("wd", substring_index(col("bg"), " ", -1))
      .join(st.select("bg", "cvw"), Seq("bg"), "left")
      .join(fw, Seq("v"), "left")
      .join(cw, Seq("wd"), "left")
      .crossJoin(broadcast(tt))
      .select(col("source"),
        when(col("cvw").isNull, 1L).otherwise(0L).as("oovb"),
        when(col("cv").isNull || col("n1w").isNull, 1L).otherwise(0L).as("oovw"),
        (length(bin(coalesce(col("cv"), lit(1L)) * 4 * col("t"))) -
          length(bin(
            greatest(coalesce(col("cvw"), lit(0L)) * 4 - 3, lit(0L)) * col("t")
              + coalesce(col("n1v"), lit(1L)) * coalesce(col("n1w"), lit(1L)) * 3)))
          .as("bits"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_bigrams"),
        sum("oovb").as("oov_bigrams"),
        sum("oovw").as("oov_words"),
        sum(col("bits").cast("long")).as("kn_bits"))
      .withColumn("oov_ppm", expr("(1000000 * oov_words) div n_bigrams"))
      .withColumn("mean_ppm", expr("(kn_bits * 1000000) div n_bigrams"))
      .orderBy("source")
      .select("source", "n_bigrams", "oov_bigrams", "oov_words",
        "oov_ppm", "kn_bits", "mean_ppm")
  }

  /** The banded curation policy composed end-to-end — what a corpus
    * build actually DOES with [[qualityTertiles]]'s bands (CCNet §4.3's
    * "keep head, sample middle, drop tail"): head documents keep,
    * middle documents pass a deterministic ~50% md5 coin (the
    * [[SampleQueries.hashSample]] gate — rerun/repartition-stable, no
    * RNG state), tail documents drop. Emits the per-(source, band)
    * audit frame — documents seen/kept and words seen/kept — the
    * datacard row that justifies a curated corpus's token counts.
    *
    * Same plan as [[qualityTertiles]] plus one codegen'd md5 per doc
    * row; word counts are exact (a doc with b bigrams has b+1 words). */
  val qualityMixture = Q(
    "q_quality_mixture",
    s"""$knCtes, t3 AS (
       |  SELECT doc_id, source, n_bigrams, avg_ppm,
       |    ntile(3) OVER (PARTITION BY source
       |                   ORDER BY avg_ppm, doc_id) AS b3
       |  FROM ds
       |), pol AS (
       |  SELECT doc_id, source, b3, n_bigrams + 1 AS words,
       |    CASE WHEN b3 = 1 THEN 1
       |         WHEN b3 = 2
       |          AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '80'
       |          THEN 1
       |         ELSE 0 END AS kept
       |  FROM t3
       |)
       |SELECT source,
       |  CASE b3 WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
       |          ELSE 'tail' END AS bucket,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(kept) AS BIGINT) AS n_kept,
       |  CAST(sum(words) AS BIGINT) AS words_total,
       |  CAST(sum(words * kept) AS BIGINT) AS words_kept
       |FROM pol GROUP BY source, b3 ORDER BY source, b3""".stripMargin) {
    (s, d) =>
      knScores(s, d)
        .withColumn("b3", ntile(3).over(
          Window.partitionBy("source").orderBy("avg_ppm", "doc_id")))
        .withColumn("words", col("n_bigrams") + 1)
        .withColumn("kept",
          when(col("b3") === 1, 1L)
            .when(col("b3") === 2 &&
              substring(md5(col("doc_id").cast("string")), 1, 2) < "80", 1L)
            .otherwise(0L))
        .groupBy("source", "b3")
        .agg(count(lit(1)).as("n_docs"), sum("kept").as("n_kept"),
          sum("words").as("words_total"),
          sum(col("words") * col("kept")).as("words_kept"))
        .withColumn("bucket",
          when(col("b3") === 1, "head")
            .when(col("b3") === 2, "middle").otherwise("tail"))
        .orderBy("source", "b3")
        .select("source", "bucket", "n_docs", "n_kept",
          "words_total", "words_kept")
  }

  /** KN doc-score frame shared by [[kneserNey]] / [[qualityTertiles]] /
    * [[qualityMixture]]: (doc_id, source, n_bigrams, kn_bits, avg_ppm),
    * one row per document with ≥1 bigram (single-word docs have no
    * order-1 evidence and drop out on both sides — spec-pinned).
    *
    * Served from a persisted [[graft.sources.IndexCatalog]] artifact:
    * the model fit + corpus scoring runs ONCE per (run, corpus) and
    * the three consuming queries read the doc-grain frame — the
    * train-once/serve-many shape a production quality filter has
    * (scoring 100 TB once, then banding/joining/auditing the doc-grain
    * result many times). The live train+score plan shape stays
    * registered (and swept) via [[kneserNeyHeldout]]. */
  private[graft] def knScores(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    import graft.sources.IndexCatalog
    val dir = IndexCatalog.ensure(s, s"kn_scores_${IndexCatalog.tag(d)}",
      inputs = Seq(d),
      version = "2", // v2: owners now cover the tokenizer (one clean rebuild)
      owners = Seq(LangModelQueries.getClass, graft.Tables.getClass,
        graft.functions.TextFunctions.getClass,
        classOf[graft.plans.WordShingles], graft.plans.OneRow.getClass)) { dir =>
      knScoresLive(s, d).write.mode("overwrite").parquet(s"$dir/scores")
      IndexCatalog.declareIds("path", "scores", Seq("doc_id"))
    }
    IndexCatalog.read(s, dir, "scores")
  }

  /** The unserved train+score plan (artifact builder body). */
  private[graft] def knScoresLive(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame =
    knScoresFrom(Tables.documents(s, d)
      .select(col("doc_id"), col("source"),
        explode(wordShingles(tokens(col("text")), 2)).as("bg")))

  /** Bigram-type KN statistics over any (…, bg) bigram-instance frame:
    * one row per distinct bigram with (bg, v, wd, cvw, cv, n1v, n1w) —
    * the whole trainable state of the order-1 KN model except the
    * 1-row type total. Shared by the batch scorer and the streaming
    * frozen-model twin ([[graft.streaming.QualityStreams]]). */
  private[graft] def knTypeStats(
      inst: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    inst.groupBy("bg").agg(count(lit(1)).as("cvw"))
      .withColumn("v", substring_index(col("bg"), " ", 1))
      .withColumn("wd", substring_index(col("bg"), " ", -1))
      .withColumn("cv", sum("cvw").over(Window.partitionBy("v")))
      .withColumn("n1v", count(lit(1)).over(Window.partitionBy("v")))
      .withColumn("n1w", count(lit(1)).over(Window.partitionBy("wd")))

  /** KN scoring over any (doc_id, source, bg) bigram-instance frame
    * (exposed for unit tests over hand-built corpora). The type-stats
    * frame is materialized once — it is consumed twice here (type
    * total + price table), and its plan is the full bigram agg + three
    * windows. */
  private[graft] def knScoresFrom(
      inst: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    knScoresFromStats(inst, knTypeStats(inst).materializeOnce)

  /** [[knScoresFrom]] over a PRECOMPUTED (cached/checkpointed)
    * type-stats frame — callers that already hold one (e.g. a retrain
    * that aggregates a stats baseline from the same frame) pass it here
    * instead of paying the window-heavy type-stats plan twice (r19
    * ADVICE). */
  private[graft] def knScoresFromStats(
      inst: org.apache.spark.sql.DataFrame,
      st: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val tt = st.agg(count(lit(1)).as("t"))
    val sc = graft.plans.OneRow.attach(st, tt)
      .select(col("bg"),
        (length(bin(col("cv") * 4 * col("t"))) -
          length(bin(greatest(col("cvw") * 4 - 3, lit(0L)) * col("t") +
            col("n1v") * col("n1w") * 3))).as("bits"))
    inst.join(sc, "bg")
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_bigrams"), sum("bits").cast("long").as("kn_bits"))
      .withColumn("avg_ppm", expr("kn_bits * 1000000 div n_bigrams"))
  }

  /** The full train/apply plan over any (doc_id, lang, w) token frame
    * (exposed for unit tests over hand-built corpora). */
  private[graft] def confusionFrom(
      tok: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val tr = tok.filter(col("doc_id") % 5 < 4)
    // ONE training pass: the (lang, w) count table carries everything
    // the other training frames need — per-lang totals are its row sums,
    // the vocabulary is its distinct w set — so tot/voc/grid derive from
    // the checkpointed vocabulary-sized frame instead of each re-running
    // the corpus tokenize+explode (tok was evaluated 5x: 4 training
    // frames + the held-out probe; now exactly 2 — train and apply)
    val cnt = tr.groupBy("lang", "w").agg(count(lit(1)).as("c"))
      .materializeOnce
    val tot = cnt.groupBy("lang").agg(sum(col("c")).as("t"))
    val voc = cnt.agg(countDistinct(col("w")).as("v"))
    val grid = cnt.select("w").distinct()
      .crossJoin(broadcast(tot))
      .crossJoin(broadcast(voc))
    val wt = grid.join(cnt, Seq("lang", "w"), "left")
      .select(col("w"), col("lang"),
        expr("(coalesce(c, 0) + 1) * 1000000000000 div (t + v)").as("weight"))
    val vote = wt
      .withColumn("rn", row_number().over(
        Window.partitionBy("w").orderBy(col("weight").desc, col("lang"))))
      .filter(col("rn") === 1)
      .select(col("w"), col("lang").as("lang_vote"))
    val ballots = tok.filter(col("doc_id") % 5 === 4)
      .join(vote, "w")
      .groupBy("doc_id", "lang", "lang_vote")
      .agg(count(lit(1)).as("n"))
    ballots
      .withColumn("rn", row_number().over(
        Window.partitionBy("doc_id").orderBy(col("n").desc, col("lang_vote"))))
      .filter(col("rn") === 1)
      .groupBy(col("lang"), col("lang_vote").as("lang_pred"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("lang", "lang_pred")
  }
}
