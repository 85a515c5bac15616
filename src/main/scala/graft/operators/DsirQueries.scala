package graft.operators

import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.plans.Materialize.MaterializeOps

/** Data Selection via Importance Resampling (DSIR, Xie et al. 2023) —
  * the published recipe for picking raw-web documents that "look like" a
  * trusted target domain: featurize every document into hashed n-gram
  * buckets, fit bag-of-words distributions over the buckets for the
  * target and the raw pool, and score each raw document by its
  * log importance weight  sum_tokens log p_target(b) / p_raw(b).
  *
  * Here the target domain is sources src0/src1 (the "curated" slice) and
  * the raw pool is everything else. Two deliberate re-expressions keep
  * the operator oracle-exact across engines:
  *
  *  - the hashed feature is the md5-derived bucket
  *    `u32(md5('dsir|' || token)) % 256` — engine-independent (the
  *    q_sample_* idiom), standing in for DSIR's hashed unigrams;
  *  - the float log is replaced by the INTEGER bit-length log2
  *    (`length(bin(x))`, the q_text_surprisal discipline), with add-one
  *    smoothing, so every per-token score and doc weight is an exact
  *    BIGINT in both engines. The per-token normalizer
  *    bitlen(N_raw+1) - bitlen(N_target+1) makes the weight a genuine
  *    (quantized) log-ratio rather than an unnormalized count diff.
  *
  * Plan shape (the 100 TB story): one token explode feeds two 256-row
  * hash-aggs (the bucket count tables); their full-outer merge plus the
  * one-row totals frame is BROADCAST back onto the raw token stream —
  * the normalizer-frame idiom — so scoring is a single map-side join
  * followed by one per-doc hash-agg. Model size is fixed (256 buckets)
  * no matter the corpus; nothing pairs, nothing collects.
  */
object DsirQueries {

  private val W = """string_split_regex(trim(text), '\s+')"""
  private[graft] val Buckets = 256
  private[graft] val TargetSrcs = Seq("src0", "src1")
  private def targetIn = TargetSrcs.map(s => s"'$s'").mkString(", ")

  /** DuckDB: first 8 hex chars of md5 expression `m` as an integer, by
    * digit arithmetic (the SampleQueries fragment). Shared with
    * [[QualityClassifierQueries]]'s Pareto gate. */
  private[operators] def hexU8(m: String): String =
    (1 to 8).map(i =>
      s"(strpos('0123456789abcdef', ($m)[$i]) - 1) * ${math.pow(16, 8 - i).toLong}")
      .mkString("(", " + ", ")")

  /** Shared DuckDB CTEs: bucketed tokens, the two count tables, their
    * merge, totals, and the per-token scored raw stream. */
  private[operators] val scoreCtes =
    s"""tok AS (SELECT doc_id, source, unnest($W) AS t
       |        FROM documents WHERE len($W) >= 1),
       |bk AS (SELECT doc_id, source,
       |         ${hexU8("md5('dsir|' || t)")} % $Buckets AS b FROM tok),
       |tc AS (SELECT b, count(*) AS ct FROM bk
       |       WHERE source IN ($targetIn) GROUP BY b),
       |rc AS (SELECT b, count(*) AS cr FROM bk
       |       WHERE source NOT IN ($targetIn) GROUP BY b),
       |bt AS (SELECT COALESCE(tc.b, rc.b) AS b, COALESCE(ct, 0) AS ct,
       |              COALESCE(cr, 0) AS cr
       |       FROM tc FULL JOIN rc ON tc.b = rc.b),
       |tot AS (SELECT CAST(sum(ct) AS BIGINT) AS nt,
       |               CAST(sum(cr) AS BIGINT) AS nr FROM bt),
       |sc AS (SELECT bk.doc_id, bk.source,
       |         (length(bin(bt.ct + 1)) - length(bin(bt.cr + 1)))
       |           + (length(bin(tot.nr + 1)) - length(bin(tot.nt + 1))) AS s
       |       FROM bk JOIN bt ON bk.b = bt.b, tot
       |       WHERE bk.source NOT IN ($targetIn)),
       |wts AS (SELECT doc_id, source, count(*) AS n_tokens,
       |          CAST(sum(s) AS BIGINT) AS weight_bits
       |        FROM sc GROUP BY doc_id, source)""".stripMargin

  /** Bucketed token stream (doc_id, source, b) of a document frame —
    * the shared featurization (also [[graft.streaming.DsirStreams]]). */
  private[graft] def bucketTokens(docs: org.apache.spark.sql.DataFrame) =
    docs
      .withColumn("w", graft.functions.TextFunctions.tokens(col("text")))
      .filter(size(col("w")) >= 1)
      .select(col("doc_id"), col("source"), explode(col("w")).as("t"))
      .withColumn("b",
        conv(substring(md5(concat(lit("dsir|"), col("t"))), 1, 8), 16, 10)
          .cast("long") % Buckets)
      .drop("t")

  private[graft] def isTarget = col("source").isin(TargetSrcs: _*)

  /** The 256-row bucket count table (b, ct, cr) of a bucketed token
    * stream — the DSIR "model". ONE hash-agg with conditional sums:
    * the previous two filtered aggs + full-outer merge evaluated the
    * token stream twice and paid a 256-row join for rows one pass
    * produces directly (guide §2.3 "aggregate before you shuffle" /
    * §2.4 — every token is target or raw, so `ct + cr = count(*)` and
    * the bucket sets of the two sides union to exactly the buckets
    * present). Same rows, same types (conditional sums of 1L are the
    * filtered counts). */
  private[graft] def bucketModel(bk: org.apache.spark.sql.DataFrame) =
    bk.groupBy("b").agg(
      sum(when(isTarget, 1L).otherwise(0L)).as("ct"),
      sum(when(!isTarget, 1L).otherwise(0L)).as("cr"))

  /** Per-token quantized log-ratio, given ct/cr/nt/nr columns in scope —
    * the shared scoring expression (bit-length log2, add-one smoothed). */
  private[graft] def scoreCol: org.apache.spark.sql.Column =
    (length(bin(col("ct") + 1)) - length(bin(col("cr") + 1))) +
      (length(bin(col("nr") + 1)) - length(bin(col("nt") + 1)))

  /** Spark frame of (doc_id, source, n_tokens, weight_bits) over the raw
    * pool, unordered (callers order/limit) — the live train+score plan
    * (also the artifact builder's body). */
  private[graft] def weightsFrame(s: org.apache.spark.sql.SparkSession, d: String) = {
    // materialize the bucketed token stream once: train agg AND score
    // probe consume it, so the corpus tokenize+md5 pass — the expensive
    // map work — runs ONCE and both consumers read the compact
    // (doc_id, source, b) rows (r20 lesson: a checkpoint wins exactly
    // when the duplicated subtree is the corpus pass). The 256-row
    // model then materializes once more for its two consumers (totals
    // agg + score join; the totals ride along as a scalar subquery and
    // AQE broadcasts the model while it measures small).
    val bk = bucketTokens(Tables.documents(s, d)).materializeOnce
    val bt = bucketModel(bk).materializeOnce
    val tot = bt.agg(sum("ct").as("nt"), sum("cr").as("nr"))
    bk.filter(!isTarget)
      .join(graft.plans.OneRow.attach(bt, tot), Seq("b"))
      .withColumn("s", scoreCol)
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("s").cast("long")).as("weight_bits"))
  }

  /** Doc-grain weights persisted once per (run, corpus) — the kn_scores
    * train-once/serve-many shape (r11 verdict item 4: DSIR weights were
    * the second-steepest smoke line; a production mix is resampled MANY
    * times from one scored pool). Weight rows carry doc ids, declared
    * for the delete audit. */
  private[graft] def weightsTable(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    import graft.sources.IndexCatalog
    val dir = IndexCatalog.ensure(s, s"dsir_weights_${IndexCatalog.tag(d)}",
        inputs = Seq(d),
        owners = Seq(DsirQueries.getClass, graft.Tables.getClass,
          graft.functions.TextFunctions.getClass,
          graft.plans.OneRow.getClass)) { dir =>
      weightsFrame(s, d).write.mode("overwrite").parquet(s"$dir/weights")
      IndexCatalog.declareIds("path", "weights", Seq("doc_id"))
    }
    IndexCatalog.read(s, dir, "weights")
  }

  private val weightsSql =
    s"""WITH $scoreCtes
       |SELECT doc_id, source, n_tokens, weight_bits
       |FROM wts ORDER BY doc_id""".stripMargin

  /** Per-document DSIR log importance weight over the whole raw pool
    * (quantized bit-log units). Target-slice docs are excluded — they
    * are the distribution, not candidates. Served from the persisted
    * weights artifact. */
  val dsirWeights = Q("q_dsir_weights", weightsSql) { (s, d) =>
    weightsTable(s, d)
      .select("doc_id", "source", "n_tokens", "weight_bits")
      .orderBy("doc_id")
  }

  /** The UNSERVED live train+score plan, kept registered so the
    * construction shape stays correctness-checked and plan-swept — the
    * kn_scores / q_lm_kn_heldout discipline. */
  val dsirWeightsLive = Q("q_dsir_weights_live", weightsSql) { (s, d) =>
    weightsFrame(s, d)
      .select("doc_id", "source", "n_tokens", "weight_bits")
      .orderBy("doc_id")
  }

  /** The selection itself: the 30 raw documents with the highest
    * importance weight (doc_id tie-break), i.e. the slice DSIR would
    * resample into the training mix — one TakeOrdered over the persisted
    * weights (no global sort, no rescore). */
  /** The DSIR drift gauge's measurement frame ([[DsirLifecycle]],
    * round-18 verdict item 1): per hashed bucket, the CURRENT token
    * stream's share in exact ppm beside the frozen model's fitted
    * target/raw shares and their skew (the per-bucket signal the
    * importance weight sums). This is the exact frame
    * [[DsirLifecycle.driftCheck]] joins against its training baseline —
    * registered self-gauged (model and stream from the same corpus, the
    * `q_binary_drift` discipline) so the measurement machinery is
    * oracle-checked end-to-end.
    *
    * Scale: one token explode into three 256-row hash-aggs, two 1-row
    * broadcasts, a 256-row output — corpus-linear audit, nothing
    * pairs, nothing collected. */
  val dsirDrift = Q(
    "q_dsir_drift",
    s"""WITH $scoreCtes,
       |cur AS (SELECT b, CAST(count(*) AS BIGINT) AS n_tokens
       |        FROM bk GROUP BY b),
       |ctot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS n_all FROM cur)
       |SELECT cur.b AS b, cur.n_tokens,
       |  CAST((1000000 * cur.n_tokens) // ctot.n_all AS BIGINT) AS share_ppm,
       |  CAST((1000000 * bt.ct) // tot.nt AS BIGINT) AS target_ppm,
       |  CAST((1000000 * bt.cr) // tot.nr AS BIGINT) AS raw_ppm,
       |  CAST(abs((1000000 * bt.ct) // tot.nt
       |           - (1000000 * bt.cr) // tot.nr) AS BIGINT) AS skew_ppm
       |FROM cur JOIN bt USING (b) CROSS JOIN tot CROSS JOIN ctot
       |ORDER BY b""".stripMargin) { (s, d) =>
    val bk = bucketTokens(Tables.documents(s, d))
    // ONE corpus pass for all three 256-row frames: cur's count is
    // ct + cr (every token is target or raw), and the previous
    // cur-join-bt inner join on b is the identity on this fused agg
    // (both sides held exactly the buckets present in bk). The
    // checkpoint stops the two 1-row totals aggs below from re-running
    // the corpus tokenize (the frame is consumed 3×).
    // INVARIANT (r20 advice): `documents.source` is NON-NULL — the
    // fixture schema ships it populated and every ingest path requires
    // it. The "every token is target or raw" identity above relies on
    // that: a NULL source would make isTarget and !isTarget both NULL,
    // yielding a (b, 0, 0) model row the old filtered-agg + full-outer
    // form dropped. If a future source column becomes nullable, add
    // .filter(col("source").isNotNull) to bucketTokens' input.
    val m = bk.groupBy("b").agg(
      sum(when(isTarget, 1L).otherwise(0L)).as("ct"),
      sum(when(!isTarget, 1L).otherwise(0L)).as("cr"))
      .withColumn("n_tokens", col("ct") + col("cr"))
      .materializeOnce
    val tot = m.agg(sum("ct").as("nt"), sum("cr").as("nr"))
    val ctot = m.agg(sum("n_tokens").as("n_all"))
    m.select("b", "n_tokens", "ct", "cr")
      .crossJoin(broadcast(tot)).crossJoin(broadcast(ctot))
      .select(col("b"), col("n_tokens"),
        expr("(1000000 * n_tokens) div n_all").as("share_ppm"),
        expr("(1000000 * ct) div nt").as("target_ppm"),
        expr("(1000000 * cr) div nr").as("raw_ppm"),
        expr("abs((1000000 * ct) div nt - (1000000 * cr) div nr)")
          .as("skew_ppm"))
      .orderBy("b")
  }

  val dsirSample = Q(
    "q_dsir_sample",
    s"""WITH $scoreCtes
       |SELECT doc_id, source, n_tokens, weight_bits FROM (
       |  SELECT * FROM wts ORDER BY weight_bits DESC, doc_id LIMIT 30
       |) ORDER BY doc_id""".stripMargin) { (s, d) =>
    weightsTable(s, d)
      .orderBy(col("weight_bits").desc, col("doc_id"))
      .limit(30)
      .select("doc_id", "source", "n_tokens", "weight_bits")
      .orderBy("doc_id")
  }
}
