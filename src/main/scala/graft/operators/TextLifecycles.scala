package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.GenerationStore
import graft.plans.Materialize.MaterializeOps

/** DSIR drift → retrain lifecycle (round-18 verdict item 1: the
  * [[graft.streaming.CurationStreams]] frozen-model contract names
  * distribution shift as the retrain trigger, but nothing detected it —
  * the [[BinaryLifecycle]] pattern applied to the importance-sampling
  * tier).
  *
  * The DSIR stack's trained state is the 256-row hashed-bucket count
  * table (b, ct, cr) plus its totals and the frozen selection cut; its
  * health observable is the BUCKET DISTRIBUTION of arriving tokens —
  * the share of the token stream landing in each hashed bucket, in
  * exact ppm (the registered `q_dsir_drift` gauge measures the same
  * frame). The importance weight of every scored document is a sum of
  * per-bucket log-ratios frozen at training; when the arriving corpus's
  * bucket distribution walks away from the training mix, both fitted
  * distributions are stale and the weights quietly stop meaning
  * "looks like the target" — deterministic, never an error, which is
  * why only a gauge can catch it.
  *
  * Store layout (a [[GenerationStore]], see its commit rule):
  *  - `<store>/totals`  — 1-row (nt, nr, cut), the AUTHORITY;
  *  - `<store>/buckets` — the 256-row (b, ct, cr) model;
  *  - `<store>/stats`   — training-time per-bucket token share
  *    (b, n_tokens, share_ppm) over the WHOLE training mix, the drift
  *    baseline (recomputing it later is impossible: the corpus behind
  *    the path has drifted, that being the point).
  *
  * The store is the DSIR model's only trainer and on-disk format:
  * [[graft.streaming.CurationStreams.dsirStream]] and
  * [[graft.streaming.AdmissionStreams.train]] train through [[retrain]]
  * and score with [[asModel]].
  *
  * Scale shape: the gauge is one token explode into a 256-row hash-agg
  * (the scoring pass's own featurization); only 256 aggregate rows
  * reach the driver. Training cost is paid exactly when the gauge says
  * the model is stale, never per batch.
  */
object DsirLifecycle {

  def at(store: String): GenerationStore =
    GenerationStore(store, authority = "totals", siblings = Seq("stats", "buckets"))

  /** Per-bucket token share of a (doc_id, source, text) frame in exact
    * ppm: (b, n_tokens, share_ppm) — the gauge's measurement frame and
    * the `q_dsir_drift` output shape. */
  private[operators] def bucketShares(docs: DataFrame): DataFrame = {
    // the 256-row agg is consumed twice (rows + its own total) —
    // materialize it once so the corpus tokenize runs a single pass
    val cur = DsirQueries.bucketTokens(docs)
      .groupBy("b").agg(count(lit(1)).as("n_tokens"))
      .materializeOnce
    cur.crossJoin(broadcast(cur.agg(sum("n_tokens").as("n_all"))))
      .select(col("b"), col("n_tokens"),
        expr("1000000 * n_tokens div n_all").as("share_ppm"))
  }

  /** Train the next generation from the current corpus: the 256-row
    * bucket model, its totals + frozen selection cut, and the
    * training-time bucket-share baseline, all under one generation
    * number. Returns that number. `docs` is (doc_id, source, text)
    * with trusted target labels (training is the one place labels are
    * trusted — scoring is not, [[graft.streaming.CurationStreams]]). */
  def retrain(docs: DataFrame, store: String): Int = {
    val s = docs.sparkSession
    val bk = DsirQueries.bucketTokens(docs)
    val bt = DsirQueries.bucketModel(bk).cache()
    try at(store).commit(s) { _ => {
      // the training-time share baseline derives from the cached model
      // (every token is target or raw, so n_tokens = ct + cr and
      // n_all = nt + nr) — identical rows to bucketShares(docs) without
      // re-tokenizing the corpus a second and third time
      case "stats" =>
        bt.crossJoin(broadcast(
            bt.agg(sum(col("ct") + col("cr")).as("n_all"))))
          .select(col("b"), (col("ct") + col("cr")).as("n_tokens"),
            expr("1000000 * (ct + cr) div n_all").as("share_ppm"))
      case "buckets" => bt
      case "totals" =>
        val Row(nt: Long, nr: Long) =
          bt.agg(sum("ct").as("nt"), sum("cr").as("nr")).head()
        // the frozen selection boundary: the training pool's 30th-highest
        // doc weight (the q_dsir_sample admission line); nt/nr are already
        // on the driver — attach them as literals instead of re-running
        // the totals agg inside the score join
        val cut = bk.filter(!DsirQueries.isTarget)
          .join(broadcast(bt), Seq("b"))
          .withColumn("nt", lit(nt)).withColumn("nr", lit(nr))
          .withColumn("s", DsirQueries.scoreCol)
          .groupBy("doc_id")
          .agg(sum(col("s").cast("long")).as("weight_bits"))
          .orderBy(col("weight_bits").desc, col("doc_id"))
          .limit(30)
          .agg(min("weight_bits")).head().getLong(0)
        s.range(1).select(lit(nt).as("nt"), lit(nr).as("nr"),
          lit(cut).as("cut"))
    }} finally bt.unpersist()
  }

  /** The pointed (or pinned) generation bridged to the streaming twin's
    * frozen-model type — how [[graft.streaming.CurationStreams]] scores
    * arrivals under generation `gen` (its next model load is the
    * generation boundary). */
  def asModel(s: SparkSession, store: String,
              gen: Option[Int] = None): graft.streaming.CurationStreams.DsirModel = {
    val st = at(store)
    val g = gen.getOrElse(st.committed(s))
    val t = st.read(s, "totals", Some(g)).head()
    graft.streaming.CurationStreams.DsirModel(st.read(s, "buckets", Some(g)),
      t.getAs[Long]("nt"), t.getAs[Long]("nr"), t.getAs[Long]("cut"))
  }

  /** The drift gauge's verdict, with the measured extremes exposed so
    * an operator (or a test) can see WHY. */
  final case class DsirDriftDecision(retrain: Boolean, reasons: Seq[String],
                                     generation: Int, maxShiftPpm: Long,
                                     novelMassPpm: Long, buckets: Long)

  /** Measure the CURRENT corpus's bucket distribution against the
    * pointed generation's training-time baseline (never re-derived —
    * refitting is exactly what the frozen-model contract forbids).
    * Labels on `docs` are NOT trusted (arrivals carry none) — every
    * token counts, exactly as every arriving doc scores.
    *
    * Default triggers: retrain when any bucket's token share moved
    * ≥ `shiftPpm` from baseline (the arriving mix walked away from the
    * training mix — both fitted distributions are stale), or when
    * ≥ `novelPpm` of the token stream lands in buckets the trainer
    * never populated (they price at the pure smoothed prior — zero
    * signal, the DSIR analog of [[BinaryLifecycle]]'s dark dims). */
  def driftCheck(docs: DataFrame, store: String,
                 shiftPpm: Long = 2000L,
                 novelPpm: Long = 10000L): DsirDriftDecision = {
    val s = docs.sparkSession
    val st = at(store)
    val gen = st.committed(s)
    val cur = bucketShares(docs)
    val base = st.read(s, "stats", Some(gen))
      .select(col("b"), col("share_ppm").as("base_ppm"))
    val model = st.read(s, "buckets", Some(gen))
      .select(col("b"), (col("ct") + col("cr")).as("trained_n"))
    // ≤256 aggregate rows end at 1 — telemetry, not data
    val r = cur
      .join(base, Seq("b"), "full_outer")
      .join(model, Seq("b"), "left")
      .na.fill(0L, Seq("n_tokens", "share_ppm", "base_ppm", "trained_n"))
      .agg(max(abs(col("share_ppm") - col("base_ppm"))).as("max_shift"),
        sum(when(col("trained_n") === 0L, col("n_tokens"))
          .otherwise(0L)).as("novel_n"),
        sum(col("n_tokens")).as("n_all"),
        count(lit(1)).as("nb"))
      .collect().head
    require(r.getLong(2) > 0,
      s"driftCheck over an empty corpus against $store gen $gen — " +
        "drift against nothing is undefined, refusing to gauge")
    val maxShift = r.getLong(0)
    val novelMass = 1000000L * r.getLong(1) / r.getLong(2)
    val nb = r.getLong(3)
    val reasons = Seq.newBuilder[String]
    if (maxShift >= shiftPpm)
      reasons += s"a bucket's token share moved $maxShift ppm from the " +
        s"gen-$gen training mix (threshold $shiftPpm)"
    if (novelMass >= novelPpm)
      reasons += s"$novelMass ppm of the token stream lands in buckets " +
        s"the trainer never populated (threshold $novelPpm)"
    val rs = reasons.result()
    DsirDriftDecision(rs.nonEmpty, rs, gen, maxShift, novelMass, nb)
  }

  /** Nightly maintenance entry: retrain the next generation iff the
    * drift gauge says so. Returns the decision and the new generation
    * (None when the current one still serves). */
  def maybeRetrain(docs: DataFrame, store: String,
                   shiftPpm: Long = 2000L,
                   novelPpm: Long = 10000L): (DsirDriftDecision, Option[Int]) = {
    val d = driftCheck(docs, store, shiftPpm, novelPpm)
    if (d.retrain) (d, Some(retrain(docs, store)))
    else (d, None)
  }
}

/** Kneser–Ney drift → retrain lifecycle (round-18 verdict item 1,
  * second model: [[graft.streaming.QualityStreams]] freezes the KN
  * score model and prices unseen words at the hapax prior — a price
  * that goes quietly stale as the vocabulary drifts, and nothing
  * measured it).
  *
  * The KN stack's trained state is the bigram-type frame plus the two
  * word-marginal frames, the type total, and the per-source band
  * cutpoints; its health observables are (the registered `q_kn_drift`
  * gauge measures both, in exact integer ppm):
  *  - OOV SHARE — the ppm of arriving bigram instances whose first or
  *    second WORD the trainer never saw (they coalesce to the hapax
  *    prior: deterministic, never a drop, and exactly the price that
  *    stops meaning anything as the real vocabulary moves);
  *  - MEAN SURPRISAL SHIFT — the corpus-mean `avg_ppm` against the
  *    training-time baseline (a drifting domain re-prices even
  *    in-vocabulary transitions, shifting every band boundary's
  *    meaning while the frozen cutpoints stand still).
  *
  * Store layout (a [[GenerationStore]], see its commit rule):
  * `<store>/total`, the 1-row type total, is the AUTHORITY;
  * `<store>/stats` (training-time 1-row baseline: n_bigrams, kn_bits,
  * mean_ppm), `<store>/bigrams`, `<store>/firsts`, `<store>/conts` and
  * `<store>/cuts` are its siblings.
  *
  * The store is the KN model's only trainer and on-disk format:
  * [[graft.streaming.QualityStreams.scoreStream]] and
  * [[graft.streaming.AdmissionStreams.train]] train through [[retrain]]
  * and score with [[asModel]].
  *
  * Scale shape: the gauge is the scoring pass itself (three
  * vocabulary-keyed equi-joins) aggregated to one row; training is the
  * [[LangModelQueries]] type-stats plan. Nothing pairs documents; the
  * only driver-side data are the 1-row gauge aggregates.
  */
object KnLifecycle {

  def at(store: String): GenerationStore =
    GenerationStore(store, authority = "total",
      siblings = Seq("stats", "bigrams", "firsts", "conts", "cuts"))

  /** Train the next generation from the current corpus: the full KN
    * model ([[graft.streaming.QualityStreams.KnModel]] components), the
    * per-source band cutpoints, and the training-time surprisal
    * baseline, all under one generation number. Returns that number. */
  def retrain(docs: DataFrame, store: String): Int = {
    val s = docs.sparkSession
    val inst = graft.streaming.QualityStreams.instOf(docs)
    val st = LangModelQueries.knTypeStats(inst).cache()
    try {
      // score through the CACHED type-stats frame (r19 ADVICE: the old
      // knScoresFrom(inst) rebuilt knTypeStats from scratch internally),
      // and materialize the doc-grain scores once — they are consumed
      // twice below (stats baseline agg + band cutpoints)
      val scores = LangModelQueries.knScoresFromStats(inst, st)
        .materializeOnce
      at(store).commit(s) { _ => {
        case "stats" =>
          scores.agg(sum("n_bigrams").as("n_bigrams"),
              sum("kn_bits").as("kn_bits"))
            .select(col("n_bigrams"), col("kn_bits"),
              expr("kn_bits * 1000000 div n_bigrams").as("mean_ppm"))
        case "bigrams" => st.select("bg", "cvw")
        case "firsts" => st.select("v", "cv", "n1v").distinct()
        case "conts" => st.select("wd", "n1w").distinct()
        case "cuts" =>
          scores.withColumn("b3", ntile(3).over(
              Window.partitionBy("source").orderBy("avg_ppm", "doc_id")))
            .groupBy("source")
            .agg(max(when(col("b3") === 1, col("avg_ppm"))).as("c1"),
              max(when(col("b3") <= 2, col("avg_ppm"))).as("c2"))
        case "total" => s.range(1).select(lit(st.count()).as("t"))
      }}
    } finally st.unpersist()
  }

  /** The pointed (or pinned) generation bridged to the streaming twin's
    * frozen-model type — how [[graft.streaming.QualityStreams]] scores
    * arrivals under generation `gen`. */
  def asModel(s: SparkSession, store: String,
              gen: Option[Int] = None): graft.streaming.QualityStreams.KnModel = {
    val st = at(store)
    val g = Some(gen.getOrElse(st.committed(s)))
    graft.streaming.QualityStreams.KnModel(
      bigrams = st.read(s, "bigrams", g),
      firsts = st.read(s, "firsts", g),
      conts = st.read(s, "conts", g),
      t = st.read(s, "total", g).head().getLong(0),
      cuts = st.read(s, "cuts", g))
  }

  /** The drift gauge's verdict, with the measured observables exposed
    * so an operator (or a test) can see WHY. */
  final case class KnDriftDecision(retrain: Boolean, reasons: Seq[String],
                                   generation: Int, oovPpm: Long,
                                   meanShiftPpm: Long, nBigrams: Long)

  /** Score the CURRENT corpus against the pointed generation's FROZEN
    * model (the streaming twin's own scoring joins — never retrained
    * inline) and gauge OOV share and mean-surprisal shift against the
    * training-time baseline. Default triggers: retrain when ≥ `oovPpm`
    * of bigram instances carry an unseen word (the hapax prior is
    * pricing a material share of the stream), or when the corpus-mean
    * surprisal moved ≥ `shiftPpm` from the training baseline. */
  def driftCheck(docs: DataFrame, store: String,
                 oovPpm: Long = 50000L,
                 shiftPpm: Long = 100000L): KnDriftDecision = {
    val s = docs.sparkSession
    val gen = at(store).committed(s)
    // the twin's own pricing of each bigram instance, aggregated to 1 row
    val r = graft.streaming.QualityStreams
      .bigramBits(docs, asModel(s, store, Some(gen)))
      .agg(count(lit(1)).as("n"),
        sum(when(col("oov"), 1L).otherwise(0L)).as("oov"),
        sum(col("bits").cast("long")).as("kn_bits"))
      .collect().head
    require(!r.isNullAt(0) && r.getLong(0) > 0,
      s"driftCheck over an empty corpus against $store gen $gen — " +
        "drift against nothing is undefined, refusing to gauge")
    val n = r.getLong(0)
    val oov = 1000000L * r.getLong(1) / n
    val curMean = 1000000L * r.getLong(2) / n
    val baseMean = at(store).read(s, "stats", Some(gen)).head()
      .getAs[Long]("mean_ppm")
    val shift = math.abs(curMean - baseMean)
    val reasons = Seq.newBuilder[String]
    if (oov >= oovPpm)
      reasons += s"$oov ppm of bigram instances carry a word the gen-$gen " +
        s"trainer never saw — the hapax prior is pricing them " +
        s"(threshold $oovPpm)"
    if (shift >= shiftPpm)
      reasons += s"corpus-mean surprisal moved $shift ppm from the " +
        s"gen-$gen training baseline (threshold $shiftPpm)"
    val rs = reasons.result()
    KnDriftDecision(rs.nonEmpty, rs, gen, oov, shift, n)
  }

  /** Nightly maintenance entry: retrain the next generation iff the
    * drift gauge says so. Returns the decision and the new generation
    * (None when the current one still serves). */
  def maybeRetrain(docs: DataFrame, store: String,
                   oovPpm: Long = 50000L,
                   shiftPpm: Long = 100000L): (KnDriftDecision, Option[Int]) = {
    val d = driftCheck(docs, store, oovPpm, shiftPpm)
    if (d.retrain) (d, Some(retrain(docs, store)))
    else (d, None)
  }
}

/** BPE tokenizer drift → retrain lifecycle (round-19, closing the last
  * frozen text-tier model without a detector: [[graft.streaming
  * .TokenizeStreams]] encodes arrivals under a vocabulary closed at
  * training time — an OOV word runs the frozen merge chain and
  * degrades toward character pieces, deterministic and silent, and a
  * rising OOV share is exactly the staleness signal the frozen-vocab
  * contract names).
  *
  * Trained state: the merge sequence + the per-word segmentation
  * table. Health observables (the registered `q_tok_drift` gauge
  * measures both, exact integer ppm):
  *  - OOV-WORD share of the arriving token stream (words the trainer
  *    never saw — the char-piece degradation price);
  *  - IN-VOCAB compression shift — tokens per million in-vocab words
  *    under the frozen segmentation vs the training-time baseline
  *    (the word mix sliding toward longer-pieced words re-prices
  *    every token budget downstream even with zero OOV). OOV words
  *    are deliberately excluded from this observable: their price is
  *    merge-chain-dependent, and the share observable already carries
  *    their whole signal — keeping the two orthogonal and both exact.
  *
  * Store layout (a [[GenerationStore]], see its commit rule):
  * `<store>/merges` is the AUTHORITY, with `<store>/stats` (1-row
  * training baseline) and `<store>/vocab` its siblings. Training runs
  * [[ChunkingQueries.bpeTrainInto]] (the catalog artifact's own loop)
  * into a per-generation scratch dir, then lands the tables; the
  * scratch is removed after commit.
  *
  * The store is the tokenizer's only trainer and on-disk format:
  * [[graft.streaming.TokenizeStreams.encodeStream]] trains through
  * [[retrain]] and encodes with the `vocab` table and [[merges]].
  *
  * Scale shape: the gauge is one token explode + a vocabulary-sized
  * left join aggregated to one row; retraining is the artifact
  * builder's own cost, paid exactly when the gauge fires. */
object BpeLifecycle {

  /** The `vocab` table is the (w, wn, pieces, n_tokens) segmentation
    * [[graft.streaming.TokenizeStreams.encodeBatch]] takes as its
    * frozen `vocab`. */
  def at(store: String): GenerationStore =
    GenerationStore(store, authority = "merges", siblings = Seq("stats", "vocab"))

  /** Train the next generation from the current corpus. Returns its
    * number. `docs` is any (…, text) document frame. */
  def retrain(docs: DataFrame, store: String): Int = {
    val s = docs.sparkSession
    val scratch = (g: Int) => s"$store/_train_g$g"
    val next = at(store).commit(s) { g =>
      ChunkingQueries.bpeTrainInto(s, docs, scratch(g))
      val vocab = s.read.parquet(s"${scratch(g)}/vocab")
      val frames: PartialFunction[String, DataFrame] = {
        case "stats" =>
          vocab.agg(sum(col("wn")).as("n_words"),
              sum(col("wn") * col("n_tokens")).as("n_bpe_tokens"))
            .select(col("n_words"), col("n_bpe_tokens"),
              expr("(1000000 * n_bpe_tokens) div n_words").as("tok_per_mword"))
        case "vocab" => vocab
        case "merges" => s.read.parquet(s"${scratch(g)}/merges")
      }
      frames
    }
    val p = new org.apache.hadoop.fs.Path(scratch(next))
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    next
  }

  /** The pointed (or pinned) generation's merge sequence in step
    * order — the driver-side tokenizer state [[graft.streaming
    * .TokenizeStreams.encodeBatch]] applies to OOV words (10 rows). */
  def merges(s: SparkSession, store: String,
             gen: Option[Int] = None): Seq[(String, String)] =
    at(store).read(s, "merges", gen)
      .orderBy("step").select("pair_a", "pair_b")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq

  /** The drift gauge's verdict, with the measured observables exposed
    * so an operator (or a test) can see WHY. */
  final case class TokDriftDecision(retrain: Boolean, reasons: Seq[String],
                                    generation: Int, oovPpm: Long,
                                    shiftPpm: Long, nWords: Long)

  /** Measure the CURRENT corpus against the pointed generation's
    * FROZEN vocabulary (never re-segmented — re-training inline is
    * exactly what the frozen-vocab contract forbids). Default
    * triggers: retrain when ≥ `oovPpm` of arriving words are OOV, or
    * when in-vocab compression moved ≥ `shiftPpm` tokens-per-million-
    * words from the training baseline. */
  def driftCheck(docs: DataFrame, store: String,
                 oovPpm: Long = 50000L,
                 shiftPpm: Long = 100000L): TokDriftDecision = {
    val s = docs.sparkSession
    val st = at(store)
    val gen = st.committed(s)
    val v = st.read(s, "vocab", Some(gen)).select(col("w"), col("n_tokens"))
    // one token explode + vocabulary-sized broadcast left join → 1 row
    val r = docs
      .select(explode(graft.functions.TextFunctions.tokens(col("text")))
        .as("w"))
      .filter(col("w") =!= "")
      .join(broadcast(v), Seq("w"), "left")
      .agg(count(lit(1)).as("n"),
        sum(when(col("n_tokens").isNull, 1L).otherwise(0L)).as("oov"),
        sum(when(col("n_tokens").isNotNull, col("n_tokens"))
          .otherwise(0L)).as("iv_tokens"))
      .collect().head
    require(!r.isNullAt(0) && r.getLong(0) > 0,
      s"driftCheck over an empty corpus against $store gen $gen — " +
        "drift against nothing is undefined, refusing to gauge")
    val n = r.getLong(0)
    val oov = 1000000L * r.getLong(1) / n
    val inVocab = n - r.getLong(1)
    val baseC = st.read(s, "stats", Some(gen)).head().getAs[Long]("tok_per_mword")
    // an all-OOV stream carries no in-vocab compression sample; the
    // OOV trigger owns that case entirely
    val shift =
      if (inVocab == 0) 0L
      else math.abs(1000000L * r.getLong(2) / inVocab - baseC)
    val reasons = Seq.newBuilder[String]
    if (oov >= oovPpm)
      reasons += s"$oov ppm of arriving words are outside the gen-$gen " +
        s"vocabulary — they degrade toward char pieces (threshold $oovPpm)"
    if (shift >= shiftPpm)
      reasons += s"in-vocab compression moved $shift tokens/Mword from " +
        s"the gen-$gen training baseline (threshold $shiftPpm)"
    val rs = reasons.result()
    TokDriftDecision(rs.nonEmpty, rs, gen, oov, shift, n)
  }

  /** Nightly maintenance entry: retrain the next generation iff the
    * drift gauge says so. Returns the decision and the new generation
    * (None when the current one still serves). */
  def maybeRetrain(docs: DataFrame, store: String,
                   oovPpm: Long = 50000L,
                   shiftPpm: Long = 100000L): (TokDriftDecision, Option[Int]) = {
    val d = driftCheck(docs, store, oovPpm, shiftPpm)
    if (d.retrain) (d, Some(retrain(docs, store)))
    else (d, None)
  }
}

/** Boilerplate-list drift → retrain lifecycle (round-19, completing
  * the frozen text-tier audit list: [[graft.streaming.CurationStreams]]
  * excises arrivals against a list trained ONCE, and its documented
  * caveat — "a segment that only BECOMES boilerplate through new
  * arrivals is not excised until the next retrain" — names the exact
  * staleness this gauge measures).
  *
  * Trained state: the one-column boilerplate segment list. Health
  * observables (the registered `q_bp_drift` gauge measures both, exact
  * integer ppm over segment INSTANCES):
  *  - NOVEL-DUP share — instances of segments carried by ≥ MinDocs
  *    distinct arriving documents that are NOT in the frozen list
  *    (boilerplate the frozen list cannot excise — the caveat,
  *    quantified);
  *  - HIT-RATE shift — the share of arriving instances the frozen
  *    list excises, vs the training-time baseline (a falling rate is
  *    the same staleness from the other side; a rising one means the
  *    arriving mix is boilerplate-heavier than the list's corpus).
  *
  * Store layout (a [[GenerationStore]], see its commit rule):
  * `<store>/bplist`, the one-column (`bseg`) list, is the AUTHORITY;
  * `<store>/stats` (1-row training baseline) is its sibling.
  *
  * The store is the list's only trainer and on-disk format:
  * [[graft.streaming.CurationStreams.boilerplateStream]] and
  * [[graft.streaming.AdmissionStreams.train]] train through [[retrain]]
  * and excise with the `bplist` table.
  *
  * Scale shape: the gauge is the list-training pass itself (one
  * segment explode + one segment-keyed hash-agg) plus a list-sized
  * left join, aggregated to one row. */
object BoilerplateLifecycle {

  def at(store: String): GenerationStore =
    GenerationStore(store, authority = "bplist", siblings = Seq("stats"))

  /** (seg, n, nd): instance count + distinct-doc count per distinct
    * segment of a (doc_id, …, text) frame — the gauge's (and the
    * trainer's) shared hash-agg. */
  private def segStats(docs: DataFrame): DataFrame =
    BoilerplateQueries.segmentsOf(docs)
      .groupBy("seg")
      .agg(count(lit(1)).as("n"), countDistinct("doc_id").as("nd"))

  /** Gauge a segment-stats frame against a boilerplate list: 1 row of
    * (n_segments, hit_segments, hit_ppm, novel_dup_segments,
    * novel_ppm) — the `q_bp_drift` output shape. */
  private def gaugeOf(cs: DataFrame, bp: DataFrame): DataFrame =
    cs.join(bp.select(col("bseg").as("seg"), lit(true).as("hit")),
        Seq("seg"), "left")
      .na.fill(false, Seq("hit"))
      .agg(sum("n").as("n_segments"),
        sum(when(col("hit"), col("n")).otherwise(0L)).as("hit_segments"),
        sum(when(col("nd") >= BoilerplateQueries.MinDocs && !col("hit"),
          col("n")).otherwise(0L)).as("novel_dup_segments"))
      .select(col("n_segments"), col("hit_segments"),
        expr("(1000000 * hit_segments) div n_segments").as("hit_ppm"),
        col("novel_dup_segments"),
        expr("(1000000 * novel_dup_segments) div n_segments").as("novel_ppm"))

  /** Train the next generation from the current corpus. Returns its
    * number. */
  def retrain(docs: DataFrame, store: String): Int = {
    val cs = segStats(docs).cache()
    try {
      val bp = cs.filter(col("nd") >= BoilerplateQueries.MinDocs)
        .select(col("seg").as("bseg"))
      at(store).commit(docs.sparkSession) { _ => {
        case "stats" => gaugeOf(cs, bp)
        case "bplist" => bp
      }}
    } finally cs.unpersist()
  }

  /** The drift gauge's verdict, with the measured observables exposed
    * so an operator (or a test) can see WHY. */
  final case class BpDriftDecision(retrain: Boolean, reasons: Seq[String],
                                   generation: Int, novelPpm: Long,
                                   hitShiftPpm: Long, nSegments: Long)

  /** Measure the CURRENT corpus against the pointed generation's
    * FROZEN list (never re-derived inline — exactly the order-
    * dependence the frozen-list contract exists to prevent). Default
    * triggers: retrain when ≥ `novelPpm` of arriving segment
    * instances belong to segments that became boilerplate WITHIN the
    * arrivals but are missing from the frozen list, or when the
    * frozen list's hit rate moved ≥ `shiftPpm` from training. */
  def driftCheck(docs: DataFrame, store: String,
                 novelPpm: Long = 10000L,
                 shiftPpm: Long = 100000L): BpDriftDecision = {
    val s = docs.sparkSession
    val st = at(store)
    val gen = st.committed(s)
    val r = gaugeOf(segStats(docs), st.read(s, "bplist", Some(gen)))
      .collect().head
    require(!r.isNullAt(0) && r.getLong(0) > 0,
      s"driftCheck over an empty corpus against $store gen $gen — " +
        "drift against nothing is undefined, refusing to gauge")
    val base = st.read(s, "stats", Some(gen)).head().getAs[Long]("hit_ppm")
    val novel = r.getAs[Long]("novel_ppm")
    val shift = math.abs(r.getAs[Long]("hit_ppm") - base)
    val reasons = Seq.newBuilder[String]
    if (novel >= novelPpm)
      reasons += s"$novel ppm of arriving segment instances are " +
        s"boilerplate WITHIN the arrivals but missing from the gen-$gen " +
        s"list — they cannot be excised until a retrain (threshold $novelPpm)"
    if (shift >= shiftPpm)
      reasons += s"the frozen list's hit rate moved $shift ppm from the " +
        s"gen-$gen training baseline (threshold $shiftPpm)"
    val rs = reasons.result()
    BpDriftDecision(rs.nonEmpty, rs, gen, novel, shift,
      r.getAs[Long]("n_segments"))
  }

  /** Nightly maintenance entry: retrain the next generation iff the
    * drift gauge says so. Returns the decision and the new generation
    * (None when the current one still serves). */
  def maybeRetrain(docs: DataFrame, store: String,
                   novelPpm: Long = 10000L,
                   shiftPpm: Long = 100000L): (BpDriftDecision, Option[Int]) = {
    val d = driftCheck(docs, store, novelPpm, shiftPpm)
    if (d.retrain) (d, Some(retrain(docs, store)))
    else (d, None)
  }
}
