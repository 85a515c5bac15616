package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.sources.GenerationedTable

/** Binary-threshold drift → retrain-and-repack lifecycle (round-17
  * verdict item 5: [[graft.streaming.CodeStreams]]' frozen-model
  * contract names distribution shift as the retrain trigger, but
  * nothing detected it — the [[IvfLifecycle]] pattern applied to the
  * 1-bit tier).
  *
  * The binary stack's trained state is the per-dimension midrange
  * threshold vector; its health observable is per-dimension BIT
  * BALANCE — the ppm of the corpus above each threshold (the
  * registered `q_binary_drift` gauge). A balanced dimension carries a
  * full bit of Hamming signal; a drifted corpus pushes dimensions
  * toward 0 or 10⁶ ppm, where every code agrees and the bit separates
  * nothing — Hamming shortlists silently lose recall while staying
  * bit-deterministic, which is why only a gauge can catch it.
  *
  * Store layout (all [[GenerationedTable]]s committed under ONE
  * generation number):
  *  - `<store>/thresholds` — per-dim (pos, t), the model; the
  *    generation-number AUTHORITY (readers resolve its `_LATEST`);
  *  - `<store>/stats`      — training-time per-dim balance, the drift
  *    baseline (recomputing it later is impossible: the corpus behind
  *    the path has drifted, that being the point);
  *  - `<store>/codes`      — the packed (vec_id, w0, w1) table the
  *    Hamming serving tier scans, repacked WITH each retrain so the
  *    code/threshold pair can never be mixed-generation.
  *
  * Commit order: stats → codes → thresholds. A crash before the last
  * write leaves orphan stats/codes generations, which are harmless
  * (read only via the thresholds pointer, never by their own) and are
  * overwritten by the next retrain, which re-derives the same number
  * from the unchanged thresholds dir — the [[IvfLifecycle.retrain]]
  * lockstep discipline.
  *
  * Pinned readers are undisturbed: a reader on generation g keeps
  * reading g's bytes; the streaming packer
  * ([[graft.streaming.CodeStreams]]) observes the new generation at
  * its next [[asModel]] read — the generation boundary — and a full repack
  * has already landed beside it, so post-switch arrivals extend a
  * consistent table.
  *
  * Scale shape: the gauge is one posexplode over the corpus (the
  * packing pass's own shape) aggregated to |dims| rows; repacking is
  * the packing pass itself. The only driver-side data are |dims|
  * baseline/current balance rows.
  */
object BinaryLifecycle {

  def thresholdsDir(store: String): String = s"$store/thresholds"
  def statsDir(store: String): String = s"$store/stats"
  def codesDir(store: String): String = s"$store/codes"

  /** Per-dim balance of an exploded (vec_id, pos, x) frame against a
    * per-dim (pos, t) threshold frame: (pos, n_vectors, above_n,
    * balance_ppm, dev_ppm) — integer-exact ppm, the `q_binary_drift`
    * output shape. */
  private[operators] def balanceOf(bd: DataFrame, perDim: DataFrame): DataFrame =
    bd.join(perDim, Seq("pos"))
      .groupBy("pos")
      .agg(count(lit(1)).as("n_vectors"),
        sum(when(col("x") > col("t"), 1L).otherwise(0L)).as("above_n"))
      .select(col("pos"), col("n_vectors"), col("above_n"),
        expr("1000000 * above_n div n_vectors").as("balance_ppm"),
        abs(expr("1000000 * above_n div n_vectors") - 500000).as("dev_ppm"))

  private def explodeVecs(vectors: DataFrame): DataFrame =
    vectors.select(col("vec_id"), posexplode(col("e")).as(Seq("pos", "x")))

  /** Train the next generation from the current corpus: per-dim
    * midrange thresholds, their training-time balance baseline, and a
    * FULL repack of the corpus's codes, all under one generation
    * number. Returns that number. `vectors` is (vec_id, e:
    * array<double>). */
  def retrain(vectors: DataFrame, store: String): Int = {
    val s = vectors.sparkSession
    val perDim = SimilarityQueries.binaryPerDimThresholds(vectors)
    val next = GenerationedTable.generations(s, thresholdsDir(store))
      .lastOption.getOrElse(0) + 1
    GenerationedTable.writeAs(
      balanceOf(explodeVecs(vectors), perDim), statsDir(store), next)
    GenerationedTable.writeAs(
      SimilarityQueries.packWords(vectors,
        SimilarityQueries.thresholdRowOf(perDim)),
      codesDir(store), next)
    GenerationedTable.writeAs(perDim, thresholdsDir(store), next)
    next
  }

  /** The pointed (or pinned) generation's trained per-dim thresholds. */
  def thresholds(s: SparkSession, store: String,
                 gen: Option[Int] = None): DataFrame =
    GenerationedTable.read(s, thresholdsDir(store),
      Some(gen.getOrElse(committedGeneration(s, store))))

  /** The pointed (or pinned) generation bridged to the streaming twin's
    * frozen-model type — how [[graft.streaming.CodeStreams]] packs
    * arrivals under generation `gen`. */
  def asModel(s: SparkSession, store: String,
              gen: Option[Int] = None): graft.streaming.CodeStreams.ThresholdModel =
    graft.streaming.CodeStreams.ThresholdModel(
      SimilarityQueries.thresholdRowOf(thresholds(s, store, gen)))

  /** The pointed (or pinned) generation's packed code table — what the
    * Hamming serving tier scans. An UNPINNED read resolves the
    * THRESHOLDS pointer, not the codes dir's own: retrain swings the
    * per-dir pointers in stats → codes → thresholds order, so between
    * the codes and thresholds writes the codes pointer is already at
    * gen N while the committed model is still gen N−1 — resolving the
    * codes pointer there would pair new codes with old thresholds, the
    * exact mixed-generation state the design forbids. The thresholds
    * pointer is the single commit point; orphan codes generations are
    * unreachable until it swings. */
  def codes(s: SparkSession, store: String,
            gen: Option[Int] = None): DataFrame =
    GenerationedTable.read(s, codesDir(store),
      Some(gen.getOrElse(committedGeneration(s, store))))

  /** The training-time per-dim balance baseline of the pointed (or
    * pinned) generation — same single-commit-point rule as [[codes]]. */
  def stats(s: SparkSession, store: String,
            gen: Option[Int] = None): DataFrame =
    GenerationedTable.read(s, statsDir(store),
      Some(gen.getOrElse(committedGeneration(s, store))))

  /** The store's committed generation = the thresholds pointer, the
    * ONLY pointer unpinned readers may resolve (it swings last). */
  def committedGeneration(s: SparkSession, store: String): Int =
    GenerationedTable.latest(s, thresholdsDir(store)).getOrElse(
      throw new IllegalStateException(s"$store has no trained generation"))

  /** The store's id-bearing generationed relations, for the
    * right-to-be-forgotten audit ([[graft.sources.DeleteAudit
    * .survivorsFromGenerations]]): every retained codes generation
    * carries `vec_id` rows, so a deleted vector survives in history
    * until [[graft.sources.DeleteAudit.purgeGenerations]] rewrites the
    * offending snapshots. Thresholds and stats generations are per-dim
    * AGGREGATES — no ids to melt (trained FROM deleted data but
    * referencing none, the model-vs-record distinction the audit
    * draws everywhere). */
  def auditRelations(store: String): Seq[(String, String, Seq[String])] =
    Seq(("binary_codes", codesDir(store), Seq("vec_id")))

  /** The drift gauge's verdict, with the measured per-dim extremes
    * exposed so an operator (or a test) can see WHY. */
  final case class CodeDriftDecision(retrain: Boolean, reasons: Seq[String],
                                     generation: Int, maxShiftPpm: Long,
                                     darkDims: Long, dims: Long)

  /** Measure the CURRENT corpus against the pointed generation's
    * FROZEN thresholds (never re-derived — re-thresholding is exactly
    * what the frozen-model contract forbids) and compare its per-dim
    * balance to the training-time baseline. Default triggers: retrain
    * when any dimension's balance moved ≥ `shiftPpm` from baseline
    * (the distribution slid across the frozen threshold), or when any
    * dimension went DARK that wasn't at training time (balance within
    * `darkBandPpm` of 0 or 10⁶ — the bit separates almost nothing). */
  def driftCheck(vectors: DataFrame, store: String,
                 shiftPpm: Long = 150000L,
                 darkBandPpm: Long = 50000L): CodeDriftDecision = {
    val s = vectors.sparkSession
    val gen = committedGeneration(s, store)
    val frozen = thresholds(s, store, Some(gen))
    val cur = balanceOf(explodeVecs(vectors), frozen)
      .select(col("pos"), col("balance_ppm").as("cur_ppm"))
    val base = GenerationedTable.read(s, statsDir(store), Some(gen))
      .select(col("pos"), col("balance_ppm").as("base_ppm"))
    val darkLo = darkBandPpm
    val darkHi = 1000000L - darkBandPpm
    // |dims| aggregate rows end at 1 — telemetry, not data
    val r = cur.join(base, Seq("pos"))
      .agg(max(abs(col("cur_ppm") - col("base_ppm"))).as("max_shift"),
        sum(when((col("cur_ppm") <= darkLo || col("cur_ppm") >= darkHi) &&
                 col("base_ppm") > darkLo && col("base_ppm") < darkHi,
          1L).otherwise(0L)).as("dark"),
        count(lit(1)).as("dims"))
      .collect().head
    require(!r.isNullAt(0),
      s"driftCheck over an empty corpus against $store gen $gen — " +
        "drift against nothing is undefined, refusing to gauge")
    val maxShift = r.getLong(0)
    val dark = r.getLong(1)
    val dims = r.getLong(2)
    val reasons = Seq.newBuilder[String]
    if (maxShift >= shiftPpm)
      reasons += s"a dimension's bit balance moved $maxShift ppm from " +
        s"the gen-$gen baseline (threshold $shiftPpm)"
    if (dark > 0)
      reasons += s"$dark of $dims dimensions went dark (balance within " +
        s"$darkBandPpm ppm of a constant bit) that were live at training"
    val rs = reasons.result()
    CodeDriftDecision(rs.nonEmpty, rs, gen, maxShift, dark, dims)
  }

  /** Nightly maintenance entry: retrain-and-repack the next generation
    * iff the drift gauge says so. Returns the decision and the new
    * generation (None when the current one still serves). */
  def maybeRetrain(vectors: DataFrame, store: String,
                   shiftPpm: Long = 150000L,
                   darkBandPpm: Long = 50000L): (CodeDriftDecision, Option[Int]) = {
    val d = driftCheck(vectors, store, shiftPpm, darkBandPpm)
    if (d.retrain) (d, Some(retrain(vectors, store)))
    else (d, None)
  }
}
