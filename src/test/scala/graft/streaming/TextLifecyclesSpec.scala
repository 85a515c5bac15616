package graft.streaming

import graft.{SparkSpec, Tables}
import graft.operators.{BoilerplateLifecycle, BoilerplateQueries, BpeLifecycle, DsirLifecycle, DsirQueries, KnLifecycle, LangModelQueries}
import graft.sources.GenerationedTable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The text-tier drift → retrain lifecycles (round-18 verdict item 1):
  * the [[graft.operators.BinaryLifecycle]] pattern — baseline-at-train, gauge against
  * the FROZEN model, generationed retrain with a single commit
  * pointer — applied to the two frozen text models the streaming twins
  * score with: the DSIR bucket model ([[DsirLifecycle]]) and the
  * Kneser–Ney score model ([[KnLifecycle]]). Each lifecycle is pinned
  * for: generation isolation, both drift triggers, the quiet-after-
  * retrain contract, crash-window single-commit-point reads, and the
  * handoff to its streaming twin's frozen-model type, checked against
  * a model built independently from the batch operators. */
class TextLifecyclesSpec extends SparkSpec {

  private val dstore = "/tmp/graft_dsir_retrain_store"
  private val kstore = "/tmp/graft_kn_retrain_store"

  private def cleanup(store: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(store)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
  }

  private def docs: DataFrame =
    Tables.documents(spark, sf0001).select("doc_id", "source", "text")

  /** Vocabulary drift: every token mangled with a suffix the trainer
    * never saw — all words OOV, all tokens land where the old hash
    * sends the NEW strings (bucket distribution moves too). */
  private def mangled: DataFrame =
    docs.withColumn("text",
      regexp_replace(col("text"), "(\\S+)", "$1qz"))

  /** Transition drift with the vocabulary INTACT: word order reversed
    * per document — unigrams (and hashed buckets) identical, so the
    * DSIR gauge must stay quiet, while most BIGRAMS are unseen and the
    * KN mean surprisal shifts (the backoff price) with zero word-OOV. */
  private def reversed: DataFrame =
    docs.withColumn("text",
      array_join(reverse(split(trim(col("text")), "\\s+")), " "))

  /** The DSIR model of the batch operators on sf0.001: the
    * `DsirQueries.bucketModel` counts, their totals, and the q_dsir_sample
    * cut (the weight of the 30th selected document). */
  private def batchDsir: CurationStreams.DsirModel = {
    val bt = DsirQueries.bucketModel(DsirQueries.bucketTokens(docs))
    val Row(nt: Long, nr: Long) =
      bt.agg(sum("ct").as("nt"), sum("cr").as("nr")).head()
    val cut = DsirQueries.dsirSample.run(spark, sf0001)
      .agg(min("weight_bits")).head().getLong(0)
    CurationStreams.DsirModel(bt, nt, nr, cut)
  }

  /** The KN model of the batch operators on sf0.001: the
    * `LangModelQueries.knTypeStats` frames and type total, and band
    * cutpoints from the `knScoresFrom` tertiles. */
  private def batchKn: QualityStreams.KnModel = {
    val inst = docs.select(col("doc_id"), col("source"),
      explode(graft.functions.TextFunctions.wordShingles(
        graft.functions.TextFunctions.tokens(col("text")), 2)).as("bg"))
    val st = LangModelQueries.knTypeStats(inst)
    QualityStreams.KnModel(
      bigrams = st.select("bg", "cvw"),
      firsts = st.select("v", "cv", "n1v").distinct(),
      conts = st.select("wd", "n1w").distinct(),
      t = st.count(),
      cuts = LangModelQueries.knScoresFrom(inst)
        .withColumn("b3", ntile(3).over(
          Window.partitionBy("source").orderBy("avg_ppm", "doc_id")))
        .groupBy("source")
        .agg(max(when(col("b3") === 1, col("avg_ppm"))).as("c1"),
          max(when(col("b3") <= 2, col("avg_ppm"))).as("c2")))
  }

  // ------------------------------------------------------------- DSIR

  test("dsir: retrain lands stats, buckets and totals under one " +
       "generation; the model equals the streaming twin's trainer") {
    cleanup(dstore)
    val g1 = DsirLifecycle.retrain(docs, dstore)
    assert(g1 == 1)
    // the bridge equals the batch operators' model on the same corpus
    val ref = batchDsir
    val m = DsirLifecycle.asModel(spark, dstore)
    assert(m.nt == ref.nt && m.nr == ref.nr && m.cut == ref.cut)
    val key = (df: DataFrame) => df.select("b", "ct", "cr").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(key(m.buckets) == key(ref.buckets))
    // second retrain: pinned gen-1 bytes undisturbed, pointer at 2
    val base1 = DsirLifecycle.at(dstore).read(spark, "stats", Some(1)).collect().toSet
    assert(DsirLifecycle.retrain(mangled, dstore) == 2)
    assert(DsirLifecycle.at(dstore).read(spark, "stats", Some(1)).collect().toSet == base1)
    assert(DsirLifecycle.at(dstore).committed(spark) == 2)
    cleanup(dstore)
  }

  test("dsir gauge: training corpus serves; vocabulary drift retrains; " +
       "the new baseline quiets the gauge; reversal (same unigrams) " +
       "stays quiet") {
    cleanup(dstore)
    DsirLifecycle.retrain(docs, dstore)
    val (quiet, none) = DsirLifecycle.maybeRetrain(docs, dstore)
    assert(!quiet.retrain && none.isEmpty && quiet.reasons.isEmpty,
      s"training corpus flagged as drifted: $quiet")
    assert(quiet.maxShiftPpm == 0 && quiet.novelMassPpm == 0)
    // unigram-preserving reorder: bucket distribution identical
    val rev = DsirLifecycle.driftCheck(reversed, dstore)
    assert(!rev.retrain && rev.maxShiftPpm == 0,
      s"reordered corpus (same unigrams) flagged: $rev")
    // mangled vocabulary: the hashed shares move
    val (dec, newGen) = DsirLifecycle.maybeRetrain(mangled, dstore)
    assert(dec.retrain, s"expected drift verdict, got $dec")
    assert(dec.reasons.exists(_.contains("token share moved")))
    assert(newGen.contains(2))
    val (after, none2) = DsirLifecycle.maybeRetrain(mangled, dstore)
    assert(!after.retrain && none2.isEmpty)
    cleanup(dstore)
  }

  test("dsir: a crash between the stats/buckets and totals writes " +
       "keeps unpinned reads on the committed generation") {
    cleanup(dstore)
    DsirLifecycle.retrain(docs, dstore)
    // simulate the crash window: stats+buckets gen 2 landed, totals
    // (the pointer authority) not
    GenerationedTable.writeAs(
      DsirLifecycle.at(dstore).read(spark, "buckets", Some(1)).limit(1),
      DsirLifecycle.at(dstore).dir("buckets"), 2)
    GenerationedTable.writeAs(
      DsirLifecycle.at(dstore).read(spark, "stats", Some(1)).limit(1),
      DsirLifecycle.at(dstore).dir("stats"), 2)
    assert(GenerationedTable.latest(
      spark, DsirLifecycle.at(dstore).dir("buckets")).contains(2))
    assert(DsirLifecycle.at(dstore).committed(spark) == 1)
    assert(DsirLifecycle.at(dstore).read(spark, "buckets").count() ==
      DsirLifecycle.at(dstore).read(spark, "buckets", Some(1)).count(),
      "unpinned buckets() read the orphan generation")
    assert(DsirLifecycle.driftCheck(docs, dstore).generation == 1)
    // the next retrain overwrites the orphan — no wedge
    assert(DsirLifecycle.retrain(mangled, dstore) == 2)
    assert(DsirLifecycle.at(dstore).read(spark, "buckets").count() > 1)
    cleanup(dstore)
  }

  test("dsir: the streaming twin scores identically under the bridged " +
       "generation model; driftCheck refuses an empty corpus") {
    cleanup(dstore)
    DsirLifecycle.retrain(docs, dstore)
    val ref = batchDsir
    val key = (df: DataFrame) =>
      df.select("doc_id", "weight_bits", "selected").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    val arrivals = docs.limit(50)
    assert(
      key(CurationStreams.dsirScoreFrame(arrivals,
        DsirLifecycle.asModel(spark, dstore))) ==
      key(CurationStreams.dsirScoreFrame(arrivals, ref)),
      "bridged generation model diverges from the batch model")
    val e = intercept[IllegalArgumentException] {
      DsirLifecycle.driftCheck(docs.filter(col("doc_id") < 0), dstore)
    }
    assert(e.getMessage.contains("empty corpus"))
    cleanup(dstore)
  }

  // --------------------------------------------------------------- KN

  test("kn: retrain lands the full model + baseline under one " +
       "generation; the bridge scores identically to the twin's trainer") {
    cleanup(kstore)
    val g1 = KnLifecycle.retrain(docs, kstore)
    assert(g1 == 1)
    val ref = batchKn
    val m = KnLifecycle.asModel(spark, kstore)
    assert(m.t == ref.t)
    val key = (df: DataFrame) =>
      df.select("doc_id", "kn_bits", "band").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val arrivals = docs.limit(50)
    assert(key(QualityStreams.scoreFrame(arrivals, m)) ==
      key(QualityStreams.scoreFrame(arrivals, ref)),
      "bridged generation model diverges from the batch model")
    // pinned baseline undisturbed by a retrain
    val base1 = KnLifecycle.at(kstore).read(spark, "stats", Some(1)).collect().toSet
    assert(KnLifecycle.retrain(mangled, kstore) == 2)
    assert(KnLifecycle.at(kstore).read(spark, "stats", Some(1)).collect().toSet == base1)
    assert(KnLifecycle.at(kstore).committed(spark) == 2)
    cleanup(kstore)
  }

  test("kn gauge: training corpus serves; vocabulary drift trips the " +
       "OOV trigger; transition drift (vocab intact) trips ONLY the " +
       "mean-shift trigger; retrain quiets the gauge") {
    cleanup(kstore)
    KnLifecycle.retrain(docs, kstore)
    val (quiet, none) = KnLifecycle.maybeRetrain(docs, kstore)
    assert(!quiet.retrain && none.isEmpty && quiet.reasons.isEmpty,
      s"training corpus flagged as drifted: $quiet")
    assert(quiet.oovPpm == 0 && quiet.meanShiftPpm == 0)
    // mangled vocabulary: every word unseen → OOV trigger
    val oov = KnLifecycle.driftCheck(mangled, kstore)
    assert(oov.retrain && oov.reasons.exists(_.contains("never saw")),
      s"$oov")
    assert(oov.oovPpm == 1000000L, s"all-OOV corpus measured ${oov.oovPpm}")
    // reversed word order: same vocabulary (zero word-OOV), unseen
    // transitions re-price at backoff → a mean shift with NO OOV
    // signal. The tiny test vocabulary keeps most reversed bigrams
    // in-model, so the shift is real but modest — isolate the trigger
    // with an explicit threshold (the BinaryLifecycleSpec discipline);
    // the measurement itself is exact-integer deterministic.
    val rev = KnLifecycle.driftCheck(reversed, kstore, shiftPpm = 20000L)
    assert(rev.oovPpm == 0, s"reversal invented OOV words: $rev")
    assert(rev.meanShiftPpm > 0, s"reversal priced identically: $rev")
    assert(rev.retrain && rev.reasons.exists(_.contains("mean surprisal")),
      s"transition drift not caught: $rev")
    // retrain on the drifted corpus quiets the gauge AT THE SAME
    // thresholds that tripped it
    val (dec, newGen) =
      KnLifecycle.maybeRetrain(reversed, kstore, shiftPpm = 20000L)
    assert(dec.retrain && newGen.contains(2))
    val (after, none2) =
      KnLifecycle.maybeRetrain(reversed, kstore, shiftPpm = 20000L)
    assert(!after.retrain && none2.isEmpty, s"$after")
    cleanup(kstore)
  }

  test("kn: a crash before the type-total write keeps unpinned reads " +
       "on the committed generation; empty corpus refused") {
    cleanup(kstore)
    KnLifecycle.retrain(docs, kstore)
    GenerationedTable.writeAs(
      KnLifecycle.at(kstore).read(spark, "stats", Some(1)),
      KnLifecycle.at(kstore).dir("stats"), 2)
    GenerationedTable.writeAs(
      spark.range(1).select(lit(0L).as("bg_fake")),
      KnLifecycle.at(kstore).dir("bigrams"), 2)
    assert(GenerationedTable.latest(
      spark, KnLifecycle.at(kstore).dir("bigrams")).contains(2))
    assert(KnLifecycle.at(kstore).committed(spark) == 1)
    // unpinned gauge + bridge still read the committed gen-1 model
    assert(KnLifecycle.driftCheck(docs, kstore).generation == 1)
    assert(KnLifecycle.asModel(spark, kstore).bigrams.columns.contains("bg"))
    // next retrain overwrites the orphans — no wedge
    assert(KnLifecycle.retrain(reversed, kstore) == 2)
    assert(KnLifecycle.asModel(spark, kstore, Some(2))
      .bigrams.columns.contains("bg"))
    val e = intercept[IllegalArgumentException] {
      KnLifecycle.driftCheck(docs.filter(col("doc_id") < 0), kstore)
    }
    assert(e.getMessage.contains("empty corpus"))
    cleanup(kstore)
  }

  // -------------------------------------------------------------- BPE

  private val tstore = "/tmp/graft_bpe_retrain_store"

  test("bpe: retrain equals the artifact trainer on the same corpus; " +
       "pinned generations undisturbed; encodeBatch parity through the " +
       "generation bridge") {
    cleanup(tstore)
    val g1 = BpeLifecycle.retrain(docs, tstore)
    assert(g1 == 1)
    // same training loop as the catalog artifact: vocab + merges equal
    val key = (df: DataFrame) => df.select("w", "n_tokens").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    // the catalog artifact's merge sequence in step order
    val artifactMerges =
      graft.operators.ChunkingQueries.bpeMergeTable(spark, sf0001)
        .orderBy("step").select("pair_a", "pair_b")
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(key(BpeLifecycle.at(tstore).read(spark, "vocab")) ==
      key(graft.operators.ChunkingQueries.bpeVocab(spark, sf0001)
        .select(col("w"), col("n_tokens"))),
      "lifecycle gen-1 vocab != bpe artifact vocab")
    assert(BpeLifecycle.merges(spark, tstore) == artifactMerges,
      "lifecycle gen-1 merges != artifact merge sequence")
    // the streaming encoder under the bridged generation model equals
    // the artifact-model encode on the same arrivals
    val arrivals = docs.limit(50).select("doc_id", "text")
    val d1 = s"$tstore/_enc_gen"
    val d2 = s"$tstore/_enc_art"
    TokenizeStreams.encodeBatch(arrivals, 0L,
      BpeLifecycle.at(tstore).read(spark, "vocab"),
      BpeLifecycle.merges(spark, tstore), d1)
    TokenizeStreams.encodeBatch(arrivals, 0L,
      graft.operators.ChunkingQueries.bpeVocab(spark, sf0001),
      artifactMerges, d2)
    val enc = (dd: String) => TokenizeStreams.encoded(spark, dd).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(enc(d1) == enc(d2), "generation-bridged encode diverges")
    // a retrain on a drifted corpus leaves gen 1 byte-identical
    val v1 = key(BpeLifecycle.at(tstore).read(spark, "vocab", Some(1)))
    assert(BpeLifecycle.retrain(mangled, tstore) == 2)
    assert(key(BpeLifecycle.at(tstore).read(spark, "vocab", Some(1))) == v1)
    assert(BpeLifecycle.at(tstore).committed(spark) == 2)
    cleanup(tstore)
  }

  test("bpe gauge: training corpus serves; vocabulary drift trips the " +
       "OOV trigger; an in-vocab mix shift trips ONLY the compression " +
       "trigger; retrain quiets the gauge at the tripping thresholds") {
    cleanup(tstore)
    BpeLifecycle.retrain(docs, tstore)
    val (quiet, none) = BpeLifecycle.maybeRetrain(docs, tstore)
    assert(!quiet.retrain && none.isEmpty && quiet.reasons.isEmpty,
      s"training corpus flagged as drifted: $quiet")
    assert(quiet.oovPpm == 0 && quiet.shiftPpm == 0)
    // mangled vocabulary: every word unseen → OOV trigger at 10⁶ ppm
    val oov = BpeLifecycle.driftCheck(mangled, tstore)
    assert(oov.retrain && oov.oovPpm == 1000000L &&
      oov.reasons.exists(_.contains("outside the gen-1 vocabulary")),
      s"$oov")
    // in-vocab mix shift: each doc reduced to its FIRST word only —
    // zero OOV, but the word mix (and so the frozen segmentation's
    // tokens-per-word) moves; isolate with an explicit threshold (the
    // measurement is exact-integer deterministic)
    val firstWord = docs.withColumn("text",
      regexp_extract(trim(col("text")), "^(\\S+)", 1))
    val mix = BpeLifecycle.driftCheck(firstWord, tstore, shiftPpm = 1000L)
    assert(mix.oovPpm == 0, s"first-word slice invented OOV words: $mix")
    assert(mix.shiftPpm > 0, s"first-word mix priced identically: $mix")
    assert(mix.retrain && mix.reasons.exists(_.contains("compression")),
      s"compression drift not caught: $mix")
    // retrain on the drifted corpus quiets the gauge AT THE SAME
    // thresholds that tripped it
    val (dec, newGen) =
      BpeLifecycle.maybeRetrain(firstWord, tstore, shiftPpm = 1000L)
    assert(dec.retrain && newGen.contains(2))
    val (after, none2) =
      BpeLifecycle.maybeRetrain(firstWord, tstore, shiftPpm = 1000L)
    assert(!after.retrain && none2.isEmpty, s"$after")
    cleanup(tstore)
  }

  test("bpe: a crash before the merges write keeps unpinned reads on " +
       "the committed generation; empty corpus refused; all-OOV stream " +
       "gauges by share alone") {
    cleanup(tstore)
    BpeLifecycle.retrain(docs, tstore)
    GenerationedTable.writeAs(
      BpeLifecycle.at(tstore).read(spark, "vocab", Some(1)).limit(1),
      BpeLifecycle.at(tstore).dir("vocab"), 2)
    assert(GenerationedTable.latest(
      spark, BpeLifecycle.at(tstore).dir("vocab")).contains(2))
    assert(BpeLifecycle.at(tstore).committed(spark) == 1)
    assert(BpeLifecycle.at(tstore).read(spark, "vocab").count() ==
      BpeLifecycle.at(tstore).read(spark, "vocab", Some(1)).count(),
      "unpinned vocab() read the orphan generation")
    // next retrain overwrites the orphan — no wedge
    assert(BpeLifecycle.retrain(mangled, tstore) == 2)
    assert(BpeLifecycle.at(tstore).read(spark, "vocab").count() > 1)
    // an all-OOV stream (gauged against gen 2 = mangled vocab, fed the
    // ORIGINAL corpus) has no in-vocab compression sample: the share
    // trigger owns the verdict, shift reads 0 instead of dividing by 0
    val allOov = BpeLifecycle.driftCheck(docs, tstore)
    assert(allOov.oovPpm == 1000000L && allOov.shiftPpm == 0 &&
      allOov.retrain, s"$allOov")
    val e = intercept[IllegalArgumentException] {
      BpeLifecycle.driftCheck(docs.filter(col("doc_id") < 0), tstore)
    }
    assert(e.getMessage.contains("empty corpus"))
    cleanup(tstore)
  }

  // ------------------------------------------------------ boilerplate

  private val bstore = "/tmp/graft_bp_retrain_store"

  test("boilerplate: retrain equals the streaming twin's trainer; " +
       "pinned generations undisturbed; excision parity through the " +
       "generation bridge") {
    cleanup(bstore)
    assert(BoilerplateLifecycle.retrain(docs, bstore) == 1)
    val ref = BoilerplateQueries.boilerplateOf(
      BoilerplateQueries.segmentsOf(docs))
    val key = (df: DataFrame) =>
      df.select("bseg").collect().map(_.getString(0)).toSet
    assert(key(BoilerplateLifecycle.at(bstore).read(spark, "bplist")) == key(ref),
      "lifecycle gen-1 list != the batch boilerplate list")
    // excision under the bridged list equals excision under the batch list
    val seg = BoilerplateQueries.segmentsOf(docs.limit(50))
    val exKey = (bp: DataFrame) =>
      BoilerplateQueries.exciseFrom(seg, bp)
        .select("doc_id", "segs_removed", "words_kept").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(exKey(BoilerplateLifecycle.at(bstore).read(spark, "bplist")) == exKey(ref))
    // a retrain on drifted arrivals leaves gen 1 byte-identical
    val l1 = key(BoilerplateLifecycle.at(bstore).read(spark, "bplist", Some(1)))
    assert(BoilerplateLifecycle.retrain(mangled, bstore) == 2)
    assert(key(BoilerplateLifecycle.at(bstore).read(spark, "bplist", Some(1))) == l1)
    assert(BoilerplateLifecycle.at(bstore).committed(spark) == 2)
    cleanup(bstore)
  }

  test("boilerplate gauge: training corpus serves; an 8-word header " +
       "flood trips the novel-dup trigger; a vocabulary swap trips the " +
       "hit-rate trigger; retrain quiets at the tripping thresholds") {
    cleanup(bstore)
    BoilerplateLifecycle.retrain(docs, bstore)
    val (quiet, none) = BoilerplateLifecycle.maybeRetrain(docs, bstore)
    assert(!quiet.retrain && none.isEmpty && quiet.reasons.isEmpty,
      s"training corpus flagged as drifted: $quiet")
    assert(quiet.novelPpm == 0 && quiet.hitShiftPpm == 0)
    // a new 8-word header on EVERY doc: boilerplate within the
    // arrivals, missing from the frozen list; exactly 8 words keeps
    // every later segment boundary aligned, isolating the novel signal
    val flooded = docs.withColumn("text",
      concat(lit("aq bq cq dq eq fq gq hq "), col("text")))
    val nv = BoilerplateLifecycle.driftCheck(flooded, bstore,
      shiftPpm = Long.MaxValue)
    assert(nv.retrain && nv.novelPpm > 0 &&
      nv.reasons.exists(_.contains("missing from the gen-1")), s"$nv")
    // mangled vocabulary: the frozen list matches nothing — the hit
    // rate collapses to 0, shift = the whole training baseline
    val sh = BoilerplateLifecycle.driftCheck(mangled, bstore,
      novelPpm = Long.MaxValue, shiftPpm = 1000L)
    assert(sh.retrain && sh.reasons.exists(_.contains("hit rate moved")),
      s"$sh")
    // retrain on the flooded corpus quiets the gauge at the same
    // thresholds: the header is now IN the list
    val (dec, newGen) = BoilerplateLifecycle.maybeRetrain(
      flooded, bstore, shiftPpm = Long.MaxValue)
    assert(dec.retrain && newGen.contains(2))
    val (after, none2) = BoilerplateLifecycle.maybeRetrain(
      flooded, bstore, shiftPpm = Long.MaxValue)
    assert(!after.retrain && none2.isEmpty, s"$after")
    cleanup(bstore)
  }

  test("boilerplate: a crash before the list write keeps unpinned " +
       "reads on the committed generation; empty corpus refused") {
    cleanup(bstore)
    BoilerplateLifecycle.retrain(docs, bstore)
    GenerationedTable.writeAs(
      BoilerplateLifecycle.at(bstore).read(spark, "stats", Some(1)),
      BoilerplateLifecycle.at(bstore).dir("stats"), 2)
    assert(GenerationedTable.latest(
      spark, BoilerplateLifecycle.at(bstore).dir("stats")).contains(2))
    assert(BoilerplateLifecycle.at(bstore).committed(spark) == 1)
    assert(BoilerplateLifecycle.driftCheck(docs, bstore).generation == 1)
    assert(BoilerplateLifecycle.retrain(mangled, bstore) == 2)
    assert(BoilerplateLifecycle.at(bstore).committed(spark) == 2)
    val e = intercept[IllegalArgumentException] {
      BoilerplateLifecycle.driftCheck(docs.filter(col("doc_id") < 0), bstore)
    }
    assert(e.getMessage.contains("empty corpus"))
    cleanup(bstore)
  }
}
