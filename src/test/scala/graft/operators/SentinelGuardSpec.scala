package graft.operators

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Guard for the hand-maintained [[SentinelChecks.all]] registry
  * (round-13 verdict item 8): the artifact-vs-live byte sentinel is
  * only as good as its coverage list, and the list carries a "keep in
  * sync" comment — exactly the class of invariant that silently rots.
  *
  * This suite makes the sync structural, without running Spark: it
  * enumerates every `IndexCatalog.ensure(...)` call site in `src/main`
  * (each one mints an artifact key), extracts the key's stable prefix
  * (the part before the corpus tag), and asserts each prefix is EITHER
  * covered by a [[SentinelChecks]] entry OR listed in `exempt` below
  * with a justification of why its consumers cannot be poisoned
  * unattributably by a stale adopt. A NEW artifact (new ensure site)
  * therefore fails THIS suite until its author makes the sentinel/
  * exempt decision explicitly — the OwnersGuardSpec discipline.
  *
  * The exemption taxonomy (mirrors the [[SentinelChecks]] scaladoc):
  *  - direct-emission: a registered gate query emits the artifact's
  *    rows themselves (or a row-stable map of them), so a stale adopt
  *    reds THAT row directly and attributably — the sentinel exists
  *    for artifacts whose only gate coverage is an AGGREGATE (the
  *    tertiles class), where a red is unattributable;
  *  - bounded/keyed: consumers read a top-k slice or probe by key, so
  *    a stale tail cannot flip the gate row;
  *  - fixture: the artifact IS the source of truth (no live twin).
  */
class SentinelGuardSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  /** Artifact-key prefixes deliberately NOT sentinel-checked, each with
    * the consumer-shaped justification. */
  private val exempt: Map[String, String] = Map(
    "blob_chunks" -> "direct-emission: q_blob_chunks emits the chunk rows; q_blob_storage/grid aggregate the SAME rows the emission row pins",
    "bpe_merges" -> "direct-emission: q_bpe_merges emits the merge table itself",
    "pq" -> "model artifact consumed via q_ann_ivfpq whose ranked output is oracle-replayed end-to-end; a stale codebook reds the ANN row attributably",
    "lsh_pairs" -> "direct-emission: q_dedup_minhash_lsh emits the pair rows",
    "lsh_keep" -> "direct-emission: q_dedup_resolve emits the keep-list rows",
    "simhash_pairs" -> "direct-emission: q_dedup_simhash_pairs emits the pair rows",
    "emb_pairs" -> "direct-emission: q_dedup_embedding emits the pair rows",
    "emb_keep" -> "direct-emission: q_dedup_embedding_resolve emits the keep-list rows",
    "sem_pairs" -> "direct-emission: q_dedup_semantic emits the pair rows",
    "sem_keep" -> "direct-emission: q_dedup_semantic_resolve emits the keep-list rows",
    "sem2_pairs" -> "direct-emission: q_dedup_semantic2 emits the pair rows",
    "bench_grams" -> "direct-emission: q_text_contamination emits per-doc hits over every gram; any stale gram flips an emitted row",
    "er_labels" -> "direct-emission: q_er_clusters emits the label rows",
    "er_mb_pairs" -> "direct-emission: q_er_multiblock emits the pair rows",
    "avro_docs" -> "fixture: the avro files ARE the source of truth (no live twin)",
    "avro_vecs" -> "fixture: the avro files ARE the source of truth (no live twin)",
    "ivf" -> "model artifact consumed via q_ann_cells/q_ann_ivf whose per-cell and ranked outputs are oracle-replayed; a stale centroid reds those rows attributably",
    "communities" -> "direct-emission: q_graph_communities emits the label rows",
    "knn" -> "direct-emission: q_knn_graph emits the edge rows; q_knn_hubness aggregates the SAME edges the emission row pins",
    "img_phash" -> "direct-emission: q_mm_img_phash emits the hash rows",
    "gif_phash" -> "direct-emission: q_mm_gif_frames emits the frame rows",
    "wav_phash" -> "direct-emission: q_mm_wav_phash emits the hash rows",
    "inv" -> "bounded/keyed: postings probed by query term; collection stats are a 1-row frame recomputed in every oracle",
    "unigram" -> "direct-emission: q_unigram_vocab emits the vocabulary rows",
    "wordpiece" -> "direct-emission: q_wordpiece_vocab emits the pieces rows (oracle replays training); q_wordpiece_encode aggregates the SAME vocab segmentation the emission rows pin")

  private def readAll(p: Path): String =
    new String(Files.readAllBytes(p), "UTF-8")

  private lazy val sourceFiles: Seq[Path] = {
    val walk = Files.walk(root)
    try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq
    finally walk.close()
  }

  /** Key prefixes covered by the live sentinel registry — derived from
    * the CODE (each check's key function applied to a probe dir), never
    * a parallel hand list. */
  private lazy val covered: Set[String] = {
    val probe = "/tmp/sentinel-guard-probe"
    val tag = graft.sources.IndexCatalog.tag(probe)
    SentinelChecks.all.map { c =>
      val k = c.key(probe)
      assert(k.endsWith(s"_$tag"), s"check ${c.name}: key $k not tag-suffixed")
      k.dropRight(tag.length + 1)
    }.toSet
  }

  /** Stable prefix of an artifact-key expression: the literal before
    * the first interpolation of an `s"..."` string, resolving one or
    * two hops through same-file `val`/`def` indirection (`kk`, `key`). */
  private def keyPrefix(fileText: String, expr0: String): Option[String] = {
    val sLit = """s"([A-Za-z0-9_]+?)_\$\{""".r
    def fromLiteral(e: String): Option[String] =
      sLit.findFirstMatchIn(e).map(_.group(1))
    // RHS of `val <id> = ...` / `def <id>(...) = ...`: what follows the
    // first top-level `=`, spilling onto the next line when the `=` ends
    // its line (the `def key(...) =\n  s"..."` shape)
    def rhsOf(id: String): Option[String] = {
      val decl = ("""(?:def|val)\s+""" + java.util.regex.Pattern.quote(id) +
        """\b[^=\n]*=[ \t]*([^\n]*)\n?[ \t]*([^\n]*)""").r
      decl.findFirstMatchIn(fileText).map(m =>
        if (m.group(1).trim.nonEmpty) m.group(1) else m.group(2))
    }
    var expr = expr0.trim
    var hops = 0
    while (hops < 3) {
      fromLiteral(expr) match {
        case Some(p) => return Some(p)
        case None =>
          val id = """^([A-Za-z_][A-Za-z0-9_]*)""".r
            .findFirstMatchIn(expr).map(_.group(1)).getOrElse(return None)
          expr = rhsOf(id).getOrElse(return None)
          hops += 1
      }
    }
    None
  }

  /** All ensure-site key prefixes in one file's text, plus a count of
    * sites whose key could NOT be resolved (those must fail loudly). */
  private[operators] def ensureKeyPrefixes(
      display: String, text: String): (Seq[String], Seq[String]) = {
    val prefixes = Seq.newBuilder[String]
    val unresolved = Seq.newBuilder[String]
    var idx = text.indexOf("IndexCatalog.ensure(")
    while (idx >= 0) {
      val open = idx + "IndexCatalog.ensure".length
      // second top-level argument = the key expression
      var depth = 0; var i = open; var argStart = -1; var argEnd = -1
      var inStr = false
      while (argEnd < 0 && i < text.length) {
        val ch = text(i)
        if (inStr) { if (ch == '"' && text(i - 1) != '\\') inStr = false }
        else ch match {
          case '"' => inStr = true
          case '(' | '{' | '[' => depth += 1
          case ')' | '}' | ']' =>
            depth -= 1; if (depth == 0 && argStart >= 0) argEnd = i
          case ',' if depth == 1 =>
            if (argStart < 0) argStart = i + 1 else argEnd = i
          case _ =>
        }
        i += 1
      }
      val site = s"$display:${text.take(idx).count(_ == '\n') + 1}"
      if (argStart < 0 || argEnd < 0) unresolved += site
      else keyPrefix(text, text.substring(argStart, argEnd)) match {
        case Some(p) => prefixes += p
        case None => unresolved += site
      }
      idx = text.indexOf("IndexCatalog.ensure(", open)
    }
    (prefixes.result(), unresolved.result())
  }

  test("every ensure-site artifact key is sentinel-covered or exempt with " +
    "a justification") {
    val all = Seq.newBuilder[String]
    val unresolved = Seq.newBuilder[String]
    for (p <- sourceFiles) {
      val text = readAll(p)
      if (text.contains("IndexCatalog.ensure(")) {
        val (ps, us) = ensureKeyPrefixes(p.getFileName.toString, text)
        all ++= ps
        unresolved ++= us
      }
    }
    val prefixes = all.result()
    val us = unresolved.result()
    assert(us.isEmpty, s"ensure sites with unresolvable keys: $us — " +
      "extend keyPrefix or name the key with a same-file s-string val")
    // not vacuous: 28 sites today; a parse regression must fail loudly
    assert(prefixes.size >= 28, s"only ${prefixes.size} ensure sites " +
      "parsed — the call-site pattern changed and this guard went blind")
    val undecided = prefixes.distinct
      .filterNot(p => covered.contains(p) || exempt.contains(p))
    assert(undecided.isEmpty,
      s"artifacts with NO sentinel and NO exemption: $undecided — add a " +
        "SentinelChecks entry (full-aggregate consumers) or an exempt " +
        "row here with a justification")
    // no dead entries in either direction: a covered/exempt prefix with
    // no live ensure site is a stale row in a trust list
    val live = prefixes.toSet
    val deadExempt = exempt.keySet -- live
    assert(deadExempt.isEmpty, s"exempt entries with no ensure site: $deadExempt")
    val deadCovered = covered -- live
    assert(deadCovered.isEmpty, s"sentinel checks with no ensure site: $deadCovered")
  }

  /** Generationed LIFECYCLE stores (round-18 verdict item 7): the
    * drift→retrain lifecycles persist trained state through
    * [[graft.sources.GenerationedTable]], NOT `IndexCatalog.ensure`, so
    * the ensure-site sweep above never sees them. They are exempt from
    * byte sentinels as a CLASS, with the consumer-shaped justification
    * the taxonomy requires: a lifecycle store lives at a caller-chosen
    * path, is adopted by no catalog manifest, and is read by NO
    * registered gate query — every registered drift gauge
    * (`q_binary_drift`, `q_ivf_drift`, `q_dsir_drift`, `q_kn_drift`)
    * computes LIVE against the corpus, so a stale store cannot poison
    * a gate row. Staleness of the store itself is not a silent failure
    * mode but the very observable each lifecycle's `driftCheck`
    * measures, and each store's commit-order/single-pointer read
    * discipline is pinned by its lifecycle spec (BinaryLifecycleSpec,
    * IvfLifecycleSpec, TextLifecyclesSpec). This test makes the class
    * decision STRUCTURAL: it enumerates every table of every
    * `GenerationStore(store, authority = "...", siblings = Seq(...))`
    * declaration in src/main and fails when a new lifecycle store
    * appears that is not explicitly decided below — the author must
    * either extend the decided list (same justification holding: no
    * gate query reads it) or add a real sentinel. */
  private val decidedLifecycleDirs: Set[String] = Set(
    "BinaryLifecycle.scala/thresholds",
    "BinaryLifecycle.scala/stats",
    "BinaryLifecycle.scala/codes",
    "IvfLifecycle.scala/centroids",
    "IvfLifecycle.scala/stats",
    "TextLifecycles.scala/totals",   // DsirLifecycle authority
    "TextLifecycles.scala/buckets",
    "TextLifecycles.scala/stats",    // Dsir + Kn baselines (same rule)
    "TextLifecycles.scala/total",    // KnLifecycle authority
    "TextLifecycles.scala/bigrams",
    "TextLifecycles.scala/firsts",
    "TextLifecycles.scala/conts",
    "TextLifecycles.scala/cuts",
    "TextLifecycles.scala/merges",   // BpeLifecycle authority
    "TextLifecycles.scala/vocab",    // (its stats row is shared above)
    "TextLifecycles.scala/bplist")   // BoilerplateLifecycle authority

  /** `<file>/<table>` for every table of every [[graft.sources
    * .GenerationStore]] declaration in one file's text: the authority
    * and each quoted sibling. */
  private[operators] def storeTables(display: String, text: String): Seq[String] = {
    val decl = ("""GenerationStore\(\s*\w+\s*,\s*authority\s*=\s*"(\w+)"\s*,""" +
      """\s*siblings\s*=\s*Seq\(([^)]*)\)""").r
    val quoted = """"(\w+)"""".r
    decl.findAllMatchIn(text).toSeq.flatMap { m =>
      (m.group(1) +: quoted.findAllMatchIn(m.group(2)).map(_.group(1)).toSeq)
        .map(t => s"$display/$t")
    }
  }

  test("every generationed lifecycle store sub-table is an explicitly " +
    "decided exemption (no gate query reads one) or needs a sentinel") {
    val live = sourceFiles
      .flatMap(p => storeTables(p.getFileName.toString, readAll(p))).toSet
    // not vacuous: 16 store sub-tables today; a parse regression must
    // fail loudly rather than go blind
    assert(live.size >= 16, s"only ${live.size} lifecycle store tables " +
      "parsed — the GenerationStore declaration pattern changed")
    val undecided = live -- decidedLifecycleDirs
    assert(undecided.isEmpty,
      s"lifecycle stores with NO decision: $undecided — extend " +
        "decidedLifecycleDirs (if still no gate query reads them) or " +
        "add a SentinelChecks entry")
    val dead = decidedLifecycleDirs -- live
    assert(dead.isEmpty, s"decided lifecycle dirs with no live " +
      s"declaration: $dead — stale rows in a trust list")
  }

  test("planted probe: a new full-aggregate consumer's artifact without a " +
    "sentinel entry is flagged") {
    val probe =
      """package graft.operators
        |object ProbeAgg {
        |  def scores(s: org.apache.spark.sql.SparkSession, d: String) = {
        |    val dir = graft.sources.IndexCatalog.ensure(s,
        |      s"probe_scores_${graft.sources.IndexCatalog.tag(d)}",
        |      inputs = Seq(d), owners = Seq(ProbeAgg.getClass)) { dir =>
        |      () // builder
        |    }
        |    s.read.parquet(dir).groupBy("source").count()
        |  }
        |}
        |""".stripMargin
    val (ps, us) = ensureKeyPrefixes("Probe.scala", probe)
    assert(us.isEmpty && ps == Seq("probe_scores"), s"parse failed: $ps / $us")
    assert(!covered.contains("probe_scores") && !exempt.contains("probe_scores"),
      "the planted artifact must be neither covered nor exempt — so the " +
        "main test's undecided check would flag it")
  }

  test("planted probe: a new lifecycle store table without a decision is " +
    "flagged") {
    val probe =
      """package graft.operators
        |object ProbeLifecycle {
        |  def at(store: String): graft.sources.GenerationStore =
        |    graft.sources.GenerationStore(store, authority = "model",
        |      siblings = Seq("stats", "probe_sketch"))
        |}
        |""".stripMargin
    val tables = storeTables("ProbeLifecycle.scala", probe)
    assert(tables == Seq("ProbeLifecycle.scala/model",
      "ProbeLifecycle.scala/stats", "ProbeLifecycle.scala/probe_sketch"),
      s"parse failed: $tables")
    // a new table in a DECIDED file is flagged just the same
    val inText = storeTables("TextLifecycles.scala", probe).toSet
    assert((inText -- decidedLifecycleDirs) ==
      Set("TextLifecycles.scala/model", "TextLifecycles.scala/probe_sketch"),
      "the main test's undecided check must flag the planted tables")
  }
}
