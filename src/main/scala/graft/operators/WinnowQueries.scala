package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.sources.IndexCatalog
import graft.functions.TextFunctions._

/** Robust winnowing fingerprints (Schleimer, Wilkerson & Aiken 2003,
  * "Winnowing: Local Algorithms for Document Fingerprinting" — the MOSS
  * algorithm): hash every k-word shingle, slide a window of w
  * consecutive shingle hashes over each document, and select the MINIMUM
  * hash per window (ties → rightmost occurrence). The selected set is
  * the document's fingerprint, with two properties the MinHash/SimHash
  * family cannot give:
  *
  *  - POSITIONAL guarantee: any shared run of at least w + k − 1 words
  *    between two documents selects at least one common fingerprint —
  *    detection is certain, not probabilistic (the LSH band contract is
  *    only a collision probability);
  *  - LOCALITY: a fingerprint pins the match to a word position, so a
  *    hit is directly actionable (excise/attribute), where a MinHash
  *    collision only says "somewhere".
  *
  * Density is bounded by the winnowing theorem at ~2/(w+1) of windows,
  * so the fingerprint tier is a FIXED FRACTION of the corpus gram count
  * — the property that makes the index affordable at 100 TB where
  * storing all positional grams ([[DedupQueries.substringShare]]'s
  * working set) would not be.
  *
  * Engine-exactness: the shingle hash is the md5-u32 idiom (domain tag
  * `wn|`), and the rightmost-tie-break min is ONE window `min` over the
  * combined key `hash·2²⁰ + (2²⁰−1−pos)` — monotone in (hash, −pos), so
  * both engines select the identical fingerprint set with no argmax
  * gymnastics. All windows are partitioned by doc_id (never global).
  *
  * Scale shape: one scan → per-doc window min (shuffle on doc_id) →
  * distinct. Match detection is the LSH-style bucket join on the
  * fingerprint hash with the family's bucket cap ([[WinnowMaxBucket]],
  * same guard class as [[DedupQueries.LshMaxBucket]]): a boilerplate
  * fingerprint shared by millions of docs is excluded from pair
  * generation (telemetry-visible) instead of going quadratic. */
object WinnowQueries {

  /** Shingle width (words). Smaller than [[DedupQueries.SubstringK]] on
    * purpose: winnowing's guarantee threshold is t = k + w − 1 words, so
    * k = 4, w = 4 detects any shared run of ≥ 7 words. */
  private[graft] final val WinnowK = 4

  /** Window width (shingle hashes per window). */
  private[graft] final val WinnowW = 4

  /** Minimum shared fingerprints for a reported match — one shared
    * fingerprint is a 7-word overlap (often idiom); three distinct
    * fingerprints is the MOSS-style report threshold. */
  private[graft] final val MatchMin = 3

  /** Fingerprint-bucket cap, same guard class as
    * [[DedupQueries.LshMaxBucket]]: buckets above the cap are excluded
    * from pair generation (work bounded at cap²/2 per bucket) and
    * recall degrades only for the dropped boilerplate fingerprint —
    * the pair usually still meets [[MatchMin]] through its other
    * shared fingerprints. Replayed verbatim in the oracle. */
  private[graft] final val WinnowMaxBucket = 500

  /** Partners kept per document by the bounded serving surface
    * (`q_winnow_matches_topk`) — the kNN top-3 discipline: output is
    * ≤ MatchTopK rows per doc at ANY near-dup density (r11 verdict
    * item 5: the unbounded pair set is output-quadratic in replica
    * density; the bound makes the serving worst case contractual).
    * The dropped tail is per-doc telemetry (`q_winnow_partners`). */
  private[graft] final val MatchTopK = 3

  /** Position packing: key = hash·2²⁰ + (2²⁰−1−pos). 2²⁰ words bounds
    * the per-doc position (docs here are ~60 words; a 100 TB corpus
    * pre-chunks anything longer); u32 hash · 2²⁰ tops out at 2⁵² —
    * exact in a BIGINT/Long in both engines. */
  private final val PosSpan = 1048576L

  private val W = """string_split_regex(trim(text), '\s+')"""

  /** DuckDB: first 8 hex chars of md5 expression `m` as an integer
    * (the SampleQueries digit-arithmetic fragment). */
  private def hexU8(m: String): String =
    (1 to 8).map(i =>
      s"(strpos('0123456789abcdef', ($m)[$i]) - 1) * ${math.pow(16, 8 - i).toLong}")
      .mkString("(", " + ", ")")

  /** Shared DuckDB CTEs: positional shingles → packed keys → window min
    * → the distinct selected fingerprint set (doc_id, fkey), plus the
    * per-doc gram/window counts. */
  private val selCtes =
    s"""t AS (SELECT doc_id, $W AS w FROM documents),
       |s AS (
       |  SELECT doc_id,
       |    [array_to_string(w[i:i+${WinnowK - 1}], ' ')
       |     for i in range(1, len(w) - ${WinnowK - 2})] AS sh
       |  FROM t
       |), g AS (
       |  SELECT doc_id, len(sh) AS ng,
       |    generate_subscripts(sh, 1) - 1 AS pos, unnest(sh) AS gr
       |  FROM s
       |), k AS (
       |  SELECT doc_id, ng, pos,
       |    ${hexU8("md5('wn|' || gr)")} * $PosSpan
       |      + (${PosSpan - 1} - pos) AS key
       |  FROM g
       |), wmin AS (
       |  SELECT doc_id, ng, pos,
       |    min(key) OVER (PARTITION BY doc_id ORDER BY pos
       |                   ROWS BETWEEN CURRENT ROW
       |                   AND ${WinnowW - 1} FOLLOWING) AS fkey
       |  FROM k
       |), sel AS (
       |  SELECT DISTINCT doc_id, fkey FROM wmin
       |  WHERE pos <= ng - $WinnowW
       |)""".stripMargin

  /** Raw window-min selections (doc_id, fkey), WITH the re-selection
    * duplicates consecutive windows produce — consumers dedupe at
    * their own grain (a countDistinct agg or an explicit distinct),
    * which costs one exchange instead of this frame's distinct PLUS
    * theirs. fkey = hash·2²⁰ + (2²⁰−1−pos). */
  private def selectedRaw(docs: org.apache.spark.sql.DataFrame) = {
    val grams = docs
      .select(col("doc_id"), wordShingles(tokens(col("text")), WinnowK).as("sh"))
      .select(col("doc_id"), size(col("sh")).as("ng"),
        posexplode(col("sh")).as(Seq("pos", "gr")))
    val keyed = grams.withColumn("key",
      conv(substring(md5(concat(lit("wn|"), col("gr"))), 1, 8), 16, 10)
        .cast("long") * PosSpan + (lit(PosSpan - 1) - col("pos")))
    val win = Window.partitionBy("doc_id").orderBy("pos")
      .rowsBetween(0, WinnowW - 1)
    keyed
      .withColumn("fkey", min("key").over(win))
      .filter(col("pos") <= col("ng") - WinnowW)
      .select("doc_id", "fkey")
  }

  /** Spark frame of selected fingerprints: (doc_id, fkey) distinct.
    * Shared by the spec and the streaming twin — the selection is
    * STATELESS per document, which is what makes the streaming twin
    * exact. */
  private[graft] def selected(docs: org.apache.spark.sql.DataFrame) =
    selectedRaw(docs).distinct()

  /** The persisted fingerprint artifact (doc_id, fh, pos), distinct,
    * BUCKETED ON fh — fingerprinting the corpus is a train-once pass
    * (the [[graft.sources.IndexCatalog]] discipline every other dedup
    * family follows), and bucketing on the hash makes the match
    * bucket-count, the pair self-join, and the span attribution joins
    * all bucket-local (no Exchange on the fingerprint side).
    * `q_winnow_fingerprint` deliberately stays LIVE — it is the
    * construction-shape query the plan sweep guards. */
  private[graft] def fingerprintTable(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    import graft.sources.IndexCatalog
    val key = s"winnow_fp_${IndexCatalog.tag(d)}"
    val table = IndexCatalog.tableName(key)
    IndexCatalog.ensure(s, key, inputs = Seq(d),
      owners = Seq(WinnowQueries.getClass, graft.Tables.getClass,
        graft.functions.TextFunctions.getClass,
        graft.plans.WordShingles.getClass)) { dir =>
      IndexCatalog.persistBucketedTable(fingerprintLive(s, d),
        dir, table, 8, Seq("fh"), Seq("doc_id"), idCols = Seq("doc_id"))
    }
    s.table(table)
  }

  /** The live (doc_id, fh, pos) fingerprint plan the artifact persists —
    * shared by the builder and the [[graft.sources.ArtifactSentinel]]
    * recompute (the whole winnow chain roots here, so a stale fp table
    * would poison topk/partners while agreeing with THEIR live plans). */
  private[graft] def fingerprintLive(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame =
    selected(Tables.documents(s, d))
      .select(col("doc_id"), expr(s"fkey div ${PosSpan}L").as("fh"),
        expr(s"${PosSpan - 1}L - fkey % ${PosSpan}L").as("pos"))

  /** Per-document fingerprint profile: gram/window/fingerprint counts
    * and the selection density (floor-percent of windows) — the
    * winnowing theorem puts expected density at ~2/(w+1) of windows for
    * hash-diverse text. The rightmost tie-break makes a CONSTANT-hash
    * run select every window's own last position (density → 100%), so a
    * density spike is a repetition signal, not an index bug — the
    * repetition gates (`q_text_repetition`, the Gopher rules) clean
    * those docs upstream, exactly as MOSS assumes lexed input. Docs
    * shorter than k + w − 1 words have no full window and ship zeros —
    * the honest contract (winnowing has no guarantee below the
    * threshold). */
  val fingerprints = Q(
    "q_winnow_fingerprint",
    s"""WITH $selCtes,
       |f AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_fp FROM sel GROUP BY doc_id
       |), base AS (
       |  SELECT doc_id, CAST(len(w) AS BIGINT) AS n_words,
       |    CAST(greatest(len(w) - ${WinnowK - 1}, 0) AS BIGINT) AS n_grams,
       |    CAST(greatest(len(w) - ${WinnowK + WinnowW - 2}, 0) AS BIGINT) AS n_windows
       |  FROM t
       |)
       |SELECT b.doc_id, b.n_words, b.n_grams, b.n_windows,
       |  coalesce(f.n_fp, 0) AS n_fp,
       |  CASE WHEN b.n_windows > 0
       |       THEN (coalesce(f.n_fp, 0) * 100) // b.n_windows
       |       ELSE 0 END AS density_pct
       |FROM base b LEFT JOIN f USING (doc_id)
       |ORDER BY b.doc_id""".stripMargin) { (s, d) =>
    val docs = Tables.documents(s, d)
    val f = selectedRaw(docs).groupBy("doc_id")
      .agg(countDistinct(col("fkey")).as("n_fp"))
    val base = docs
      .select(col("doc_id"), size(tokens(col("text"))).cast("long").as("n_words"))
      .select(col("doc_id"), col("n_words"),
        greatest(col("n_words") - (WinnowK - 1), lit(0L)).as("n_grams"),
        greatest(col("n_words") - (WinnowK + WinnowW - 2), lit(0L)).as("n_windows"))
    base.join(f, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"), col("n_grams"), col("n_windows"),
        coalesce(col("n_fp"), lit(0L)).as("n_fp"),
        when(col("n_windows") > 0,
          (coalesce(col("n_fp"), lit(0L)) * 100) / col("n_windows"))
          .otherwise(lit(0L)).cast("long").as("density_pct"))
      .orderBy("doc_id")
  }

  /** Distinct (doc_id, fh) fingerprint-HASH set of a document frame —
    * position stripped. Shared by [[matches]], the spec, and the
    * streaming twin. */
  private[graft] def fingerprintHashes(docs: org.apache.spark.sql.DataFrame) =
    selectedRaw(docs)
      .select(col("doc_id"), expr(s"fkey div ${PosSpan}L").as("fh"))
      .distinct()

  /** Shared oracle CTE chain through the thresholded pair set `thr`:
    * selections → distinct hashes → capped buckets → pairs → MatchMin
    * threshold. Reused by matches / top-k / partner-telemetry / spans. */
  private val pairCtes =
    s"""$selCtes,
       |fp AS (SELECT DISTINCT doc_id, fkey // $PosSpan AS fh FROM sel),
       |bk AS (SELECT fh, count(*) AS n FROM fp GROUP BY fh),
       |ok AS (SELECT fh FROM bk WHERE n BETWEEN 2 AND $WinnowMaxBucket),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |    CAST(count(*) AS BIGINT) AS n_shared
       |  FROM fp a JOIN fp b ON a.fh = b.fh AND a.doc_id < b.doc_id
       |  JOIN ok ON ok.fh = a.fh
       |  GROUP BY 1, 2
       |),
       |thr AS (SELECT doc_a, doc_b, n_shared FROM pairs
       |        WHERE n_shared >= $MatchMin)""".stripMargin

  /** Directed symmetric view of `thr` (each pair once per endpoint). */
  private val symCte =
    """sym AS (SELECT doc_a AS doc_id, doc_b AS partner, n_shared FROM thr
      |        UNION ALL
      |        SELECT doc_b, doc_a, n_shared FROM thr)""".stripMargin

  /** Spark pair frame (doc_a, doc_b, n_shared), unordered — served from
    * the persisted fingerprint artifact: the distinct, the bucket
    * count, and the pair self-join are all clustered on fh, so none of
    * them exchanges the fingerprint side. */
  private[graft] def matchPairs(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val fp = fingerprintTable(s, d).select("doc_id", "fh").distinct()
    val ok = fp.groupBy("fh").agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2 && col("n") <= WinnowMaxBucket)
      .select("fh")
    val keyed = fp.join(ok, Seq("fh"))
    keyed.as("a")
      .join(keyed.as("b"),
        col("a.fh") === col("b.fh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= MatchMin)
  }

  /** Directed symmetric view of a (doc_a, doc_b, n_shared) pair frame —
    * shared by the artifact build and the stream twin's view. */
  private[graft] def symOf(p: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    p.select(col("doc_a").as("doc_id"), col("doc_b").as("partner"),
        col("n_shared"))
      .unionByName(p.select(col("doc_b").as("doc_id"),
        col("doc_a").as("partner"), col("n_shared")))

  /** The top-[[MatchTopK]] rank rule over a directed symmetric frame —
    * ONE definition (shared count desc, partner id asc) so the batch
    * artifact and the stream view can never drift on the tie-break the
    * parity spec pins. */
  private[graft] def topkOf(sym: org.apache.spark.sql.DataFrame,
                            k: Int = MatchTopK): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy("doc_id")
      .orderBy(col("n_shared").desc, col("partner"))
    sym.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("doc_id", "partner", "n_shared", "rank")
  }

  /** Per-doc partner telemetry over a directed symmetric pair frame —
    * the artifact's `partners` relation, shared by the builder and the
    * [[graft.sources.ArtifactSentinel]] live recompute. */
  private[graft] def partnersOf(
      sym: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    sym.groupBy("doc_id")
      .agg(count(lit(1)).as("n_partners"))
      .select(col("doc_id"), col("n_partners"),
        least(col("n_partners"), lit(MatchTopK.toLong)).as("n_kept"),
        greatest(col("n_partners") - MatchTopK, lit(0L)).as("n_dropped"))

  /** The persisted MATCH-GRAPH artifact — the idx_knn discipline at the
    * winnow tier: pair generation is a train-once pass over the
    * fingerprint artifact (its worst case is contractual — the bucket
    * cap bounds per-bucket pair work at cap²/2, so total build work is
    * corpus-LINEAR once buckets saturate), and both serving surfaces
    * read stored relations: `topk` (each doc's top-[[MatchTopK]]
    * partners, directed) and `partners` (the unbounded per-doc partner
    * telemetry). Built in ONE pair computation; both relations declare
    * their doc ids for the delete audit. */
  private[graft] def topkDir(
      s: org.apache.spark.sql.SparkSession, d: String): String = {
    import graft.sources.IndexCatalog
    IndexCatalog.ensure(s, s"winnow_topk_${IndexCatalog.tag(d)}",
      inputs = Seq(d),
      owners = Seq(WinnowQueries.getClass, graft.Tables.getClass,
        graft.functions.TextFunctions.getClass,
        graft.plans.WordShingles.getClass)) { dir =>
      // one pair computation feeds both relations: cache, write, release
      val sym = symOf(matchPairs(s, d)).cache()
      try {
        topkOf(sym)
          .write.mode("overwrite").parquet(s"$dir/topk")
        IndexCatalog.declareIds("path", "topk", Seq("doc_id", "partner"))
        partnersOf(sym)
          .write.mode("overwrite").parquet(s"$dir/partners")
        IndexCatalog.declareIds("path", "partners", Seq("doc_id"))
      } finally sym.unpersist()
    }
  }

  /** Document pairs sharing ≥ [[MatchMin]] distinct fingerprint HASHES
    * (position stripped — the same span at different offsets still
    * matches, the plagiarism/mirror-detection semantics). Pair
    * generation is the capped bucket join: fingerprints collapse to
    * distinct (doc, hash), hash buckets of 2..[[WinnowMaxBucket]] docs
    * self-join, shared-hash counts filter at the threshold.
    *
    * OUTPUT CONTRACT (r11 verdict item 5): this is the UNBOUNDED pair
    * set — its row count grows with the square of near-dup density
    * within the bucket cap (the 30× smoke measured e≈1.46, provably
    * output-bound), which a monitoring tier should read as telemetry
    * ([[partnerStats]] summarizes it per doc). The bounded serving
    * surface is [[matchesTopK]]. */
  val matches = Q(
    "q_winnow_matches",
    s"""WITH $pairCtes
       |SELECT doc_a, doc_b, n_shared FROM thr
       |ORDER BY doc_a, doc_b""".stripMargin) { (s, d) =>
    matchPairs(s, d).orderBy("doc_a", "doc_b")
  }

  /** Bounded partners per document — the kNN top-3 discipline
    * ([[MatchTopK]]): each doc emits its top-K partners by shared
    * count (partner id tie-break), as a DIRECTED frame (doc_id,
    * partner, n_shared, rank). Output is ≤ K rows per document BY
    * CONSTRUCTION — a replica-dense corpus (every doc near-duplicating
    * hundreds of others) emits corpus-LINEAR rows where [[matches]]
    * grows with density² — and single-linkage connectivity survives
    * (every doc links to its best partner, so a copier cluster stays
    * one component when the directed edges are unioned). The dropped
    * tail is visible per doc in [[partnerStats]], never silent.
    * Served from the persisted match-graph artifact ([[topkDir]]) —
    * warm serving is a bounded read, never a pair recomputation. */
  val matchesTopK = Q(
    "q_winnow_matches_topk",
    s"""WITH $pairCtes,
       |$symCte,
       |rk AS (SELECT doc_id, partner, n_shared,
       |         row_number() OVER (PARTITION BY doc_id
       |                            ORDER BY n_shared DESC, partner) AS rank
       |       FROM sym)
       |SELECT doc_id, partner, n_shared, CAST(rank AS BIGINT) AS rank
       |FROM rk WHERE rank <= $MatchTopK
       |ORDER BY doc_id, rank""".stripMargin) { (s, d) =>
    IndexCatalog.read(s, topkDir(s, d), "topk")
      .select("doc_id", "partner", "n_shared", "rank")
      .orderBy("doc_id", "rank")
  }

  /** Per-document partner telemetry: the unbounded partner count and
    * how many rows the [[MatchTopK]] bound keeps vs drops — the
    * monitoring surface that makes the top-k truncation visible
    * instead of silent (the no-silent-caps rule). Served from the
    * persisted match-graph artifact. */
  val partnerStats = Q(
    "q_winnow_partners",
    s"""WITH $pairCtes,
       |$symCte
       |SELECT doc_id, n_partners,
       |  least(n_partners, $MatchTopK) AS n_kept,
       |  greatest(n_partners - $MatchTopK, 0) AS n_dropped
       |FROM (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_partners
       |      FROM sym GROUP BY doc_id)
       |ORDER BY doc_id""".stripMargin) { (s, d) =>
    IndexCatalog.read(s, topkDir(s, d), "partners")
      .select("doc_id", "n_partners", "n_kept", "n_dropped")
      .orderBy("doc_id")
  }

  /** Fingerprint bucket-size HISTOGRAM — the telemetry twin of the
    * [[WinnowMaxBucket]] guard (round-17 verdict item 8: the 30× smoke
    * measured q_winnow_matches at e_30/10 = 1.36 and the decomposition
    * needed a bucket observable): for each bucket size n (documents
    * sharing one fingerprint hash), how many buckets exist and whether
    * that size is excluded by the cap. On a healthy corpus the mass
    * sits at tiny n; a replica-dense corpus pushes whole bands of
    * buckets toward `replicas`-sized — the histogram says whether pair
    * growth is bucket-population growth (n² within a fixed size) or
    * size growth marching toward the cap. Output is ≤ |distinct bucket
    * sizes| rows — bounded telemetry over the persisted fingerprint
    * artifact (one distinct + two hash-aggs). */
  val bucketHistogram = Q(
    "q_winnow_buckets",
    s"""WITH $selCtes,
       |fp AS (SELECT DISTINCT doc_id, fkey // $PosSpan AS fh FROM sel),
       |bk AS (SELECT fh, CAST(count(*) AS BIGINT) AS n_docs
       |       FROM fp GROUP BY fh)
       |SELECT n_docs, CAST(count(*) AS BIGINT) AS n_buckets,
       |  n_docs > $WinnowMaxBucket AS excluded
       |FROM bk WHERE n_docs >= 2
       |GROUP BY n_docs ORDER BY n_docs""".stripMargin) { (s, d) =>
    fingerprintTable(s, d).select("doc_id", "fh").distinct()
      .groupBy("fh").agg(count(lit(1)).as("n_docs"))
      .groupBy("n_docs").agg(count(lit(1)).as("n_buckets"))
      .filter(col("n_docs") >= 2)
      .select(col("n_docs"), col("n_buckets"),
        (col("n_docs") > WinnowMaxBucket).as("excluded"))
      .orderBy("n_docs")
  }

  /** Span ATTRIBUTION for every matched pair — the locality payoff that
    * distinguishes winnowing from MinHash: each shared fingerprint hash
    * is decoded back to its selection positions in BOTH documents
    * (pos = 2²⁰−1 − fkey mod 2²⁰), so a hit names the word offsets
    * `[pos, pos+k−1]` of a common ≥k-word run on each side — the frame
    * an excision/attribution pass consumes directly (MOSS's highlighted
    * report). A hash selected at several positions in one doc emits one
    * row per alignment.
    *
    * Plan: the matched-pair frame (tiny, post-threshold) equi-joins the
    * positional selection twice on (doc, fh) — bounded by
    * |matches| × shared fingerprints, nothing corpus-quadratic. */
  val matchSpans = Q(
    "q_winnow_spans",
    s"""WITH $pairCtes,
       |m AS (SELECT doc_a, doc_b FROM thr),
       |pos AS (
       |  SELECT doc_id, fkey // $PosSpan AS fh,
       |    ${PosSpan - 1} - fkey % $PosSpan AS pos
       |  FROM sel
       |)
       |SELECT m.doc_a, m.doc_b, pa.fh AS fh,
       |  CAST(pa.pos AS BIGINT) AS pos_a, CAST(pb.pos AS BIGINT) AS pos_b
       |FROM m
       |JOIN pos pa ON pa.doc_id = m.doc_a
       |JOIN pos pb ON pb.doc_id = m.doc_b AND pb.fh = pa.fh
       |ORDER BY doc_a, doc_b, pa.fh, pos_a, pos_b""".stripMargin) { (s, d) =>
    // both the pair frame and the positional attribution read the SAME
    // persisted artifact — fingerprints are computed once per corpus
    val pos = fingerprintTable(s, d)
    val m = matches.run(s, d).select("doc_a", "doc_b")
    m.join(pos.select(col("doc_id").as("doc_a"), col("fh"),
        col("pos").as("pos_a")), Seq("doc_a"))
      .join(pos.select(col("doc_id").as("doc_b"), col("fh"),
        col("pos").as("pos_b")), Seq("doc_b", "fh"))
      .select(col("doc_a"), col("doc_b"), col("fh"), col("pos_a"), col("pos_b"))
      .orderBy("doc_a", "doc_b", "fh", "pos_a", "pos_b")
  }
}
