package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.sources.IndexCatalog
import graft.functions.TextFunctions.tokens

/** The third tokenizer family (r15 verdict item 7): WordPiece — BERT's
  * tokenizer (Schuster & Nakajima 2012; Devlin et al. 2018 §4; the
  * HuggingFace tokenizers reference semantics).
  *
  * TRAINING reuses the BPE superstep machinery ([[ChunkingQueries]]:
  * wrapped symbol state, adjacency pair counts, one codegen'd string
  * replace per merge) with WordPiece's selection rule: instead of the
  * most FREQUENT pair, merge the pair maximizing the LIKELIHOOD score
  * count(ab) / (count(a)·count(b)) — quantized exactly as
  * `score = (n_ab · 10¹²) div (n_a · n_b)` (all counts positive, so
  * floor and truncating division agree engine-to-engine; ties break
  * lexicographically; at a corpus where n·10¹² nears int64 the scale
  * constant drops — the score only needs ORDER, not magnitude). Merges
  * producing a symbol longer than [[MaxPieceLen]] are skipped (the
  * reference implementations cap piece length the same way).
  *
  * The VOCABULARY is every corpus character plus every merge result —
  * including merged-then-consumed intermediates, exactly like shipped
  * WordPiece vocabs — so greedy inference is total.
  *
  * INFERENCE is greedy longest-match-first (the WordPiece/BERT
  * algorithm, NOT BPE's merge replay): from each position take the
  * longest vocabulary piece, advance, render continuations with the
  * `##` prefix. In Spark this is one fold over at most [[MaxWordLen]]
  * steps per DISTINCT word (map-side, vocabulary-sized, the
  * [[UnigramQueries.viterbiSeg]] discipline, with the piece set as a
  * one-row map attached by scalar subquery); the oracle unrolls the same loop position by
  * position. Words beyond [[MaxWordLen]] chars segment as `##`-rendered
  * character pieces (the [[UnigramQueries]] long-tail convention).
  *
  * Scale shape: training touches the corpus once (word counts);
  * supersteps run at vocabulary size with per-step materialization
  * (the BPE discipline); encode is a positional word explode + one
  * vocabulary-sized join + one doc hash-agg.
  */
object WordPieceQueries {

  /** Merge supersteps (mirrors [[ChunkingQueries.BpeMerges]]). */
  final val WpMerges = 10

  /** Longest admissible piece; also the greedy matcher's reach. */
  final val MaxPieceLen = 16

  /** Words longer than this segment as character pieces. */
  final val MaxWordLen = 16

  /** Likelihood-score scale (see object scaladoc). */
  final val ScoreScale = 1000000000000L

  private val W = """string_split_regex(trim(text), '\s+')"""
  private val Sep = "chr(31)"

  // -------------------------------------------------------------------
  // Spark side
  // -------------------------------------------------------------------

  /** Greedy longest-match-first segmentation of word `w` under the
    * piece-set map `vm` (piece → 1): a fold over at most MaxWordLen
    * steps, each consuming the longest matching piece. Total because
    * every corpus character is in the vocabulary. `##`-renders
    * continuations. Runs in one projection — no shuffle, no UDF. */
  private[graft] def greedySeg(w: Column, vm: Column): Column = {
    val st = aggregate(
      sequence(lit(1), lit(MaxWordLen)),
      struct(lit(1).as("pos"), lit("").as("seg")),
      (acc: Column, _: Column) => {
        val pos = acc("pos")
        val kbest = array_max(filter(
          transform(sequence(lit(1), lit(MaxPieceLen)), k =>
            when(pos + k - 1 <= length(w) &&
              element_at(vm, w.substr(pos, k)).isNotNull, k)),
          x => x.isNotNull))
        when(pos > length(w), acc).otherwise(struct(
          (pos + kbest).as("pos"),
          concat(acc("seg"),
            when(pos === 1, lit("")).otherwise(lit(" ##")),
            w.substr(pos, kbest)).as("seg")))
      })
    st("seg")
  }

  /** `##`-rendered character fallback for words beyond the cap. */
  private[graft] def charSegWp(w: Column): Column =
    array_join(transform(sequence(lit(1), length(w)), i =>
      concat(when(i === 1, lit("")).otherwise(lit("##")),
        w.substr(i, lit(1)))), " ")

  private def segCol(w: Column, vm: Column): Column =
    when(length(w) > MaxWordLen, charSegWp(w)).otherwise(greedySeg(w, vm))

  /** One superstep's scored argmax over a (w, wn, syms) state frame:
    * pair adjacency counts, current symbol counts, the likelihood
    * score, the piece-length cap, and the deterministic tie-break —
    * shared by the trainer and WordPieceSpec's score-rule pin. */
  private[graft] def bestMerge(st: DataFrame): DataFrame = {
    val syms = st.select(col("wn"),
      ChunkingQueries.bpeSymbols(col("syms")).as("a"))
    // current per-symbol corpus counts — the score's denominator
    val sc = syms
      .select(col("wn"), explode(col("a")).as("s"))
      .groupBy("s").agg(sum(col("wn")).as("c"))
    val pairs = syms
      .filter(size(col("a")) >= 2)
      .select(col("wn"), col("a"),
        explode(sequence(lit(0), size(col("a")) - 2)).as("i"))
      .select(col("wn"), expr("a[i]").as("pa"), expr("a[i+1]").as("pb"))
      .groupBy("pa", "pb").agg(sum(col("wn")).as("n"))
    pairs
      .join(sc.select(col("s").as("pa"), col("c").as("ca")), Seq("pa"))
      .join(sc.select(col("s").as("pb"), col("c").as("cb")), Seq("pb"))
      .filter(length(col("pa")) + length(col("pb")) <= MaxPieceLen)
      .withColumn("score", expr(s"(n * ${ScoreScale}L) div (ca * cb)"))
      .orderBy(col("score").desc, col("pa"), col("pb")).limit(1)
  }

  /** Trainer artifact: `state_k`/`merge_k` per superstep (the BPE
    * layout), `pieces` (the vocabulary: piece, piece_len, step — step 0
    * for characters), `vocab` (per-word greedy segmentation + count). */
  private def wpDirOf(s: SparkSession, d: String): String = {
    import graft.sources.IndexCatalog
    IndexCatalog.ensure(s, s"wordpiece_${IndexCatalog.tag(d)}",
        inputs = Seq(d),
        owners = Seq(WordPieceQueries.getClass, ChunkingQueries.getClass,
          Tables.getClass, graft.functions.TextFunctions.getClass,
          graft.plans.OneRow.getClass)) { dir =>
      var vocab = Tables.documents(s, d)
        .select(explode(tokens(col("text"))).as("w"))
        .filter(col("w") =!= "")
        .groupBy("w").agg(count(lit(1)).as("wn"))
        .select(col("w"), col("wn"),
          ChunkingQueries.bpeWrap(col("w")).as("syms"))
      for (step <- 1 to WpMerges) {
        vocab.write.mode("overwrite").parquet(s"$dir/state_$step")
        val st = s.read.parquet(s"$dir/state_$step")
        bestMerge(st)
          .withColumn("step", lit(step.toLong))
          .select("step", "pa", "pb", "n", "score")
          .write.mode("overwrite").parquet(s"$dir/merge_$step")
        // exhaustion guard: the ('','') sentinel is a no-op replace
        // (the ChunkingQueries discipline)
        val best = s.read.parquet(s"$dir/merge_$step").select("pa", "pb")
        val guarded = best.withColumn("pri", lit(0))
          .unionByName(s.range(1).select(
            lit("").as("pa"), lit("").as("pb"), lit(1).as("pri")))
          .orderBy("pri").limit(1).select("pa", "pb")
        vocab = graft.plans.OneRow.attach(st, guarded)
          .withColumn("syms",
            ChunkingQueries.bpeApplyMerge(col("syms"), col("pa"), col("pb")))
          .select("w", "wn", "syms")
      }
      val wc = s.read.parquet(s"$dir/state_1").select("w", "wn")
      val chars = wc
        .select(explode(split(col("w"), "")).as("piece"))
        .filter(col("piece") =!= "")
        .distinct()
        .select(col("piece"), lit(0L).as("step"))
      val merged = (1 to WpMerges).map(i =>
          s.read.parquet(s"$dir/merge_$i")
            .select(concat(col("pa"), col("pb")).as("piece"), col("step")))
        .reduce(_ unionByName _)
      chars.unionByName(merged)
        .groupBy("piece").agg(min("step").as("step"))
        .select(col("piece"), length(col("piece")).cast("long").as("piece_len"),
          col("step"))
        .write.mode("overwrite").parquet(s"$dir/pieces")
      val vm = s.read.parquet(s"$dir/pieces").agg(map_from_entries(
        collect_list(struct(col("piece"), lit(1)))).as("vm"))
      graft.plans.OneRow.attach(wc, vm)
        .select(col("w"), col("wn"), segCol(col("w"), col("vm")).as("seg"))
        .select(col("w"), col("wn"), col("seg"),
          size(split(col("seg"), " ")).cast("long").as("n_tokens"))
        .write.mode("overwrite").parquet(s"$dir/vocab")
    }
  }

  /** The trained vocabulary (piece, piece_len, step), artifact-served. */
  private[graft] def wpPieces(s: SparkSession, d: String): DataFrame =
    IndexCatalog.read(s, wpDirOf(s, d), "pieces")

  /** Per-word greedy segmentation (w, wn, seg, n_tokens). */
  private[graft] def wpVocab(s: SparkSession, d: String): DataFrame =
    IndexCatalog.read(s, wpDirOf(s, d), "vocab")

  // -------------------------------------------------------------------
  // Oracle
  // -------------------------------------------------------------------

  /** Training replay: y0 is the wrapped vocabulary; per superstep a
    * symbol-count CTE (wsK), pair counts (wpcK), the likelihood-scored
    * argmax (wbK), the exhaustion guard (wqK), and the replace (yK). */
  private def trainCtes: String = {
    val steps = (1 to WpMerges).map { k =>
      s"""ws$k AS MATERIALIZED (
         |  SELECT s, CAST(sum(wn) AS BIGINT) AS c FROM (
         |    SELECT wn, unnest(string_split(trim(syms, $Sep), $Sep || $Sep)) AS s
         |    FROM y${k - 1})
         |  GROUP BY s
         |), wpc$k AS (
         |  SELECT pa, pb, CAST(sum(wn) AS BIGINT) AS n FROM (
         |    SELECT v.wn, v.a[i] AS pa, v.a[i + 1] AS pb
         |    FROM (SELECT wn, string_split(trim(syms, $Sep), $Sep || $Sep) AS a
         |          FROM y${k - 1}) v,
         |         unnest(range(1, len(a))) AS u(i))
         |  GROUP BY pa, pb
         |), wb$k AS (
         |  SELECT pa, pb, n, (n * $ScoreScale) // (ca.c * cb.c) AS score,
         |    $k AS step
         |  FROM wpc$k
         |  JOIN ws$k ca ON ca.s = pa JOIN ws$k cb ON cb.s = pb
         |  WHERE len(pa) + len(pb) <= $MaxPieceLen
         |  ORDER BY score DESC, pa, pb LIMIT 1
         |), wq$k AS (
         |  SELECT pa, pb FROM (
         |    SELECT pa, pb, 0 AS pri FROM wb$k
         |    UNION ALL SELECT '', '', 1)
         |  ORDER BY pri LIMIT 1
         |), y$k AS MATERIALIZED (
         |  SELECT w, wn,
         |    replace(syms, $Sep || pa || $Sep || $Sep || pb || $Sep,
         |            $Sep || pa || pb || $Sep) AS syms
         |  FROM y${k - 1} CROSS JOIN wq$k
         |)""".stripMargin
    }.mkString(",\n")
    s"""wwc AS MATERIALIZED (
       |  SELECT w, count(*) AS wn FROM (
       |    SELECT unnest($W) AS w FROM documents)
       |  WHERE w <> '' GROUP BY w
       |), y0 AS (
       |  SELECT w, wn,
       |    array_to_string(list_transform(range(1, len(w) + 1),
       |      i -> $Sep || substr(w, CAST(i AS INT), 1) || $Sep), '') AS syms
       |  FROM wwc
       |),
       |$steps""".stripMargin
  }

  /** Vocabulary CTE `wv`: characters (step 0) + merge results, deduped
    * at the earliest creating step. */
  private def vocabCte: String = {
    val merges = (1 to WpMerges)
      .map(k => s"SELECT pa || pb AS piece, $k AS step FROM wb$k")
      .mkString("\n  UNION ALL ")
    s"""wv AS MATERIALIZED (
       |  SELECT piece, min(step) AS step FROM (
       |    SELECT DISTINCT substr(w, CAST(i AS INT), 1) AS piece, 0 AS step
       |    FROM wwc, unnest(range(1, len(w) + 1)) AS u(i)
       |  UNION ALL $merges)
       |  GROUP BY piece
       |)""".stripMargin
  }

  /** Greedy longest-match unroll: per step, unfinished words take the
    * longest vocabulary piece at their position (row_number by piece
    * length DESC — the greedy rule), finished rows carry through. */
  private def greedyCtes: String = {
    val steps = (1 to MaxWordLen).map { t =>
      s"""wg$t AS MATERIALIZED (
         |  SELECT w, wn, pos, seg FROM wg${t - 1} WHERE pos > len(w)
         |  UNION ALL
         |  SELECT w, wn, pos + k AS pos,
         |    CASE WHEN pos = 1 THEN piece
         |         ELSE seg || ' ##' || piece END AS seg
         |  FROM (
         |    SELECT g.w, g.wn, g.pos, g.seg, u.k,
         |      substr(g.w, CAST(g.pos AS INT), CAST(u.k AS INT)) AS piece,
         |      row_number() OVER (PARTITION BY g.w ORDER BY u.k DESC) AS rn
         |    FROM wg${t - 1} g, unnest(range(1, $MaxPieceLen + 1)) AS u(k)
         |    WHERE g.pos <= len(g.w) AND g.pos + u.k - 1 <= len(g.w)
         |      AND substr(g.w, CAST(g.pos AS INT), CAST(u.k AS INT))
         |            IN (SELECT piece FROM wv)
         |  ) WHERE rn = 1
         |)""".stripMargin
    }.mkString(",\n")
    s"""wg0 AS (
       |  SELECT w, wn, 1 AS pos, '' AS seg FROM wwc
       |  WHERE len(w) <= $MaxWordLen
       |),
       |$steps,
       |wpseg AS MATERIALIZED (
       |  SELECT w, wn, seg,
       |    CAST(len(string_split(seg, ' ')) AS BIGINT) AS n_tok
       |  FROM wg$MaxWordLen
       |  UNION ALL
       |  SELECT w, wn,
       |    array_to_string([CASE WHEN i = 1 THEN substr(w, CAST(i AS INT), 1)
       |                     ELSE '##' || substr(w, CAST(i AS INT), 1) END
       |                     for i in range(1, len(w) + 1)], ' ') AS seg,
       |    CAST(len(w) AS BIGINT) AS n_tok
       |  FROM wwc WHERE len(w) > $MaxWordLen
       |)""".stripMargin
  }

  /** The full oracle block, shared with the bake-off. */
  private[operators] def wpCtes: String =
    s"""$trainCtes,
       |$vocabCte,
       |$greedyCtes""".stripMargin

  // -------------------------------------------------------------------
  // Registered queries
  // -------------------------------------------------------------------

  /** The shipped vocabulary: every piece with its length and the merge
    * step that created it (0 = character). */
  val wordpieceVocab = Q(
    "q_wordpiece_vocab",
    s"""WITH $wpCtes
       |SELECT piece, CAST(len(piece) AS BIGINT) AS piece_len,
       |  CAST(step AS BIGINT) AS step
       |FROM wv ORDER BY piece""".stripMargin) { (s, d) =>
    wpPieces(s, d)
      .select(col("piece"), col("piece_len"), col("step"))
      .orderBy("piece")
  }

  /** Corpus-wide greedy encode: per document, the WordPiece token count
    * and the `##`-rendered token stream. */
  val wordpieceEncode = Q(
    "q_wordpiece_encode",
    s"""WITH $wpCtes,
       |wdw AS (
       |  SELECT doc_id, CAST(u.i AS BIGINT) AS i, ws[u.i] AS w
       |  FROM (SELECT doc_id, $W AS ws FROM documents),
       |       unnest(range(1, len(ws) + 1)) AS u(i)
       |  WHERE ws[u.i] <> ''
       |)
       |SELECT doc_id,
       |  CAST(sum(t.n_tok) AS BIGINT) AS n_tokens,
       |  array_to_string(list(t.seg ORDER BY i), ' ') AS wp_text
       |FROM wdw JOIN wpseg t USING (w)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
    val vocab = wpVocab(s, d).select(col("w"), col("seg"), col("n_tokens"))
    Tables.documents(s, d)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("i", "w")))
      .filter(col("w") =!= "")
      .join(vocab, Seq("w"))
      .groupBy("doc_id")
      .agg(sum(col("n_tokens")).as("n_tokens"),
        sort_array(collect_list(struct(col("i"), col("seg")))).as("ps"))
      .select(col("doc_id"), col("n_tokens"),
        array_join(expr("transform(ps, x -> x.seg)"), " ").as("wp_text"))
      .orderBy("doc_id")
  }
}
