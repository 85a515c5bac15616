package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.sources.IndexCatalog
import graft.functions.TextFunctions.tokens

/** Context-window preparation for LLM training — the step between a
  * curated corpus and a token stream: documents split into fixed-size
  * overlapping chunks with provenance, and the length profile that
  * prices padding waste in length-bucketed batching.
  *
  * Scale shape: both queries are one corpus scan + per-row generation /
  * one hash-agg — no joins, no windows, no driver data. Chunking output
  * volume is corpus × (size/stride) overlap factor by construction
  * (4/3 here), never quadratic; every expression is codegen'd
  * (`sequence`/`slice`/`size` builtins on the split token array). */
object ChunkingQueries {

  /** Window geometry: 64-token chunks every 48 tokens → 16-token
    * overlap, the classic boundary-context carry. Chunk starts are
    * 0, 48, 96, … strictly below the document's token count, so every
    * token is covered, tail chunks may run short, and an empty document
    * yields exactly one empty chunk (the whitespace-split of "" is a
    * single empty token — same in DuckDB; ChunkingSpec pins the whole
    * boundary grid: empty/1/48/49/64/97/112-token documents). */
  final val ChunkSize = 64
  final val ChunkStride = 48

  /** DuckDB fragment: whitespace tokens of `text`. */
  private val W = """string_split_regex(trim(text), '\s+')"""

  /** Sliding-window chunking with provenance: (doc_id, start, n_tokens,
    * chunk_text) — the map a packing/tokenization stage consumes, and
    * the provenance a contamination hit traces back through. */
  val chunkOverlap = Q(
    "q_chunk_overlap",
    s"""WITH t AS (SELECT doc_id, $W AS w FROM documents)
       |SELECT doc_id, CAST(s AS BIGINT) AS start,
       |  CAST(least($ChunkSize, len(w) - s) AS BIGINT) AS n_tokens,
       |  array_to_string(w[s + 1 : s + $ChunkSize], ' ') AS chunk_text
       |FROM t, unnest(range(0, len(w), $ChunkStride)) AS u(s)
       |ORDER BY doc_id, start""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"), col("w"),
        explode(sequence(lit(0), size(col("w")) - 1, lit(ChunkStride)))
          .as("start"))
      .select(
        col("doc_id"),
        col("start").cast("long").as("start"),
        least(lit(ChunkSize), size(col("w")) - col("start"))
          .cast("long").as("n_tokens"),
        array_join(slice(col("w"), col("start") + 1, lit(ChunkSize)), " ")
          .as("chunk_text"))
      .orderBy("doc_id", "start")
  }

  /** BPE first-merge statistic: adjacent character-pair frequencies
    * across the corpus vocabulary, weighted by word occurrence count —
    * the quantity byte-pair-encoding training maximizes at every merge
    * step. Top-20 with deterministic tie-break; the full iterative
    * trainer is this query re-run on a re-paired vocabulary per merge.
    *
    * Scale shape: one corpus scan → vocabulary-sized hash-agg (the
    * word-count frame) → per-word pair explode bounded by word length →
    * pair-vocabulary hash-agg → top-k. Nothing corpus-quadratic; the
    * heavy reduction happens at the (small) vocabulary, not the corpus.
    * ASCII/BMP text assumed (Spark counts UTF-16 units, DuckDB code
    * points — equal on the basic plane). */
  val bpePairs = Q(
    "q_bpe_pairs",
    s"""WITH wc AS (
       |  SELECT w, count(*) AS wn FROM (
       |    SELECT unnest($W) AS w FROM documents)
       |  WHERE w <> '' GROUP BY w
       |)
       |SELECT substr(w, CAST(i AS INT), 2) AS pair,
       |  CAST(sum(wn) AS BIGINT) AS n
       |FROM wc, unnest(range(1, len(w))) AS u(i)
       |GROUP BY 1 ORDER BY n DESC, pair LIMIT 20""".stripMargin) { (s, d) =>
    val wc = Tables.documents(s, d)
      .select(explode(tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("wn"))
    wc
      // Spark's sequence(1, 0) throws on 1-char words; DuckDB's
      // range(1, 1) is just empty — filter to keep the sides equal
      .filter(length(col("w")) >= 2)
      .select(col("w"), col("wn"),
        explode(sequence(lit(1), length(col("w")) - 1)).as("i"))
      .select(col("w").substr(col("i"), lit(2)).as("pair"), col("wn"))
      .groupBy("pair").agg(sum(col("wn")).as("n"))
      .orderBy(col("n").desc, col("pair")).limit(20)
  }

  // -------------------------------------------------------------------
  // Full BPE merge loop (round-8 verdict item 4): q_bpe_pairs computes
  // the FIRST merge's statistic; this is the trainer that iterates it.
  // -------------------------------------------------------------------

  /** Number of unrolled merge supersteps the trainer runs. */
  final val BpeMerges = 10

  /** Symbol separator for the merge state (U+001F unit separator — not
    * whitespace, so it never appears inside a whitespace token; a corpus
    * that DID embed it would corrupt both engines identically). Each
    * symbol is individually wrapped (`␟sym␟`), so one greedy
    * left-to-right merge of pair (a, b) is literally
    * `replace(state, '␟a␟␟b␟', '␟ab␟')`: back-to-back occurrences share
    * no characters and standard resume-after-replacement semantics give
    * exactly BPE's non-overlapping left-to-right scan — identical in
    * Spark and DuckDB, so the oracle replays the whole loop. */
  private[graft] final val BpeSep = "\u001f"

  /** Initial merge state of a word: every character wrapped. */
  private[graft] def bpeWrap(w: Column): Column =
    array_join(
      transform(sequence(lit(1), length(w)),
        i => concat(lit(BpeSep), w.substr(i, lit(1)), lit(BpeSep))), "")

  /** One greedy merge of (pa, pb) applied to a wrapped state. */
  private[graft] def bpeApplyMerge(syms: Column, pa: Column, pb: Column): Column = {
    import org.apache.spark.sql.GraftBridge
    val sep = lit(BpeSep)
    GraftBridge.column(org.apache.spark.sql.catalyst.expressions.StringReplace(
      GraftBridge.expression(syms),
      GraftBridge.expression(concat(sep, pa, sep, sep, pb, sep)),
      GraftBridge.expression(concat(sep, pa, pb, sep))))
  }

  /** Wrapped state back to its symbol array. */
  private[graft] def bpeSymbols(syms: Column): Column =
    split(trim(syms, BpeSep), BpeSep + BpeSep)

  /** The trained merge table (step, pair_a, pair_b, merged, n) as a
    * persisted [[graft.sources.IndexCatalog]] artifact — BPE training is
    * train-once/serve-many exactly like the IVF quantizer.
    *
    * Each superstep: pair counts over the current vocabulary state
    * (explode bounded by word length, hash-agg at pair-vocabulary size),
    * deterministic argmax (max count, then lexicographic pair), merge
    * applied via one codegen'd string replace. The state is
    * MATERIALIZED per step (vocabulary-sized parquet): the frame feeds
    * both the argmax and the next state, and an unmaterialized chain
    * would re-execute its lineage exponentially in the step count —
    * the same reason iterative k-means materializes between rounds. No
    * driver-side data; the merge decision stays a 1-row frame, attached
    * by scalar subquery ([[graft.plans.OneRow]]). */
  private def bpeArtifactDir(s: SparkSession, d: String): String = {
    import graft.sources.IndexCatalog
    IndexCatalog.ensure(s, s"bpe_merges_${IndexCatalog.tag(d)}",
        inputs = Seq(d),
        owners = Seq(ChunkingQueries.getClass, Tables.getClass,
          graft.functions.TextFunctions.getClass,
          graft.plans.OneRow.getClass)) { dir =>
      bpeTrainInto(s, Tables.documents(s, d), dir)
    }
  }

  /** The full training loop over any (…, text) document frame, landing
    * `vocab` + `merges` (plus per-step states) under `dir` — shared by
    * the catalog artifact builder above and the generationed
    * [[BpeLifecycle]] retrain (round-19: the tokenizer joined the
    * drift→retrain tier). */
  private[graft] def bpeTrainInto(s: SparkSession, docs: DataFrame,
                                  dir: String): Unit = {
      var vocab = docs
        .select(explode(tokens(col("text"))).as("w"))
        .filter(col("w") =!= "")
        .groupBy("w").agg(count(lit(1)).as("wn"))
        .select(col("w"), col("wn"), bpeWrap(col("w")).as("syms"))
      for (step <- 1 to BpeMerges) {
        vocab.write.mode("overwrite").parquet(s"$dir/state_$step")
        val st = s.read.parquet(s"$dir/state_$step")
        val pairs = st
          .select(col("wn"), bpeSymbols(col("syms")).as("a"))
          .filter(size(col("a")) >= 2) // sequence(0, -1) would descend
          .select(col("wn"), col("a"),
            explode(sequence(lit(0), size(col("a")) - 2)).as("i"))
          .select(col("wn"), expr("a[i]").as("pa"), expr("a[i+1]").as("pb"))
        pairs.groupBy("pa", "pb").agg(sum(col("wn")).as("n"))
          .orderBy(col("n").desc, col("pa"), col("pb")).limit(1)
          .withColumn("step", lit(step.toLong))
          .write.mode("overwrite").parquet(s"$dir/merge_$step")
        // sentinel guard: when the corpus EXHAUSTS (no pair left), the
        // raw best frame is empty and a bare cross join would wipe the
        // state; the ('','') sentinel's pattern (4 separators in a row)
        // can never occur in a state of non-empty symbols, so applying
        // it is a no-op merge. The oracle replays the same guard (bg_k)
        val best = s.read.parquet(s"$dir/merge_$step").select("pa", "pb")
        val guarded = best.withColumn("pri", lit(0))
          .unionByName(s.range(1).select(
            lit("").as("pa"), lit("").as("pb"), lit(1).as("pri")))
          .orderBy("pri").limit(1).select("pa", "pb")
        vocab = graft.plans.OneRow.attach(st, guarded)
          .withColumn("syms", bpeApplyMerge(col("syms"), col("pa"), col("pb")))
          .select("w", "wn", "syms")
      }
      // the trained TOKENIZER: final per-word segmentation (the piece
      // array the encode pass emits) + token count
      vocab.select(col("w"), col("wn"),
          bpeSymbols(col("syms")).as("pieces"),
          size(bpeSymbols(col("syms"))).cast("long").as("n_tokens"))
        .write.mode("overwrite").parquet(s"$dir/vocab")
      (1 to BpeMerges).map(i => s.read.parquet(s"$dir/merge_$i"))
        .reduce(_ unionByName _)
        .select(col("step"), col("pa").as("pair_a"), col("pb").as("pair_b"),
                concat(col("pa"), col("pb")).as("merged"), col("n"))
        .write.mode("overwrite").parquet(s"$dir/merges")
  }

  /** The trained merge table, served from the artifact. */
  private[graft] def bpeMergeTable(s: SparkSession, d: String): DataFrame =
    IndexCatalog.read(s, bpeArtifactDir(s, d), "merges")

  /** Per-word segmentation of the trained tokenizer (w, wn, n_tokens),
    * served from the same artifact as [[bpeMergeTable]]. */
  private[graft] def bpeVocab(s: SparkSession, d: String): DataFrame =
    IndexCatalog.read(s, bpeArtifactDir(s, d), "vocab")

  /** The DuckDB replay of the whole loop, unrolled: v0 is the wrapped
    * vocabulary, step CTEs (p/b/bg/v) mirror pair-count → argmax →
    * sentinel guard → replace exactly (list indexing is 1-based there,
    * 0-based in Spark). Shared by the merges and tokenize oracles. */
  private[operators] def bpeCtes: String = {
    val sep = "chr(31)"
    val steps = (1 to BpeMerges).map { k =>
      s"""p$k AS (
         |  SELECT v.wn, v.a[i] AS pa, v.a[i + 1] AS pb
         |  FROM (SELECT wn, string_split(trim(syms, $sep), $sep || $sep) AS a
         |        FROM v${k - 1}) v,
         |       unnest(range(1, len(a))) AS u(i)
         |), b$k AS (
         |  SELECT pa, pb, CAST(sum(wn) AS BIGINT) AS n, $k AS step
         |  FROM p$k GROUP BY pa, pb ORDER BY n DESC, pa, pb LIMIT 1
         |), bg$k AS (
         |  SELECT pa, pb FROM (
         |    SELECT pa, pb, 0 AS pri FROM b$k
         |    UNION ALL SELECT '', '', 1)
         |  ORDER BY pri LIMIT 1
         |), v$k AS (
         |  SELECT w, wn,
         |    replace(syms, $sep || pa || $sep || $sep || pb || $sep,
         |            $sep || pa || pb || $sep) AS syms
         |  FROM v${k - 1} CROSS JOIN bg$k
         |)""".stripMargin
    }.mkString(",\n")
    s"""wc AS (
       |  SELECT w, count(*) AS wn FROM (
       |    SELECT unnest($W) AS w FROM documents)
       |  WHERE w <> '' GROUP BY w
       |), v0 AS (
       |  SELECT w, wn,
       |    array_to_string(list_transform(range(1, len(w) + 1),
       |      i -> $sep || substr(w, i, 1) || $sep), '') AS syms
       |  FROM wc
       |),
       |$steps""".stripMargin
  }

  /** The trained merge sequence, served from the artifact. */
  val bpeMergesQ = Q(
    "q_bpe_merges",
    s"""WITH $bpeCtes
       |SELECT CAST(step AS BIGINT) AS step, pa AS pair_a, pb AS pair_b,
       |  pa || pb AS merged, n
       |FROM (${(1 to BpeMerges).map(k => s"SELECT * FROM b$k")
                 .mkString(" UNION ALL ")})
       |ORDER BY step""".stripMargin) { (s, d) =>
    bpeMergeTable(s, d)
      .select("step", "pair_a", "pair_b", "merged", "n")
      .orderBy("step")
  }

  /** The trained tokenizer APPLIED: every corpus word segmented by the
    * learned merges, rolled up per source — word occurrences, BPE
    * tokens, and the tokens-per-1000-words compression the mixture/
    * packing stages budget with. The join is vocabulary-sized (AQE
    * broadcasts it onto the word stream); the oracle replays the whole
    * training loop ([[bpeCtes]]) and then the application. */
  val bpeTokenize = Q(
    "q_bpe_tokenize",
    s"""WITH $bpeCtes,
       |tok AS (
       |  SELECT w, CAST(len(string_split(trim(syms, chr(31)),
       |    chr(31) || chr(31))) AS BIGINT) AS n_tok
       |  FROM v$BpeMerges
       |), dw AS (
       |  SELECT source, unnest($W) AS w FROM documents
       |)
       |SELECT source, count(*) AS n_words,
       |  CAST(sum(t.n_tok) AS BIGINT) AS n_bpe_tokens,
       |  CAST((1000 * sum(t.n_tok)) // count(*) AS BIGINT) AS tokens_per_kword
       |FROM (SELECT source, w FROM dw WHERE w <> '') d
       |JOIN tok t USING (w)
       |GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    val vocab = bpeVocab(s, d).select("w", "n_tokens")
    Tables.documents(s, d)
      .select(col("source"), explode(tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .join(vocab, Seq("w"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_words"),
           sum(col("n_tokens")).as("n_bpe_tokens"),
           expr("(1000 * sum(n_tokens)) div count(1)").as("tokens_per_kword"))
      .orderBy("source")
  }

  /** The tokenizer drift gauge's measurement frame ([[BpeLifecycle]],
    * round-19): the corpus pushed through the FROZEN vocabulary via a
    * LEFT join (not [[bpeTokenize]]'s inner join, so OOV accounting is
    * structural), per source: OOV-word share and IN-VOCAB compression
    * in exact integer ppm — the two observables
    * [[BpeLifecycle.driftCheck]] compares against its training
    * baseline. Registered self-gauged (vocabulary and stream from the
    * same corpus, the `q_binary_drift` discipline): OOV is zero by
    * construction, so the oracle pins that the left-join scorer
    * reproduces the exact in-vocab segmentation prices. OOV words are
    * excluded from the compression sum BY DESIGN (their merge-chain
    * price belongs to the share observable — [[BpeLifecycle]]
    * scaladoc).
    *
    * Plan: the bpeTokenize plan with the join flipped to left — one
    * token explode, one vocabulary-sized join, a |sources|-row agg. */
  val tokDrift = Q(
    "q_tok_drift",
    s"""WITH $bpeCtes,
       |tk AS (
       |  SELECT w, CAST(len(string_split(trim(syms, chr(31)),
       |    chr(31) || chr(31))) AS BIGINT) AS n_tok
       |  FROM v$BpeMerges
       |), dw AS (
       |  SELECT source, unnest($W) AS w FROM documents
       |), sc AS (
       |  SELECT d.source,
       |    CASE WHEN t.n_tok IS NULL THEN 1 ELSE 0 END AS oov,
       |    CASE WHEN t.n_tok IS NULL THEN 0 ELSE t.n_tok END AS n_tok
       |  FROM (SELECT source, w FROM dw WHERE w <> '') d
       |  LEFT JOIN tk t USING (w)
       |)
       |SELECT source, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(oov) AS BIGINT) AS oov_words,
       |  CAST((1000000 * sum(oov)) // count(*) AS BIGINT) AS oov_ppm,
       |  CAST(sum(n_tok) AS BIGINT) AS n_bpe_tokens,
       |  CAST((1000000 * sum(n_tok))
       |       // greatest(count(*) - sum(oov), 1) AS BIGINT)
       |    AS tok_per_mword
       |FROM sc GROUP BY source ORDER BY source""".stripMargin) { (s, d) =>
    val vocab = bpeVocab(s, d).select(col("w"), col("n_tokens").as("n_tok"))
    Tables.documents(s, d)
      .select(col("source"), explode(tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .join(vocab, Seq("w"), "left")
      .select(col("source"),
        when(col("n_tok").isNull, 1L).otherwise(0L).as("oov"),
        coalesce(col("n_tok"), lit(0L)).as("n_tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_words"),
        sum("oov").as("oov_words"),
        sum("n_tok").as("n_bpe_tokens"))
      .withColumn("oov_ppm", expr("(1000000 * oov_words) div n_words"))
      .withColumn("tok_per_mword",
        expr("(1000000 * n_bpe_tokens) div greatest(n_words - oov_words, 1)"))
      .orderBy("source")
      .select("source", "n_words", "oov_words", "oov_ppm",
        "n_bpe_tokens", "tok_per_mword")
  }

  /** The corpus-wide ENCODE pass (round-9 verdict item 4): every
    * document re-emitted as its BPE token sequence under the trained
    * [[bpeMergeTable]] tokenizer — the per-document output a training
    * loader actually ships, where [[bpeTokenize]] stops at per-source
    * counts. `bpe_text` is the space-joined piece stream in document
    * word order; `n_tokens` its length.
    *
    * Scale shape: one corpus scan → position-tagged word explode →
    * vocabulary-sized equi-join (AQE broadcasts the trained vocab onto
    * the word stream). Each word's pieces collapse to ONE string at the
    * join projection (codegen'd `concat_ws`), so the per-document
    * re-assembly sorts and joins flat strings — the only interpreted
    * step is one `transform` lambda per DOCUMENT over a ≤doc-length
    * string array (the nested pieces-of-pieces flatten this replaced
    * measured ~2× slower at the 10× smoke). Output is corpus-sized by
    * intent: this IS the materialization a tokenized-corpus release
    * writes. The oracle replays the full 10-superstep training loop
    * ([[bpeCtes]] unrolled) and the same positional re-assembly. */
  val bpeEncode = Q(
    "q_bpe_encode",
    s"""WITH $bpeCtes,
       |pieces AS (
       |  SELECT w, string_split(trim(syms, chr(31)), chr(31) || chr(31)) AS p
       |  FROM v$BpeMerges
       |), dw AS (
       |  SELECT doc_id, CAST(u.i AS BIGINT) AS i, ws[u.i] AS w
       |  FROM (SELECT doc_id, $W AS ws FROM documents),
       |       unnest(range(1, len(ws) + 1)) AS u(i)
       |  WHERE ws[u.i] <> ''
       |)
       |SELECT doc_id,
       |  CAST(len(flatten(list(p ORDER BY i))) AS BIGINT) AS n_tokens,
       |  array_to_string(flatten(list(p ORDER BY i)), ' ') AS bpe_text
       |FROM dw JOIN pieces USING (w)
       |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, d) =>
    val pieces = bpeVocab(s, d).select(col("w"),
      concat_ws(" ", col("pieces")).as("ptxt"), col("n_tokens"))
    Tables.documents(s, d)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("i", "w")))
      .filter(col("w") =!= "")
      .join(pieces, Seq("w"))
      .groupBy("doc_id")
      .agg(sum(col("n_tokens")).as("n_tokens"),
        sort_array(collect_list(struct(col("i"), col("ptxt")))).as("ps"))
      .select(col("doc_id"),
        col("n_tokens"),
        array_join(expr("transform(ps, x -> x.ptxt)"), " ").as("bpe_text"))
      .orderBy("doc_id")
  }

  /** Chunk-level benchmark-contamination masking — the "mask, don't
    * drop" alternative to document-level decontamination: a document
    * sharing one eval 5-gram loses ONE 64-token window, not its whole
    * text. Each contaminated document's chunks are scored by how many
    * of their word-5-grams appear in the persisted bench-gram artifact
    * ([[graft.operators.CorpusQueries.benchGrams]]); downstream loaders
    * zero the loss on chunks with hits and keep the rest. Chunks are
    * computed ONLY for documents the doc-level check already flagged
    * (semi-join pruned — at 100 TB the flagged set is tiny), grams
    * meet the bench set in a counted equi-join (the q_chunk_dedup
    * shape; the bench side is eval-suite-sized and AQE-broadcast), and
    * clean chunks of flagged docs re-enter via the left join. */
  val chunkContamination = Q(
    "q_chunk_contamination",
    s"""WITH g5 AS (
       |  SELECT doc_id,
       |    unnest(list_distinct([array_to_string(w[i:i+4], ' ')
       |                          for i in range(1, len(w) - 3)])) AS g
       |  FROM (SELECT doc_id, $W AS w FROM documents)
       |), bench AS (SELECT DISTINCT g FROM g5 WHERE doc_id % 97 = 0),
       |flagged AS (
       |  SELECT DISTINCT g5.doc_id FROM g5 JOIN bench USING (g)
       |  WHERE g5.doc_id % 97 <> 0
       |), chunks0 AS (
       |  SELECT doc_id, CAST(u.s AS BIGINT) AS start,
       |    w[u.s + 1 : u.s + $ChunkSize] AS cw
       |  FROM (SELECT doc_id, $W AS w FROM documents) t,
       |       unnest(range(0, len(w), $ChunkStride)) AS u(s)
       |  WHERE doc_id IN (SELECT doc_id FROM flagged)
       |), chunks AS (
       |  SELECT doc_id, start,
       |    list_distinct([array_to_string(cw[i:i+4], ' ')
       |                    for i in range(1, len(cw) - 3)]) AS cg
       |  FROM chunks0
       |), hits AS (
       |  SELECT c.doc_id, c.start, count(*) AS n_shared
       |  FROM (SELECT doc_id, start, unnest(cg) AS g FROM chunks) c
       |  JOIN bench USING (g) GROUP BY c.doc_id, c.start
       |)
       |SELECT c.doc_id, c.start,
       |  CAST(len(c.cg) AS BIGINT) AS n_grams,
       |  CAST(coalesce(h.n_shared, 0) AS BIGINT) AS n_shared,
       |  coalesce(h.n_shared, 0) > 0 AS masked
       |FROM chunks c
       |LEFT JOIN hits h ON h.doc_id = c.doc_id AND h.start = c.start
       |WHERE len(c.cg) > 0
       |ORDER BY c.doc_id, c.start""".stripMargin) { (s, d) =>
    import graft.functions.TextFunctions.wordShingles
    val bench = CorpusQueries.benchGrams(s, d)
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val flagged = docs
      .filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"),
        explode(array_distinct(wordShingles(tokens(col("text")), 5))).as("g"))
      .join(bench, Seq("g"))
      .select("doc_id").distinct()
    val chunks = docs
      .join(flagged, Seq("doc_id"))
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"),
        explode(sequence(lit(0), size(col("w")) - 1, lit(ChunkStride)))
          .as("start0"),
        col("w"))
      .select(col("doc_id"), col("start0").cast("long").as("start"),
        array_distinct(wordShingles(
          slice(col("w"), col("start0") + 1, lit(ChunkSize)), 5)).as("cg"))
      .filter(size(col("cg")) > 0)
    val hits = chunks
      .select(col("doc_id"), col("start"), explode(col("cg")).as("g"))
      .join(bench, Seq("g"))
      .groupBy("doc_id", "start")
      .agg(count(lit(1)).as("n_shared"))
    chunks
      .join(hits, Seq("doc_id", "start"), "left")
      .select(col("doc_id"), col("start"),
        size(col("cg")).cast("long").as("n_grams"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) > 0).as("masked"))
      .orderBy("doc_id", "start")
  }

  /** Trained-tokenizer sequence packing — the end-to-end bridge from
    * tokenizer training to the loader manifest: per-document token
    * counts come from the TRAINED BPE vocabulary artifact (not the
    * whitespace proxy [[graft.operators.CorpusQueries.packSequences]]
    * budgets with), then the same concat-and-chunk into fixed 512-token
    * sequences over the global [[ShardPacking.packGlobal]] offset. The
    * counting join is vocabulary-sized (AQE broadcasts it onto the
    * word stream); the rest is the packSequences plan. The oracle
    * replays the full training loop, the application, and the
    * identical permutation as one windowed sum. */
  val packSequencesBpe = Q(
    "q_pack_sequences_bpe",
    s"""WITH $bpeCtes,
       |tok AS (
       |  SELECT w, CAST(len(string_split(trim(syms, chr(31)),
       |    chr(31) || chr(31))) AS BIGINT) AS n_tok
       |  FROM v$BpeMerges
       |), dt AS (
       |  SELECT doc_id, CAST(sum(t.n_tok) AS BIGINT) AS toks
       |  FROM (SELECT doc_id, unnest($W) AS w FROM documents) d
       |  JOIN tok t USING (w) WHERE d.w <> ''
       |  GROUP BY doc_id
       |), t AS (
       |  SELECT doc_id, toks,
       |    ${ShardPacking.bucketSql("doc_id")} AS pack_bucket
       |  FROM dt WHERE toks > 0
       |), c AS (
       |  SELECT doc_id, toks,
       |    CAST(coalesce(sum(toks) OVER (ORDER BY pack_bucket, doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |      AS BIGINT) AS cum_before
       |  FROM t
       |), spans AS (
       |  SELECT doc_id, toks, cum_before,
       |    unnest(range(cum_before // 512, (cum_before + toks - 1) // 512 + 1))
       |      AS seq
       |  FROM c
       |)
       |SELECT seq, count(*) AS n_docs,
       |  CAST(sum(least(512 * (seq + 1), cum_before + toks)
       |           - greatest(512 * seq, cum_before)) AS BIGINT) AS toks,
       |  min(doc_id) AS min_doc, max(doc_id) AS max_doc
       |FROM spans GROUP BY seq ORDER BY seq""".stripMargin) { (s, d) =>
    val t = Tables.documents(s, d)
      .select(col("doc_id"), explode(tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .join(bpeVocab(s, d).select("w", "n_tokens"), Seq("w"))
      .groupBy("doc_id").agg(sum("n_tokens").as("toks"))
      .filter(col("toks") > 0)
    ShardPacking.chunkSequences(t, L = 512L).drop("n_full_docs")
  }

  /** Chunk-level dedup linkage at CLUSTER-REPRESENTATIVE grain
    * (round-9 verdict item 1): each training window of a duplicate
    * cluster's KEEPER (the document dedup retains) scored by how much
    * of it also appears in each dropped member — the chunk-grain audit
    * of what near-dup resolution removed (distinct word-3-gram
    * containment, the contamination metric at the RAG/training-window
    * grain). `dup_pct` = 100·|grams(chunk) ∩ shingles(member)| ÷
    * |grams(chunk)|, floor-integer; chunks with no 3-gram (under 3
    * tokens) are excluded.
    *
    * Scale shape: NO new training and NO pair-grain fan-out — the
    * (keeper, member) rows come straight from the persisted
    * [[DedupQueries.lshKeepList]] connected-components artifact, so a
    * replica clique of n documents contributes n−1 rows (one per
    * dropped member), not the n(n−1)/2 verified LSH pairs the previous
    * form chunked and scored (quadratic in cluster size — 26% of the
    * 10× near-dup smoke serve list; the same one-representative move
    * as `q_mm_img_neardup`). Only keepers are chunked — one document
    * per cluster. The oracle replays the full LSH chain
    * ([[DedupQueries.lshCtes]] verbatim), the recursive
    * connected-components resolution, and the chunk grid. */
  val chunkDedup = Q(
    "q_chunk_dedup",
    s"""WITH RECURSIVE ${DedupQueries.lshCtes},
       |${DedupQueries.ccWalkCtes("")},
       |comp AS (
       |  SELECT id AS doc_id, min(reach) AS cluster FROM walk GROUP BY id
       |), rmp AS (
       |  SELECT cluster AS doc_a, doc_id AS doc_b FROM comp
       |  WHERE doc_id <> cluster
       |), chunks0 AS (
       |  SELECT doc_id, CAST(u.s AS BIGINT) AS start,
       |    w[u.s + 1 : u.s + $ChunkSize] AS cw
       |  FROM (SELECT doc_id, $W AS w FROM documents) t,
       |       unnest(range(0, len(w), $ChunkStride)) AS u(s)
       |  WHERE doc_id IN (SELECT doc_a FROM rmp)
       |), chunks AS (
       |  SELECT doc_id, start,
       |    list_distinct([array_to_string(cw[i:i+2], ' ')
       |                    for i in range(1, len(cw) - 1)]) AS cg
       |  FROM chunks0
       |)
       |SELECT p.doc_a, p.doc_b, c.start,
       |  CAST(len(c.cg) AS BIGINT) AS n_grams,
       |  CAST((100 * len(list_intersect(c.cg, sb.ss))) // len(c.cg)
       |       AS BIGINT) AS dup_pct
       |FROM rmp p
       |JOIN chunks c ON c.doc_id = p.doc_a
       |JOIN sh sb ON sb.doc_id = p.doc_b
       |WHERE len(c.cg) > 0
       |ORDER BY doc_a, doc_b, start""".stripMargin) { (s, d) =>
    import graft.functions.TextFunctions.wordShingles
    // keeper→dropped-member rows off the persisted components artifact:
    // linear in cluster membership, never pair-quadratic
    val pairs = DedupQueries.lshKeepList(s, d)
      .filter(!col("keep"))
      .select(col("cluster").as("doc_a"), col("doc_id").as("doc_b"))
    val docs = Tables.documents(s, d).select("doc_id", "text")
    val chunks = docs
      .join(pairs.select(col("doc_a").as("doc_id")).distinct(), Seq("doc_id"))
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"),
        explode(sequence(lit(0), size(col("w")) - 1, lit(ChunkStride)))
          .as("start0"),
        col("w"))
      .select(col("doc_id").as("doc_a"), col("start0").cast("long").as("start"),
        array_distinct(wordShingles(
          slice(col("w"), col("start0") + 1, lit(ChunkSize)), 3)).as("cg"))
      .filter(size(col("cg")) > 0)
    // Distributed set intersection: grams explode on BOTH sides and
    // meet in ONE shuffle equi-join on (keeper, gram) — the member-gram
    // side carries its cluster keeper from the keep-list rows, so no
    // pair × chunk-gram pre-join ever materializes (that intermediate
    // was the expensive row set: every keeper chunk-gram replicated per
    // member BEFORE any gram matched; at the 10× near-dup smoke the
    // fused join cut the query roughly in half again). A per-row
    // `array_intersect(cg, ss)` would instead build a |ss|-element hash
    // set for every (member × chunk) row — measured ~2× slower. Chunks
    // with no shared gram re-enter with the final left join (dup_pct =
    // 0 rows are part of the contract). Both sides are distinct gram
    // SETS, so count(*) per (member, chunk) IS the intersection size.
    val memberGrams = docs
      .join(pairs.select(col("doc_a"), col("doc_b").as("doc_id")), Seq("doc_id"))
      .select(col("doc_a"), col("doc_id").as("doc_b"),
        explode(array_distinct(wordShingles(tokens(col("text")), 3))).as("g"))
    val chunkMeta = chunks.select(col("doc_a"), col("start"),
      size(col("cg")).cast("long").as("n_grams"))
    val matches = chunks
      .select(col("doc_a"), col("start"), explode(col("cg")).as("g"))
      .join(memberGrams, Seq("doc_a", "g"))
      .groupBy("doc_a", "doc_b", "start")
      .agg(count(lit(1)).as("ninter"))
    pairs
      .join(chunkMeta, Seq("doc_a"))
      .join(matches, Seq("doc_a", "doc_b", "start"), "left")
      .select(col("doc_a"), col("doc_b"), col("start"), col("n_grams"),
        expr("(100 * coalesce(ninter, 0L)) div n_grams").cast("long")
          .as("dup_pct"))
      .orderBy("doc_a", "doc_b", "start")
  }

  /** Bucket width for the length profile: 16 tokens. */
  final val BucketWidth = 16

  /** Length-bucketed batching profile: documents grouped into
    * width-[[BucketWidth]] token-length buckets, with the padding cost
    * of batching each bucket to its own observed maximum —
    * `padding_tokens = max·count − sum`, the tokens a per-bucket
    * pad-to-longest collator burns. The profile is what picks bucket
    * boundaries for a real batcher: wide buckets waste pad, narrow
    * buckets starve batches. All-integer, hash-stable. */
  val lengthBuckets = Q(
    "q_length_buckets",
    s"""WITH t AS (SELECT len($W) AS n FROM documents)
       |SELECT n // $BucketWidth AS bucket, count(*) AS n_docs,
       |  CAST(sum(n) AS BIGINT) AS sum_tokens,
       |  CAST(max(n) AS BIGINT) AS max_tokens,
       |  CAST(max(n) * count(*) - sum(n) AS BIGINT) AS padding_tokens
       |FROM t GROUP BY 1 ORDER BY bucket""".stripMargin) { (s, d) =>
    Tables.documents(s, d)
      .select((size(tokens(col("text")))).cast("long").as("n"))
      // integral div (Divide would widen to double): n ≥ 0, so div == //
      .groupBy(expr(s"n div $BucketWidth").as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
           sum(col("n")).as("sum_tokens"),
           max(col("n")).as("max_tokens"),
           (max(col("n")) * count(lit(1)) - sum(col("n")))
             .as("padding_tokens"))
      .orderBy("bucket")
  }
}
