package graft.operators

import graft.{Q, Tables}
import graft.semantic.{KeywordClassifier, RuleClassifier}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.plans.Materialize.MaterializeOps

/** X1 (keyword → category classification) and the Pipeline B composition
  * as oracle-checked queries — the reference's ETL_customer_behavior.py
  * end-to-end, re-expressed Spark-first.
  *
  * The reference's search log carries free-text Vietnamese/English
  * keywords (ETL_customer_behavior.py prompt examples :96-105). The
  * synthetic `events` table has no keyword column, so the queries derive
  * a deterministic search log from it: a fixed 25-entry keyword
  * vocabulary covering every category of the closed 14-class taxonomy
  * (ETL_customer_behavior.py:71-85), including deliberately messy forms
  * (missing diacritics, rule-priority overlaps) — indexed by
  * `event_id % 25`. Pure column transform of driver data, identical in
  * DuckDB, and it exercises EVERY branch of the rule chain plus the
  * "Other" fallback (:121,:131), which distinct `documents` tokens alone
  * cannot (they are all English prose → all "Other").
  *
  * Scale shape (the X1 redesign contract, see [[graft.semantic]]):
  * classification cost is per DISTINCT keyword, never per log row —
  * [[KeywordClassifier.applyDistinct]] computes the mapping on the
  * distinct set and joins it back, so a 100 TB log with a
  * millions-row keyword set classifies each keyword once. The rule
  * classifier itself is a literal when-chain (whole-stage codegen'd).
  */
object ClassifyQueries {

  /** At least one keyword per taxonomy category + two no-match forms;
    * order is load-bearing only in that `% SearchVocab.size` must cover
    * all entries. Overlap cases ("phim hành động" matches both the
    * Action and Drama rules; "phim ma rạp" both Horror and Drama;
    * "phim trung quốc" both C Drama and Drama) pin first-match-wins
    * priority cross-engine; "phim bộ việt nam" is the one PURE Drama
    * form (no earlier-rule overlap), so plain "Drama" — last in the rule
    * chain and shadowed by every regional/genre rule — still appears in
    * the output and all 14 categories are emitted. */
  val SearchVocab: Seq[String] = Seq(
    "VTV3 HD", "kenh 14",                      // TV Channel
    "Running Man tập 5", "master key hàn",     // Reality Show
    "bóng đá việt nam", "world cup 2022",      // Sports
    "thời sự 19h", "tin tức 24h",              // News
    "nhạc trẻ remix", "karaoke tuyển chọn",    // Music
    "hoạt hình doraemon", "pokemon",           // Animation
    "phim ma rạp", "kinh dị thái",             // Horror
    "love in the moonlight", "capdoi hoàn hảo",// Romance
    "hài tết 2022", "funny moments",           // Comedy
    "phim hành động mỹ", "action movie",       // Action
    "phim trung quốc", "hàn quốc tình cảm",    // C Drama, K Drama
    "phim bộ việt nam",                        // Drama (pure, unshadowed)
    "thuyetminh", "xin chào")                  // Other (fallback)

  /** events → (user_id, ts, keyword): the deterministic search log. */
  def searchLog(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d).select(
      col("user_id"), col("ts"),
      element_at(array(SearchVocab.map(lit): _*),
                 (col("event_id") % SearchVocab.size).cast("int") + 1)
        .as("keyword"))

  /** The same vocabulary lookup in DuckDB (1-based list_extract). */
  private val vocabSql: String =
    SearchVocab.map(k => s"'$k'").mkString(
      "list_extract([", ", ", s"], CAST(event_id % ${SearchVocab.size} AS INT) + 1)")

  /** [[RuleClassifier.Rules]] as a first-match-wins CASE chain over a
    * pre-normalized column `k` — generated from the SAME rule table the
    * Spark when-chain folds over, so impl and oracle cannot drift. */
  private val categoryCaseSql: String =
    RuleClassifier.Rules.map { case (pat, cat) =>
      s"WHEN contains(k, '${pat.replace("'", "''")}') THEN '$cat'"
    }.mkString("CASE ", " ", s" ELSE '${KeywordClassifier.Fallback}' END")

  /** X1: classify every distinct keyword — documents tokens (a large
    * mostly-"Other" set, the realistic distinct-heavy shape) UNION the
    * event search log (full taxonomy coverage) — via the distributed
    * distinct→classify→join-back path, then roll up per category.
    * Hash-checks both the rule semantics (n_keywords per class) and the
    * join-back multiplicity (n_rows counts log occurrences). */
  val classifyKeywords = Q(
    "q_classify_keywords",
    s"""WITH kws AS (
       |  SELECT unnest(string_split(text, ' ')) AS keyword FROM documents
       |  UNION ALL
       |  SELECT $vocabSql FROM events
       |), cls AS (
       |  SELECT keyword, $categoryCaseSql AS category
       |  FROM (SELECT keyword, lower(trim(keyword)) AS k FROM kws WHERE keyword <> '')
       |)
       |SELECT category, count(*) AS n_rows, count(DISTINCT keyword) AS n_keywords
       |FROM cls GROUP BY category ORDER BY category""".stripMargin) { (s, d) =>
    val docWords = Tables.documents(s, d)
      .select(explode(split(col("text"), " ")).as("keyword"))
      .filter(col("keyword") =!= "")
    // applyDistinct consumes its input twice (the distinct mapping side
    // + the join-back probe) — materialize the exploded union once so
    // the doc-text split and the event-log scan run a single pass
    val all = docWords.unionByName(searchLog(s, d).select("keyword"))
      .materializeOnce
    RuleClassifier.applyDistinct(s, all, "keyword", "category")
      .groupBy("category")
      .agg(count(lit(1)).as("n_rows"),
           countDistinct(col("keyword")).as("n_keywords"))
      .orderBy("category")
  }

  /** Pipeline B end-to-end (ETL_customer_behavior.py:160-204), one
    * oracle-checked composition — the Pipeline-B twin of
    * `q_engagement_full`: per-(half, user) most-searched keyword
    * (most_search :10-15, with the engine's deterministic keyword
    * tie-break — the reference's bare `ORDER BY count DESC` rank is
    * nondeterministic), rule-classified (generate_category :27-136 →
    * distributed classifier), halves joined INNER on user_id (:197),
    * then Trending_Type (:21-25) and Category_Change (:136-142) over
    * the two category columns.
    *
    * The reference's two month-loads (June/July) become the two halves
    * of the single synthetic month (day ≤ 15 — the same adaptation
    * q_c6c7_trend_nulls established). Plan shape: pipeline B's own
    * pick-and-pair ([[TopKeyword.paired]]: one hash-agg on (user, half,
    * keyword), then ONE aggregate on user_id that picks both halves and
    * keeps users present in both — no window, no H1×H2 self-join), then
    * one classification of the distinct picked keywords joined back
    * onto both columns. */
  val behaviorTrend = Q(
    "q_behavior_trend",
    s"""WITH log AS (
       |  SELECT user_id, CASE WHEN day(ts) <= 15 THEN 'H1' ELSE 'H2' END AS half,
       |    $vocabSql AS keyword
       |  FROM events
       |), counts AS (
       |  SELECT half, user_id, keyword, count(*) AS n FROM log GROUP BY 1, 2, 3
       |), top1 AS (
       |  SELECT half, user_id, keyword FROM (
       |    SELECT half, user_id, keyword,
       |      row_number() OVER (PARTITION BY half, user_id ORDER BY n DESC, keyword) AS rnk
       |    FROM counts) WHERE rnk = 1
       |), cls AS (
       |  SELECT half, user_id, keyword, $categoryCaseSql AS category
       |  FROM (SELECT half, user_id, keyword, lower(trim(keyword)) AS k FROM top1)
       |)
       |SELECT a.user_id,
       |  a.keyword AS most_search_h1, a.category AS category_h1,
       |  b.keyword AS most_search_h2, b.category AS category_h2,
       |  CASE WHEN a.category = b.category THEN 'Unchanged' ELSE 'Changed' END AS trending_type,
       |  CASE WHEN a.category <> b.category
       |       THEN concat_ws('-', a.category, b.category)
       |       ELSE 'Unchanged' END AS category_change
       |FROM (SELECT * FROM cls WHERE half = 'H1') a
       |JOIN (SELECT * FROM cls WHERE half = 'H2') b USING (user_id)
       |ORDER BY user_id""".stripMargin) { (s, d) =>
    val picks = TopKeyword.paired(searchLog(s, d),
      when(dayofmonth(col("ts")) <= 15, "H1").otherwise("H2"),
      Seq("H1" -> "most_search_h1", "H2" -> "most_search_h2"))
    RuleClassifier.applyDistinct(s, picks,
        Seq("most_search_h1" -> "category_h1", "most_search_h2" -> "category_h2"))
      .select(
        col("user_id"),
        col("most_search_h1"), col("category_h1"),
        col("most_search_h2"), col("category_h2"),
        Trend.trendingType(col("category_h1"), col("category_h2")).as("trending_type"),
        Trend.categoryChange(col("category_h1"), col("category_h2")).as("category_change"))
      .orderBy("user_id")
  }
}
