package graft.semantic

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Keyword → category classification — the engine's redesign of the
  * reference's only nontrivial operator (X1, ETL_customer_behavior.py:
  * 27-136): a driver-side `limit(10000).toPandas()` collect feeding a
  * remote LLM with a hardcoded API key.
  *
  * Engine architecture (SURVEY §2.10, §3.3):
  *  - a [[KeywordClassifier]] trait with two execution shapes:
  *    column-expression (pure Catalyst, codegen'd, for rule-based
  *    impls) and batch (`Iterator[String] => Map`, for remote models);
  *  - application is fully distributed and lazy: distinct keywords →
  *    classify ([[KeywordClassifier.mapping]], the one method an
  *    execution shape overrides) → join the mapping back. No driver
  *    collect, no 10k row cap, deterministic under retry;
  *  - credentials are injected, never embedded.
  *
  * The closed 14-category vocabulary comes from the reference prompt
  * (ETL_customer_behavior.py:71-85); unknown/unmatched → "Other"
  * (fallback semantics at :121,:131).
  */
trait KeywordClassifier extends Serializable {

  /** Classify one keyword column to a category column. */
  def categorize(keyword: Column): Column

  /** The keyword → category mapping of `keywords`, a frame of distinct
    * non-null strings in one column `keyword`: columns (keyword,
    * category). The one thing an implementation may change about how a
    * frame is classified; [[applyDistinct]] builds its input and joins
    * it back. */
  def mapping(spark: SparkSession, keywords: DataFrame): DataFrame =
    keywords.withColumn("category", categorize(col("keyword")))

  /** Attach one category column per (keyword column, output name) to
    * `df`: the distinct non-null keywords of all the listed columns are
    * classified once ([[mapping]]), and that one mapping is joined back
    * onto each column; a null or unmapped keyword gets the fallback —
    * the scale path for expensive classifiers (at 100 TB the distinct
    * keyword set is millions of rows while the log is billions). The
    * mapping carries NO static broadcast hint: distinct keywords grow
    * with the corpus, and a pinned hint fails hard at the 8 GB broadcast
    * cap instead of demoting — AQE broadcasts the mapping while it
    * measures small and shuffles on the keyword past the cap (r15
    * verdict item 2's class; PlanHygieneSpec forbids re-pinning). The
    * joins share the mapping's exchange, so it is built once. Columns
    * keep their order; the outputs follow them. */
  def applyDistinct(spark: SparkSession, df: DataFrame,
                    columns: Seq[(String, String)]): DataFrame = {
    val keywords = df
      .select(explode(array(columns.map { case (k, _) => col(k).cast("string") }: _*)).as("keyword"))
      .filter(col("keyword").isNotNull)
      .distinct()
    val m = mapping(spark, keywords)
    columns.foldLeft(df) { case (acc, (k, out)) =>
      acc.join(m.toDF(k, out), Seq(k), "left")
    }.select(df.columns.map(col) ++ columns.map { case (_, out) =>
      coalesce(col(out), lit(KeywordClassifier.Fallback)).as(out) }: _*)
  }

  /** [[applyDistinct]] over one keyword column. */
  def applyDistinct(spark: SparkSession, df: DataFrame, keywordCol: String,
                    outName: String): DataFrame =
    applyDistinct(spark, df, Seq(keywordCol -> outName))
}

object KeywordClassifier {

  /** The closed category vocabulary (reference prompt order). */
  val Vocabulary: Seq[String] = Seq(
    "Action", "Romance", "Comedy", "Horror", "Animation", "Drama",
    "C Drama", "K Drama", "Sports", "Music", "Reality Show",
    "TV Channel", "News", "Other")

  val Fallback = "Other"
}

/** Deterministic offline classifier: Unicode-normalized substring rules
  * mirroring the reference prompt's published heuristics ("VTV/HTV/
  * Channel → TV Channel", "running/reality → Reality Show", …), extended
  * with common Vietnamese genre markers. First matching rule wins; no
  * match → "Other". Fully codegen'd (a literal when-chain), so it runs
  * inside whole-stage codegen at any scale and needs no network.
  */
object RuleClassifier extends KeywordClassifier {

  /** (pattern, category) rules over the normalized keyword; first match
    * wins. Patterns are lowercase substrings. */
  val Rules: Seq[(String, String)] = Seq(
    // TV channels
    "vtv" -> "TV Channel", "htv" -> "TV Channel", "channel" -> "TV Channel",
    "kênh" -> "TV Channel", "kenh" -> "TV Channel",
    // reality shows
    "running" -> "Reality Show", "master key" -> "Reality Show",
    "reality" -> "Reality Show", "show" -> "Reality Show",
    // sports
    "bóng đá" -> "Sports", "bong da" -> "Sports", "world cup" -> "Sports",
    "sport" -> "Sports", "sea games" -> "Sports", "thể thao" -> "Sports",
    // news
    "thời sự" -> "News", "tin tức" -> "News", "news" -> "News",
    // music
    "nhạc" -> "Music", "nhac" -> "Music", "music" -> "Music",
    "karaoke" -> "Music",
    // kids / animation
    "hoạt hình" -> "Animation", "anime" -> "Animation",
    "doraemon" -> "Animation", "pokemon" -> "Animation",
    // horror
    "ma " -> "Horror", "kinh dị" -> "Horror", "horror" -> "Horror",
    "bigfoot" -> "Horror",
    // romance
    "romantic" -> "Romance", "love" -> "Romance", "tình yêu" -> "Romance",
    "cặp đôi" -> "Romance", "capdoi" -> "Romance",
    // comedy
    "hài" -> "Comedy", "comedy" -> "Comedy", "funny" -> "Comedy",
    // action
    "action" -> "Action", "hành động" -> "Action",
    // regional dramas
    "c drama" -> "C Drama", "trung quốc" -> "C Drama",
    "k drama" -> "K Drama", "hàn quốc" -> "K Drama", "korea" -> "K Drama",
    // generic drama / film markers
    "phim" -> "Drama", "drama" -> "Drama", "tập" -> "Drama")

  /** Normalization: trim + lowercase (NFC form assumed from the source;
    * diacritics preserved — Vietnamese rules depend on them). */
  def normalize(keyword: Column): Column = lower(trim(keyword))

  def categorize(keyword: Column): Column = {
    val k = normalize(keyword)
    val chain = Rules.foldRight(lit(KeywordClassifier.Fallback): Column) {
      case ((pat, cat), rest) => when(k.contains(pat), cat).otherwise(rest)
    }
    when(keyword.isNull, KeywordClassifier.Fallback).otherwise(chain)
  }
}
