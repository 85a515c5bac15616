package graft.pipeline

import java.nio.file.{Files, Paths}

import scala.util.Random

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{ContentTypeMap, Engagement, TopKeyword, Trend}
import graft.schema.Schemas
import graft.semantic.{KeywordClassifier, MockLlmClassifier, RuleClassifier}
import graft.sources.Sources

/** The two reference pipelines against their earlier compositions,
  * written out here: pipeline B as a per-month `row_number` pick, a
  * per-month classification and an inner USING join of the months;
  * pipeline A as Spark's `pivot` plus a `countDistinct` profile; both
  * over the earlier sources, which derived `log_date` per row from
  * `input_file_name` and read each month of B separately. The
  * rewritten plans must give the same rows. */
class PipelineDifferentialSpec extends SparkSpec {
  import spark.implicits._

  private def oldBehavior(june: Seq[String], july: Seq[String],
                          clf: KeywordClassifier): DataFrame = {
    def month(dirs: Seq[String], suffix: String) = {
      val counts = Sources.searchLogs(spark, dirs)
        .groupBy("user_id", "keyword").agg(count(lit(1)).as("count"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("count").desc, col("keyword").asc_nulls_last)
      val top = counts.withColumn("rank", row_number().over(w))
        .filter(col("rank") === 1)
        .select(col("user_id"), col("keyword").as("most_search"))
      clf.applyDistinct(spark, top, "most_search", "category")
        .select(col("user_id"),
          col("most_search").as(s"most_search_$suffix"),
          col("category").as(s"category_$suffix"))
    }
    val (c6, c7) = (col("category_T6"), col("category_T7"))
    month(june, "T6").join(month(july, "T7"), Seq("user_id"), "inner")
      .select(col("user_id"), col("most_search_T6"), c6, col("most_search_T7"), c7,
        when(c6 === c7, "Unchanged").otherwise("Changed").as("Trending_Type"),
        when(c6 =!= c7, concat_ws("-", c6, c7)).otherwise("Unchanged").as("Category_Change"))
  }

  /** One search-log day directory holding `rows` of (user_id, keyword). */
  private def day(root: String, date: String, rows: Seq[(String, String)]): String = {
    val dir = s"$root/$date"
    rows.toDF("user_id", "keyword")
      .select(Schemas.searchLog.map(f =>
        (if (f.name == "user_id" || f.name == "keyword") col(f.name) else lit(null))
          .cast(f.dataType).as(f.name)): _*)
      .coalesce(1).write.parquet(dir)
    dir
  }

  private def n(k: Int, row: (String, String)) = Seq.fill(k)(row)

  /** Crafted months: tied counts, null keywords (u3's only June keyword
    * is null), a null user in both months, June-only u5 and July-only
    * u7, plus seeded random traffic; June spans two day directories. */
  private lazy val (june, july) = {
    val root = Files.createTempDirectory("graft_behavior_diff").toString
    val rng = new Random(7)
    val vocab = Seq("VTV3 HD", "phim ma rạp", "love story", "bóng đá", "nhạc trẻ",
      "hài tết", "xin chào", "running man", "doraemon", "phim bộ", null)
    def random(k: Int) = Seq.fill(k)((s"r${rng.nextInt(25)}", vocab(rng.nextInt(vocab.size))))
    val june1 = n(2, ("u1", "zebra")) ++ n(2, ("u1", "apple")) ++
      n(3, ("u2", null)) ++ n(1, ("u2", "kw")) ++ n(2, ("u3", null)) ++
      n(1, ("u4", null)) ++ n(1, ("u4", "b")) ++ n(5, (null, "x")) ++
      n(1, ("u5", "VTV3")) ++ random(200)
    val july1 = n(1, ("u1", "love")) ++ n(1, ("u2", "phim")) ++
      n(2, ("u3", "bóng đá")) ++ n(1, ("u4", "nhạc")) ++ n(1, ("u4", "hài")) ++
      n(5, (null, "y")) ++ n(1, ("u7", "running man")) ++ random(300)
    (Seq(day(root, "20220601", june1), day(root, "20220602", random(150))),
     Seq(day(root, "20220701", july1)))
  }

  private def assertSameRows(got: DataFrame, want: DataFrame, what: String): Unit = {
    assert(got.columns.toSeq == want.columns.toSeq, what)
    assert(got.exceptAll(want).count() == 0, s"$what: rows only in the rewritten plan")
    assert(want.exceptAll(got).count() == 0, s"$what: rows only in the earlier plan")
  }

  private val classifiers = Seq(
    "RuleClassifier" -> RuleClassifier,
    "MockLlmClassifier(dropEvery = 3)" -> new MockLlmClassifier(dropEvery = 3))

  test("pipeline B equals the per-month window, classify and join composition") {
    for ((name, clf) <- classifiers) {
      val got = BehaviorPipeline.build(spark, june, july, clf)
      assertSameRows(got, oldBehavior(june, july, clf), name)
      val byUser = got.collect().map(r => Option(r.getString(0)) -> r).toMap
      assert(!byUser.contains(None) && !byUser.contains(Some("u5")) &&
        !byUser.contains(Some("u7")), name)
      assert(byUser(Some("u1")).getAs[String]("most_search_T6") == "apple", name)
      assert(byUser(Some("u2")).isNullAt(1), name)
      assert(byUser(Some("u3")).isNullAt(1) &&
        byUser(Some("u3")).getAs[String]("category_T6") == KeywordClassifier.Fallback, name)
      assert(byUser(Some("u4")).getAs[String]("most_search_T6") == "b", name)
    }
  }

  test("pipeline B with one directory as both months equals the earlier composition") {
    for ((name, clf) <- classifiers; dirs <- Seq(june, july)) {
      val got = BehaviorPipeline.build(spark, dirs, dirs, clf)
      assertSameRows(got, oldBehavior(dirs, dirs, clf), s"$name $dirs")
      assert(got.filter(col("Trending_Type") =!= "Unchanged").count() == 0, s"$name $dirs")
    }
  }

  /** The earlier interaction source: `log_date` parsed per row from
    * the row's file name. */
  private def perRowInteractions(paths: Seq[String]): DataFrame =
    spark.read.schema(Schemas.interactionLog).json(paths: _*)
      .select(col("_source.*"), input_file_name().as("_file"))
      .withColumn("log_date",
        to_date(regexp_extract(col("_file"), "(\\d{8})[^/]*$", 1), "yyyyMMdd"))
      .drop("_file")

  /** The earlier search source: `log_date` parsed per row from the
    * row's day directory. */
  private def perRowSearch(dirs: Seq[String]): DataFrame =
    spark.read.schema(Schemas.searchLog).parquet(dirs: _*)
      .withColumn("log_date",
        to_date(regexp_extract(input_file_name(), "(\\d{8})/[^/]*$", 1), "yyyyMMdd"))

  /** Pipeline B over the earlier sources: one tagged read per month,
    * the two unioned. */
  private def perRowBehavior(june: Seq[String], july: Seq[String]): DataFrame = {
    def month(dirs: Seq[String], tag: String) =
      perRowSearch(dirs).select(col("user_id"), col("keyword"), lit(tag).as("month"))
    val picks = TopKeyword.paired(month(june, "T6").unionByName(month(july, "T7")),
      col("month"), Seq("T6" -> "most_search_T6", "T7" -> "most_search_T7"))
    Trend(RuleClassifier.applyDistinct(spark, picks,
      Seq("most_search_T6" -> "category_T6", "most_search_T7" -> "category_T7")))
  }

  /** Day inputs named to trip a path-derived date: interaction day
    * files under an 8-digit parent directory, one of them all nulls and
    * one mostly nulls; search day directories (below an 8-digit
    * ancestor) whose part files carry 8-digit runs in their names. */
  private lazy val (interactionDays, searchDays) = {
    val root = Files.createTempDirectory("graft_day_diff").resolve("19991231")
    val rng = new Random(23)
    val apps = Seq("CHANNEL", "VOD", "KPLUS", "RELAX", "CHILD", "FIMS", "SPORT", "kplus", "")
    def field(name: String, v: Option[String]) = v.fold(s""""$name":null""")(x => s""""$name":$x""")
    def line(i: Int, nulls: Double) = {
      def opt(v: => String) = if (rng.nextDouble() < nulls) None else Some(v)
      s"""{"_index":"history","_type":"kplus","_id":"$i","_score":0,"_source":{""" +
        Seq(field("Contract", opt(s""""C${rng.nextInt(12)}"""")),
          field("Mac", opt(s""""m$i"""")),
          field("TotalDuration", opt(rng.nextInt(5000).toString)),
          field("AppName", opt(s""""${apps(rng.nextInt(apps.size))}""""))).mkString(",") + "}}"
    }
    val a = Seq(("20220401", 0.05), ("20220402", 1.0), ("20220403", 0.7), ("20220404", 0.0))
      .map { case (d, nulls) =>
        val p = root.resolve(s"$d.json")
        Files.createDirectories(p.getParent)
        Files.writeString(p, (0 until 120).map(line(_, nulls)).mkString("\n"))
        p.toString
      }
    val vocab = Seq("VTV3 HD", "phim ma rạp", "love story", "bóng đá", "nhạc trẻ", null)
    val b = Seq(("20220601", 0.05), ("20220602", 0.8), ("20220701", 0.0)).map { case (d, nulls) =>
      val rows = Seq.fill(150)((
        if (rng.nextDouble() < nulls) null else s"u${rng.nextInt(20)}",
        if (rng.nextDouble() < nulls) null else vocab(rng.nextInt(vocab.size))))
      val dir = day(root.resolve("search").toString, d, rows)
      val parts = Files.list(Paths.get(dir)).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.getFileName.toString.startsWith("part-"))
      parts.zipWithIndex.foreach { case (p, i) =>
        Files.move(p, p.resolveSibling(f"part-20221231-$i%05d.snappy.parquet")) }
      dir
    }
    (a, b)
  }

  test("pipelines A and B over the day-file sources equal them over the per-row sources") {
    val a = interactionDays
    assertSameRows(InteractionPipeline.build(spark, a),
      Engagement(ContentTypeMap(perRowInteractions(a))), "pipeline A")
    assertSameRows(InteractionPipeline.build(spark, a :+ a.head),
      Engagement(ContentTypeMap(perRowInteractions(a :+ a.head))), "pipeline A, a day twice")
    val Seq(june1, june2, july1) = searchDays
    for ((june, july) <- Seq((Seq(june1, june2), Seq(july1)),
                             (Seq(june1, june2), Seq(june2, july1)),
                             (Seq(june1), Seq(june1))))
      assertSameRows(BehaviorPipeline.build(spark, june, july), perRowBehavior(june, july),
        s"pipeline B, June $june, July $july")
  }

  private val types = ContentTypeMap.ContentTypes

  private def oldPivot(typed: DataFrame): DataFrame =
    typed.groupBy(col("Contract"), col("log_date").as("Date"))
      .pivot("Type", types).sum("TotalDuration").na.fill(0, types)

  private def oldTotals(typed: DataFrame): DataFrame = {
    val sums = types.map(t => sum(col(t)).as("Total_" + t.replace(' ', '_')))
    oldPivot(typed).groupBy("Contract")
      .agg(sums.head, sums.tail :+ countDistinct(col("Date")).as("Active"): _*)
  }

  test("pipeline A equals the pivot and countDistinct profile (20 rounds)") {
    val rng = new Random(11)
    def opt[T](p: Double, v: => T): Option[T] = if (rng.nextDouble() < p) None else Some(v)
    (1 to 20).foreach { round =>
      val rows = Seq.fill(80)((
        opt(0.05, s"C${rng.nextInt(8)}"),
        types(rng.nextInt(types.size)),
        opt(0.15, rng.nextInt(1000).toLong),
        opt(0.1, f"202204${1 + rng.nextInt(28)}%02d")))
      val typed = rows.toDF("Contract", "Type", "TotalDuration", "d")
        .withColumn("log_date", to_date(col("d"), "yyyyMMdd")).drop("d")
      assertSameRows(Engagement.pivotDaily(typed), oldPivot(typed), s"round $round pivot")
      val profile = Engagement(typed)
      assertSameRows(profile.select(oldTotals(typed).columns.map(col): _*),
        oldTotals(typed), s"round $round profile")
    }
  }
}
