package graft.pipeline

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{InputFileName, ParseToDate, RegExpExtract}
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._

import graft.JobCount
import graft.schema.Schemas
import graft.semantic.{BatchClassifier, MockLlmClassifier}

/** A batch classifier that records every keyword it is sent. */
final class RecordingClassifier extends BatchClassifier {
  private val rules = new MockLlmClassifier()
  override def classifyBatch(keywords: Seq[String]): Map[String, String] = {
    keywords.foreach(RecordingClassifier.seen.add)
    rules.classifyBatch(keywords)
  }
}

object RecordingClassifier {
  val seen = new ConcurrentLinkedQueue[String]()
}

/** The two reference pipelines run as minimal plans: the jobs a write
  * runs, the exchanges and operators of its final plan, and pipeline B
  * sending each surviving keyword to the classifier once. */
class PipelineShapeSpec extends JobCount {
  import spark.implicits._

  private object Adaptive extends AdaptiveSparkPlanHelper

  /** The final (post-AQE) physical plan of `df`, after running it. */
  private def finalPlan(df: DataFrame): SparkPlan = {
    df.collect()
    df.queryExecution.executedPlan
  }

  private lazy val root = Files.createTempDirectory("graft_pipeline_shape").toString

  /** Search-log months: users b0..b29 search in both months (the even
    * ones the same keywords, so one keyword is picked in both months),
    * j0..j9 in June only and l0..l9 in July only, each one-month user
    * with a keyword nobody else searches. */
  private lazy val (june, july) = {
    def day(date: String, rows: Seq[(String, String)]) = {
      val dir = s"$root/search/$date"
      rows.toDF("user_id", "keyword")
        .select(Schemas.searchLog.map(f =>
          (if (f.name == "user_id" || f.name == "keyword") col(f.name) else lit(null))
            .cast(f.dataType).as(f.name)): _*)
        .write.parquet(dir)
      dir
    }
    val shared = Seq("VTV3 HD", "phim ma rạp", "love story", "bóng đá", "nhạc trẻ", "xin chào")
    val both = (0 until 30).flatMap { u =>
      Seq.fill(1 + u % 3)((s"b$u", shared(u % shared.size))) :+ ((s"b$u", s"rare $u"))
    }
    val julyBoth = both.map { case (u, k) =>
      (u, if (u.drop(1).toInt % 2 == 0) k else k.reverse) }
    (Seq(day("20220601", both ++ (0 until 10).map(u => (s"j$u", s"june only $u")))),
     Seq(day("20220701", julyBoth ++ (0 until 10).map(u => (s"l$u", s"july only $u")))))
  }

  /** Three interaction days as Elasticsearch-export NDJSON. */
  private lazy val interactionDays: Seq[String] = {
    val apps = Seq("CHANNEL", "VOD", "RELAX", "CHILD", "SPORT", "UNKNOWN")
    Seq("20220401", "20220402", "20220403").map { d =>
      val lines = (0 until 60).map { i =>
        s"""{"_index":"history","_type":"kplus","_id":"$d-$i","_score":0,"_source":""" +
          s"""{"Contract":"C${i % 12}","Mac":"m$i","TotalDuration":${i * 7},""" +
          s""""AppName":"${apps(i % apps.size)}"}}"""
      }
      val p = Paths.get(root, "interaction", s"$d.json")
      Files.createDirectories(p.getParent)
      Files.write(p, lines.mkString("\n").getBytes(StandardCharsets.UTF_8))
      p.toString
    }
  }

  test("a pipeline A write runs at most 3 jobs over a 2-exchange plan") {
    val df = InteractionPipeline.build(spark, interactionDays)
    val (_, jobs) = jobsDuring(df.write.mode("overwrite").parquet(s"$root/out/interaction"))
    assert(jobs <= 3, s"pipeline A ran $jobs jobs")
    val exchanges = Adaptive.collect(finalPlan(df)) { case e: ShuffleExchangeExec => e }
    assert(exchanges.size == 2, s"pipeline A plans ${exchanges.size} exchanges")
  }

  test("a pipeline B write runs at most 5 jobs, with no window and no join of the months") {
    val df = BehaviorPipeline.build(spark, june, july, new RecordingClassifier)
    val (_, jobs) = jobsDuring(df.write.mode("overwrite").parquet(s"$root/out/behavior"))
    assert(jobs <= 5, s"pipeline B ran $jobs jobs")
    val plan = finalPlan(df)
    assert(Adaptive.collect(plan) { case w: WindowExec => w }.isEmpty, plan)
    // the only joins attach the keyword mapping; none is keyed on the user
    val joinKeys = Adaptive.collect(plan) { case j: BaseJoinExec =>
      (j.leftKeys ++ j.rightKeys).flatMap(_.references.map(_.name)) }
    assert(joinKeys.nonEmpty && joinKeys.forall(!_.contains("user_id")), joinKeys)
  }

  /** The per-row date derivations in the analyzed and final plans of
    * `df` (ParseToDate is replaced before physical planning, so only
    * the analyzed plan can show it). */
  private def dateDerivations(df: DataFrame): Seq[String] = {
    val logical = df.queryExecution.analyzed.collect { case p => p.expressions }.flatten
    val physical = Adaptive.collect(finalPlan(df)) { case p => p.expressions }.flatten
    (logical ++ physical).flatMap(_.collect {
      case e @ (_: InputFileName | _: RegExpExtract | _: ParseToDate) => e.nodeName })
  }

  test("neither pipeline derives a date per row; B reads both months as one relation") {
    val a = InteractionPipeline.build(spark, interactionDays)
    assert(dateDerivations(a).isEmpty, dateDerivations(a))
    val b = BehaviorPipeline.build(spark, june, july, new RecordingClassifier)
    assert(dateDerivations(b).isEmpty, dateDerivations(b))
    val relations = Adaptive.collect(finalPlan(b)) { case s: FileSourceScanExec => s.relation }
    assert(relations.map(_.location).distinct.size == 1, relations)
    assert(relations.head.partitionSchema.fieldNames.toSet == Set("month", "log_date"))
  }

  test("pipeline B classifies each top keyword of a both-month user once, " +
       "and no keyword of a one-month user") {
    val df = BehaviorPipeline.build(spark, june, july, new RecordingClassifier)
    RecordingClassifier.seen.clear()
    df.write.mode("overwrite").parquet(s"$root/out/behavior_once")
    val sent = RecordingClassifier.seen.asScala.toSeq
    val out = spark.read.parquet(s"$root/out/behavior_once")
    assert(out.count() == 30)
    val picked = out.select(explode(array(col("most_search_T6"), col("most_search_T7"))))
      .as[String].collect().filter(_ != null).distinct
    assert(sent.sorted == picked.toSeq.sorted)
    assert(!sent.exists(k => k.contains("only")))
  }
}
