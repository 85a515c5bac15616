package graft.perfbench

import java.nio.file.Path
import java.util.concurrent.atomic.AtomicLong

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.ContentTypeMap
import graft.pipeline.{BehaviorPipeline, InteractionPipeline}
import graft.semantic.{BatchClassifier, MockLlmClassifier, RuleClassifier}
import graft.sources.ParquetSink

/** Pipeline B's LLM-shaped enrichment path: the [[MockLlmClassifier]]
  * rules with no added latency, counting calls, keywords and time spent
  * classifying (executors share this JVM under local[n]). */
final class CountingClassifier extends BatchClassifier {
  private val rules = new MockLlmClassifier()
  override def classifyBatch(keywords: Seq[String]): Map[String, String] = {
    val t0 = System.nanoTime()
    val out = rules.classifyBatch(keywords)
    CountingClassifier.calls.incrementAndGet()
    CountingClassifier.keywords.addAndGet(keywords.size.toLong)
    CountingClassifier.nanos.addAndGet(System.nanoTime() - t0)
    out
  }
}

object CountingClassifier {
  val calls = new AtomicLong(0)
  val keywords = new AtomicLong(0)
  val nanos = new AtomicLong(0)
}

/** `c360_etl`: pipeline A over 30 generated interaction days and
  * pipeline B over 14 June + 14 July search-log days, both written
  * through `ParquetSink`. One iteration = A then B. */
final class C360Workload(conf: Main.Conf, w: JsonNode, t: Tracer) extends Workload {
  private val inputs = new C360Inputs(conf.seed, w.path("rows_per_day").asInt())
  private val outDir: Path = conf.runDir.resolve("c360_out")
  private val sink = ParquetSink(outDir.toString)
  private var totals: Totals = _
  private var aPaths, june, july: Seq[String] = Nil
  private val classifier = new CountingClassifier
  private val QuickWarm = 10

  def prepare(spark: SparkSession): Int = {
    // determinism self-check: same seed, same rows; another seed, others
    val digest = inputs.sampleDigest()
    val sameOk = new C360Inputs(conf.seed, inputs.rowsPerDay).sampleDigest() == digest
    val otherOk = new C360Inputs(conf.seed + 1, inputs.rowsPerDay).sampleDigest() != digest
    val (a, j6, j7, t) = inputs.write(spark, conf.runDir.resolve("c360_in"))
    aPaths = a; june = j6; july = j7; totals = t
    println(s"generator seed=${conf.seed} rows_a=${t.aRows} rows_b=${t.bRows} " +
      s"profile_contracts=${t.profileContracts} users_june=${t.juneUsers} " +
      s"users_july=${t.julyUsers} users_both=${t.bothMonthUsers} " +
      f"sample_digest=$digest%08x same_seed_identical=$sameOk other_seed_differs=$otherOk")
    (if (sameOk) 0 else 1) + (if (otherOk) 0 else 1)
  }

  /** Warm-up: pass 0 runs the full input and checks conservation; then
    * `QuickWarm` passes over two A days and one day of each month warm
    * the driver-side code. Analysis and planning repeat in every
    * iteration whatever its input size, and after four full iterations
    * thousands of their methods were still reaching the JIT during the
    * timed ones. */
  override def warmIterations: Int = QuickWarm + 1

  /** With `checkOutputs` (the first warm iteration) the outputs are also
    * checked for conservation; a mismatch fails both ops. */
  def iteration(spark: SparkSession, pass: Int, checkOutputs: Boolean): Seq[OpResult] = {
    val quick = pass < 0 && -pass <= QuickWarm
    val (a1, j6, j7) = if (quick) (aPaths.take(2), june.take(1), july.take(1)) else (aPaths, june, july)
    val a = op("interaction") {
      val df = t("construct", "InteractionPipeline.build", "interaction") {
        InteractionPipeline.build(spark, a1)
      }
      t("write", "ParquetSink.write", "interaction") { sink.write(df, "interaction_data") }
    }
    val b = op("behavior") {
      val df = t("construct", "BehaviorPipeline.build", "behavior") {
        BehaviorPipeline.build(spark, j6, j7, classifier)
      }
      t("write", "ParquetSink.write", "behavior") { sink.write(df, "behavior_data") }
    }
    if (checkOutputs && conservation(spark) > 0) Seq(a, b).map(_.copy(ok = false))
    else Seq(a, b)
  }

  private def op(name: String)(body: => Unit): OpResult =
    try { val (_, s) = t.timed("op", name, name)(body); OpResult(name, s, ok = true) }
    catch { case e: Exception =>
      System.err.println(s"[perfbench] $name failed: $e"); OpResult(name, 0.0, ok = false)
    }

  /** Conservation against the generator's totals, on what the last
    * iteration wrote: one profile row per non-sentinel contract with a
    * mapped app, per-type duration sums, active days, and one behaviour
    * row per user seen in both months. */
  private def conservation(spark: SparkSession): Int = {
    val prof = spark.read.parquet(outDir.resolve("interaction_data").toString)
    val types = ContentTypeMap.ContentTypes
    val aggs = count(lit(1)) +: sum(col("Active")) +:
      types.map(t => sum(col("Total_" + t.replace(' ', '_'))))
    val r = prof.agg(aggs.head, aggs.tail: _*).collect()(0)
    val behaviorRows = spark.read.parquet(outDir.resolve("behavior_data").toString).count()
    val got = Seq(r.getLong(0), r.getLong(1)) ++ types.indices.map(i => r.getLong(2 + i)) :+ behaviorRows
    val want = Seq(totals.profileContracts.toLong, totals.activeDays.toLong) ++
      totals.durationByType.map(_._2) :+ totals.bothMonthUsers.toLong
    if (got == want) 0
    else {
      System.err.println(s"[perfbench] c360 conservation mismatch: got $got want $want")
      1
    }
  }

  /** Once per run, on the last timed iteration's outputs: conservation,
    * and the batch-classified behaviour table must equal the rule
    * (expression) classifier's output. */
  def finish(spark: SparkSession): Int = {
    val failed = conservation(spark)
    val batch = spark.read.parquet(outDir.resolve("behavior_data").toString)
    val rule = BehaviorPipeline.build(spark, june, july, RuleClassifier)
    val same = Digest(rule) == Digest(batch)
    if (!same) System.err.println("[perfbench] batch classifier output differs from RuleClassifier")
    failed + (if (same) 0 else 1)
  }

  def report(walls: Seq[Double], ops: Seq[OpResult]): Seq[(String, Double, String)] = Seq(
    ("input_rows_per_s", (totals.aRows + totals.bRows) / Stats.median(walls), "rows/s"),
    ("interaction_s", Stats.median(ops.filter(_.name == "interaction").map(_.seconds)), "s"),
    ("behavior_s", Stats.median(ops.filter(_.name == "behavior").map(_.seconds)), "s"))

  def isQuery(op: OpResult): Boolean = true

  /** One iteration generates about 22 classes. At Spark's default of 100
    * cached classes, repeated iterations fell, in some runs and at some
    * point, into evicting and recompiling all of them each iteration
    * (12-22 compiles and 2-3 s more JIT per iteration, walls ~40%
    * slower), so run medians split in two. A nightly run executes each
    * pipeline once; the timed iterations measure the steady state where
    * its plans are reused. */
  override def sessionConf: Map[String, String] =
    Map("spark.sql.codegen.cache.maxEntries" -> "1000")

  override def counters: Map[String, Double] = Map(
    "classify_calls" -> CountingClassifier.calls.get.toDouble,
    "keywords" -> CountingClassifier.keywords.get.toDouble,
    "classify_s" -> CountingClassifier.nanos.get / 1e9)
}
