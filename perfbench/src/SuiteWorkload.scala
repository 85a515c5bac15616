package graft.perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Q, SparkEntry}
import graft.operators.IndexBuilds
import graft.pipeline.CorpusPipeline
import graft.sources.{IndexCatalog, ParquetSink, PartitionedParquetSink}

/** `curation_suite`: the fixed query list of the workload, once per
  * iteration in a seeded order, each query fully materialized
  * (`toRdd.count()`), then one `CorpusPipeline` manifest + sequences
  * build. The artifacts the queries serve are prebuilt during set-up.
  * Outputs are checked against the committed digests in
  * `perfbench/expected/<workload>.json`. */
final class SuiteWorkload(conf: Main.Conf, w: JsonNode, t: Tracer, sfDir: String)
    extends Workload {
  private val names = w.path("queries").elements().asScala.map(_.asText()).toSeq
  private val registry = SparkEntry.all.map(q => q.name -> q).toMap
  private val missing = names.filterNot(registry.contains)
  require(missing.isEmpty, s"queries not in the registry: ${missing.mkString(", ")}")
  private val queries: Seq[Q] = names.map(registry)
  private val prebuilds = w.path("prebuild").elements().asScala.map(_.asText()).toSeq
  private val builders = IndexBuilds.all.toMap
  require(prebuilds.forall(builders.contains),
    s"prebuild names not in IndexBuilds.all: ${prebuilds.filterNot(builders.contains)}")

  private val expectedPath: Path = conf.benchDir.resolve("expected").resolve(s"${conf.workload}.json")
  private val expected: Map[String, (Long, String)] =
    if (!Files.exists(expectedPath)) Map.empty
    else new ObjectMapper().readTree(expectedPath.toFile).properties().asScala.map { e =>
      e.getKey -> (e.getValue.path("rows").asLong(), e.getValue.path("digest").asText())
    }.toMap
  private val corpusOut: Path = conf.runDir.resolve("corpus_out")
  private val CorpusOp = "corpus_build"
  private var prebuilt = Set.empty[String]

  /** Train every listed artifact into a fresh catalog root. */
  override def prebuild(spark: SparkSession, setup: Int): (Int, Int) = {
    IndexCatalog.rootOverride = Some(conf.runDir.resolve(s"catalog-$setup").toString)
    IndexCatalog.resetProcessMemo()
    val before = IndexCatalog.buildCount.get()
    IndexCatalog.provenance.clear()
    prebuilds.foreach { n =>
      t("prebuild", n, n) { builders(n)(spark, sfDir) }
      spark.catalog.clearCache()
    }
    val adopted = IndexCatalog.provenance.values.count(_ == "adopted")
    prebuilt = IndexCatalog.provenance.keySet.toSet
    (IndexCatalog.buildCount.get() - before, adopted)
  }

  def prepare(spark: SparkSession): Int =
    if (expected.nonEmpty) 0
    else { System.err.println(s"[perfbench] no expected digests at $expectedPath"); 1 }

  /** Compare a digest; rows-only queries compare the count. */
  private def verify(name: String, df: DataFrame, rowsOnly: Boolean): Boolean = {
    val (rows, h) = Digest(df)
    val d = if (rowsOnly) "rows-only" else h
    expected.get(name) match {
      case Some((r, e)) if r == rows && e == d => true
      case other =>
        System.err.println(s"[perfbench] $name output digest ($rows, $d) != expected $other")
        false
    }
  }

  private def attempt(spark: SparkSession, q: Q): OpResult = {
    try {
      val (rows, s) = t.timed("op", q.name, q.name) {
        val df = t("construct", "Q.run", q.name) { q.run(spark, sfDir) }
        t("plan", "executedPlan", q.name) { df.queryExecution.executedPlan }
        t("exec", "toRdd.count", q.name) { df.queryExecution.toRdd.count() }
      }
      val ok = expected.get(q.name).exists(_._1 == rows)
      if (!ok)
        System.err.println(s"[perfbench] ${q.name} returned $rows rows, expected ${expected.get(q.name)}")
      OpResult(q.name, s, ok)
    } catch { case e: Exception =>
      System.err.println(s"[perfbench] ${q.name} failed: $e")
      OpResult(q.name, 0.0, ok = false)
    } finally spark.catalog.clearCache()
  }

  /** Untimed: run the query once and check its output digest. */
  private def check(spark: SparkSession, q: Q): OpResult =
    try OpResult(q.name, 0.0, verify(q.name, q.run(spark, sfDir), q.oracle.isEmpty))
    catch { case e: Exception =>
      System.err.println(s"[perfbench] ${q.name} failed: $e")
      OpResult(q.name, 0.0, ok = false)
    } finally spark.catalog.clearCache()

  /** The nightly corpus build: manifest written partitioned by split,
    * then the train split's sequences, both to a scratch dir. */
  private def corpus(spark: SparkSession): OpResult = {
    try {
      val (_, s) = t.timed("op", CorpusOp, CorpusOp) {
        val m = t("construct", "CorpusPipeline.manifest", CorpusOp) {
          CorpusPipeline.manifest(spark, sfDir)
        }
        t("write", "PartitionedParquetSink.write", CorpusOp) {
          PartitionedParquetSink(corpusOut.toString, "split").write(m, "manifest")
        }
        val seqs = t("construct", "CorpusPipeline.sequences", CorpusOp) {
          CorpusPipeline.sequences(spark.read.parquet(corpusOut.resolve("manifest").toString))
        }
        t("write", "ParquetSink.write", CorpusOp) {
          ParquetSink(corpusOut.toString).write(seqs, "sequences")
        }
      }
      spark.catalog.clearCache()
      OpResult(CorpusOp, s, ok = true)
    } catch { case e: Exception =>
      System.err.println(s"[perfbench] $CorpusOp failed: $e")
      OpResult(CorpusOp, 0.0, ok = false)
    }
  }

  def iteration(spark: SparkSession, pass: Int, checkOutputs: Boolean): Seq[OpResult] = {
    val order = new scala.util.Random(C360Inputs.mix(conf.seed, pass)).shuffle(queries)
    val qs = order.map(q => if (checkOutputs) check(spark, q) else attempt(spark, q))
    val lazyBuilds = IndexCatalog.provenance.keySet -- prebuilt
    if (checkOutputs && lazyBuilds.nonEmpty)
      println(s"note: artifacts trained outside the prebuild: ${lazyBuilds.toSeq.sorted.mkString(", ")}")
    qs :+ corpus(spark)
  }

  /** The corpus build's last written outputs must match their digests. */
  def finish(spark: SparkSession): Int = {
    val m = spark.read.parquet(corpusOut.resolve("manifest").toString)
    val s = spark.read.parquet(corpusOut.resolve("sequences").toString)
    Seq(verify("corpus_manifest", m, rowsOnly = false),
      verify("corpus_sequences", s, rowsOnly = false)).count(!_)
  }

  def report(walls: Seq[Double], ops: Seq[OpResult]): Seq[(String, Double, String)] =
    Seq(("corpus_build_s", Stats.median(ops.filter(_.name == CorpusOp).map(_.seconds)), "s"))

  def isQuery(op: OpResult): Boolean = op.name != CorpusOp
}
