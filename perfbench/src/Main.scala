package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** Benchmark entry point, started by `perfbench/run.py` in one JVM per
  * run:
  *
  *   graft.perfbench.Main --workload <name> --seed <n> --seconds <s>
  *     --trace <0|1> --run-dir <dir> --cores <n>
  *
  * A run sets up three times (session start, warm-up, artifact prebuild;
  * the last session is kept), prepares its inputs, runs the workload's
  * untimed warm iterations (the first also checks every output digest),
  * then timed iterations for about `--seconds`. Report lines go to
  * stdout; the result object goes to `<run-dir>/result.json`.
  */
object Main {

  final case class Conf(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, runDir: Path, cores: Int) {
    val benchDir: Path = Paths.get("perfbench")
  }

  def parse(args: Array[String]): Conf = {
    val kv = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    def req(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Conf(req("workload"), req("seed").toLong, req("seconds").toDouble,
      req("trace") == "1", Paths.get(req("run-dir")), req("cores").toInt)
  }

  def main(args: Array[String]): Unit = {
    val conf = parse(args)
    val spec = new ObjectMapper().readTree(conf.benchDir.resolve("spec.json").toFile)
    val w = spec.path("workloads").path(conf.workload)
    require(!w.isMissingNode, s"unknown workload ${conf.workload}")
    val result = new Run(conf, spec, w).execute()
    Files.write(conf.runDir.resolve("result.json"), result.getBytes("UTF-8"))
  }
}

/** One timed operation: a query attempt, a pipeline run or a corpus
  * build. `ok` is false when it threw or its output check failed. */
final case class OpResult(name: String, seconds: Double, ok: Boolean)

/** The workload-specific part of a run. */
trait Workload {
  /** Untimed iterations before the timed ones. */
  def warmIterations: Int = 1
  /** Prebuild artifacts for this setup; returns (trained, adopted). */
  def prebuild(spark: SparkSession, setup: Int): (Int, Int) = (0, 0)
  /** Untimed: make inputs and check the generator. Returns check failures. */
  def prepare(spark: SparkSession): Int
  /** One iteration; `checkOutputs` on the first (untimed) warm one. */
  def iteration(spark: SparkSession, pass: Int, checkOutputs: Boolean): Seq[OpResult]
  /** Untimed checks once the timed loop is over. Returns failures. */
  def finish(spark: SparkSession): Int
  /** Workload-specific report lines: (name, value, unit). */
  def report(walls: Seq[Double], ops: Seq[OpResult]): Seq[(String, Double, String)]
  /** Ops counted in query_p50_s / query_tail_s. */
  def isQuery(op: OpResult): Boolean
  /** Workload-specific per-layer counters, read as running totals. */
  def counters: Map[String, Double] = Map.empty
  /** Spark settings the workload's sessions add to the common ones. */
  def sessionConf: Map[String, String] = Map.empty
}

final class Run(conf: Main.Conf, spec: JsonNode, w: JsonNode) {
  private val dataDir = conf.benchDir.resolve(spec.path("data").asText()).toAbsolutePath.toString

  private def newSession(extra: Map[String, String]): SparkSession = {
    val s = SparkSession.builder()
      .config(extra)
      .master(s"local[${conf.cores}]")
      .appName(s"perfbench-${conf.workload}")
      .config("spark.sql.shuffle.partitions", conf.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", conf.runDir.resolve("local").toString)
      .config("spark.sql.warehouse.dir", conf.runDir.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def warmUp(spark: SparkSession): Unit = {
    spark.range(1000000).selectExpr("sum(id)").collect()
    graft.Tables.lineitem(spark, dataDir).selectExpr("sum(l_quantity)").collect()
  }

  def execute(): String = {
    Files.createDirectories(conf.runDir)
    val tracer = new Tracer
    val workload: Workload = conf.workload match {
      case "c360_etl" => new C360Workload(conf, w, tracer)
      case "curation_suite" => new SuiteWorkload(conf, w, tracer, dataDir)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // ---- set-up, repeated; the median is setup_s ----
    val run0 = System.nanoTime()
    val setups = ArrayBuffer.empty[(Double, Double, Int, Int)] // total, prebuild, trained, adopted
    var spark: SparkSession = null
    for (k <- 1 to Run.SetupRepeats) {
      val t0 = System.nanoTime()
      spark = newSession(workload.sessionConf)
      tracer.sc = spark.sparkContext
      warmUp(spark)
      val p0 = System.nanoTime()
      // the last set-up's prebuild calls are traced (kind "prebuild")
      tracer.enabled = conf.trace && k == Run.SetupRepeats
      val (trained, adopted) = workload.prebuild(spark, k)
      tracer.enabled = false
      val t1 = System.nanoTime()
      setups += (((t1 - t0) / 1e9, (t1 - p0) / 1e9, trained, adopted))
      if (k < Run.SetupRepeats) spark.stop()
    }

    val sourceFiles = Option(Paths.get("src/main/scala/graft/sources").toFile.listFiles())
      .map(_.map(_.getName).toSet).getOrElse(Set.empty[String])
    val counter = new JobCounter(sourceFiles)

    def phase(name: String): Unit =
      println(f"phase $name%s done at ${(System.nanoTime() - run0) / 1e9}%.1f s")
    phase("setup")
    var failed = workload.prepare(spark)
    phase("prepare")
    var attempted = 0
    // untimed warm iterations: the first also checks every output digest
    for (w <- 0 until workload.warmIterations) {
      val warm = workload.iteration(spark, -w, checkOutputs = w == 0)
      attempted += warm.size; failed += warm.count(!_.ok)
    }
    phase("warm-iterations")

    // ---- timed iterations ----
    val walls = ArrayBuffer.empty[(Double, Boolean)] // wall, traced
    val jvmDelta = ArrayBuffer.empty[(Long, Long, Long)] // JIT ms, GC ms, codegen compiles
    val ops = ArrayBuffer.empty[Seq[OpResult]] // per iteration
    val layer = new LayerTotals
    val loop0 = System.nanoTime()
    var pass = 1
    def elapsed = (System.nanoTime() - loop0) / 1e9
    // closed loop: start another iteration while it is expected to end
    // inside the window, and run at least MinIterations
    while (walls.size < Run.MinIterations ||
           elapsed + walls.map(_._1).last <= conf.seconds) {
      val traced = conf.trace && pass % 2 == 1
      if (traced) {
        spark.sparkContext.addSparkListener(counter)
        tracer.enabled = true
        layer.begin(workload.counters)
      }
      val j0 = JvmClocks.read()
      val (res, wall) = tracer.timed("iteration", s"pass $pass", conf.workload) {
        workload.iteration(spark, pass, checkOutputs = false)
      }
      if (traced) {
        layer.end(workload.counters, wall)
        tracer.enabled = false
        counter.drain()
        spark.sparkContext.removeSparkListener(counter)
      }
      val j1 = JvmClocks.read()
      walls += ((wall, traced))
      jvmDelta += ((j1.jitMs - j0.jitMs, j1.gcMs - j0.gcMs, j1.compiles - j0.compiles))
      ops += res
      attempted += res.size; failed += res.count(!_.ok)
      pass += 1
    }
    phase("timed-iterations")
    println("iteration walls " + walls.map { case (s, tr) => f"$s%.3f" + (if (tr) "t" else "") }.mkString(" ") +
      "; JIT/GC ms, codegen compiles " + jvmDelta.map { case (j, g, c) => s"$j/$g,$c" }.mkString(" "))
    failed += workload.finish(spark)
    spark.stop()
    phase("finish")

    // ---- metrics ----
    val untracedWalls = walls.toSeq.collect { case (s, false) => s }
    val tracedWalls = walls.toSeq.collect { case (s, true) => s }
    val allOps = ops.toSeq.flatten
    val queries = allOps.filter(workload.isQuery).map(_.seconds)
    val (tail, tailPct) = Stats.tail(queries)
    val setupS = Stats.median(setups.map(_._1).toSeq)
    val wallS = Stats.median(if (conf.trace) tracedWalls else untracedWalls)
    val e2e = Seq(
      ("setup_s", setupS, "s"),
      ("wall_s", wallS, "s"),
      ("query_p50_s", Stats.median(queries), "s"),
      ("peak_rss_mb", JvmClocks.peakRssMb(), "MB"))
    val extra = workload.report(if (conf.trace) tracedWalls else untracedWalls, allOps) ++ Seq(
      ("query_tail_s", tail, "s"),
      ("failed_frac", failed.toDouble / math.max(1, attempted), "ratio"),
      ("query_samples", queries.size.toDouble, "count"),
      ("query_tail_pct", tailPct, "%"),
      ("iterations", walls.size.toDouble, "count"))
    allOps.groupBy(_.name).toSeq.sortBy(_._1).foreach { case (n, rs) =>
      println(f"op ${conf.workload}%s $n%s median ${Stats.median(rs.map(_.seconds).toSeq)}%.3f s of " +
        rs.map(r => f"${r.seconds}%.3f").mkString(" "))
    }
    (e2e ++ extra).foreach { case (n, v, u) =>
      println(f"metric ${conf.workload}%s $n%s = $v%.6f $u%s")
    }

    val metrics: Seq[(String, Double, String)] =
      if (!conf.trace) e2e
      else {
        Files.createDirectories(Paths.get(".bench_build/traces"))
        tracer.write(Paths.get(s".bench_build/traces/${conf.workload}-seed${conf.seed}.spans.jsonl"),
          id => counter.jobsOf(id.toString).groupBy(_.layer).map { case (l, js) => l -> js.size })
        val overhead =
          if (untracedWalls.isEmpty) 0.0 else wallS - Stats.median(untracedWalls)
        val prebuild = setups.last
        layer.metrics(tracer.spans.toSeq, counter, conf.cores, overhead,
          prebuild._2, prebuild._3, prebuild._4)
      }
    metrics.foreach { case (n, v, u) =>
      if (conf.trace) println(f"layer ${conf.workload}%s $n%s = $v%.6f $u%s")
    }
    val body = metrics.map { case (n, v, u) =>
      s""""$n":{"value":${Stats.num(v)},"unit":"$u"}"""
    }.mkString(",")
    s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{$body}}"""
  }
}

object Run {
  val SetupRepeats = 3
  val MinIterations = 2
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Highest percentile with at least ten samples beyond it: the 11th
    * largest sample, and its percentile. Below 21 samples that
    * percentile would not exceed the median, so the largest sample. */
  def tail(xs: Seq[Double]): (Double, Double) =
    if (xs.isEmpty) (0.0, 0.0)
    else {
      val s = xs.sorted; val n = s.size
      if (n < 21) (s.last, 100.0)
      else (s(n - 11), 100.0 * (n - 10) / n)
    }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
}
