package graft

import java.nio.file.{Files, Paths}
import scala.collection.immutable.VectorMap
import scala.jdk.CollectionConverters._
import scala.util.Try

/** Benchmark main: times every registered query on the sf-dir given by
  * SPARK_GRAFT_SF_DIR.
  *
  * Output contract (round-1 postmortem: a single giant stdout JSON line
  * was tail-truncated by the harness and round 1 lost its official bench
  * number): stdout carries ONE SHORT summary line, emitted LAST — and the
  * full per-query map goes to `BENCH_DETAIL.json` in the working
  * directory instead of stdout.
  */
object Bench {

  /** What one bench run measured. `queries` holds each query's best
    * time over the passes (None = failed in every pass); the drive
    * pairs are (ok, seconds). */
  final case class Run(
      sf: String,
      queries: Seq[(String, Option[Double])],
      builds: Seq[Harness.Build],
      provenance: Seq[(String, String)],
      twin: (Boolean, Double),
      bloomLedger: Seq[(String, Seq[(String, Long)])],
      admission: (Boolean, Double),
      admissionFunnel: Seq[(Int, Long)],
      diagnostic: Boolean)

  /** The last stdout line and the files to write: none for a
    * diagnostic run, so a subset can never re-baseline the gate. */
  final case class Report(line: String, files: Seq[(String, String)])

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Diagnostic filter: time a subset inside the REAL bench environment
    // (post-prebuild, two interleaved passes), for bisecting effects
    // that only appear in-bench. The telemetry drives are skipped under
    // it: they are canonical-artifact payload, and an untimed 30 s
    // admission drive would defeat a bisection loop.
    val only = Harness.only()
    val spark = Session.local("graft-bench") // same shapes Verify checked
    // Warm the JVM/codegen/scan paths so the first measured query does
    // not absorb session startup (~5s of JIT + classloading).
    spark.range(1000000).selectExpr("sum(id)").collect()
    Tables.lineitem(spark, sfDir)
      .selectExpr("sum(l_quantity)").collect()
    // Pre-build every IndexCatalog artifact, timed separately: with
    // memoization, min-of-two would otherwise exclude index-build cost
    // from whichever query happened to build first (round-3 advice).
    // After this, every artifact-backed query measures SERVING cost —
    // the steady-state number a train-once/query-many deployment sees —
    // and build cost is reported explicitly as idx_* entries.
    val builds = Harness.prebuild(spark, sfDir, "bench")
    // Min of two INTERLEAVED full passes: this host has noisy co-tenants
    // that inflate measurements 5-10x, sometimes as a multi-minute burst.
    // Back-to-back attempts (round ≤6) shared the burst, so a contiguous
    // window of queries got flagged together; running the whole sorted
    // list twice puts each query's two attempts minutes apart, so a burst
    // inflates DIFFERENT queries in each pass and the per-query min stays
    // clean. One success is enough — a transient failure must not mask it.
    val qlist = only.getOrElse(Harness.all)
    val passes = Seq.fill(2)(qlist.map { case (name, fn) =>
      Harness.time(spark, "bench", name, fn, sfDir)
    })
    val queries = qlist.map(_._1).zip(passes.transpose.map(_.flatten.minOption))
    // Bloom-ledger telemetry (r15 verdict item 8): drive the
    // representative incremental twin through the paths a deployment
    // sees — seed (ledger invalidated), first batch (absent ledger →
    // exact scan + rebuild), two fresh batches (|delta| bloom probes,
    // the steady state), and a crash-restart replay (its own ids are in
    // the ledger → bloom hit → exact fallback, the documented cost of a
    // false positive). The per-kind counters land in BENCH_DETAIL so
    // the "fresh batches never scan the stored index" claim is audited
    // numbers, not scaladoc. Timed separately — never part of the
    // query total the regression gate baselines on.
    import org.apache.spark.sql.functions.col
    graft.streaming.IngestTelemetry.reset()
    // Crash-safety (round-16 verdict item 2): the twin tables are
    // MANAGED, so a killed run strands their warehouse locations and
    // the next run's seed dies with LOCATION_ALREADY_EXISTS — exactly
    // how the r16 canonical lost its bloom-ledger telemetry. Sweep
    // both names (metastore entry AND warehouse dir — a dir can
    // survive its catalog entry after a crash) BEFORE seeding, and
    // again after so this run's own failure can't strand them.
    val twinTables = Seq("bench_twin_corpus", "bench_twin_pairs")
    def sweepTwinTables(): Unit = twinTables.foreach { t =>
      try {
        spark.sql(s"DROP TABLE IF EXISTS $t")
        val loc = new org.apache.hadoop.fs.Path(
          spark.conf.get("spark.sql.warehouse.dir"), t)
        loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .delete(loc, true)
      } catch { case e: Exception =>
        System.err.println(s"[bench] twin sweep of $t failed: ${e.getMessage}")
      }
    }
    val twin = if (only.nonEmpty) (false, 0.0) else
      Harness.drive(spark, "bench", "twin") { scratch =>
        sweepTwinTables()
        try {
          val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
          val Seq(corpusT, pairT) = twinTables
          val bandD = s"$scratch/bands"
          graft.streaming.DedupStreams.seedCorpus(
            spark, docs.filter(col("doc_id") % 10 < 7), corpusT, bandD, 4)
          def slice(m: Int) = docs.filter(col("doc_id") % 10 === m)
          graft.streaming.DedupStreams.processBatch(slice(7), 0L, corpusT, pairT, bandD, 4)
          graft.streaming.DedupStreams.processBatch(slice(8), 1L, corpusT, pairT, bandD, 4)
          graft.streaming.DedupStreams.processBatch(slice(9), 2L, corpusT, pairT, bandD, 4)
          graft.streaming.DedupStreams.processBatch(slice(9), 2L, corpusT, pairT, bandD, 4)
        } finally sweepTwinTables()
      }
    val bloomLedger = graft.streaming.IngestTelemetry.snapshot
    // Admission-funnel telemetry (round 16): drive the composed
    // curation twin — train the three frozen models, admit the corpus
    // in three out-of-order slices, replay one — and land the per-level
    // verdict counts, so the on-arrival funnel's stage attribution is
    // audited numbers in the canonical artifact. Timed separately,
    // never part of the regression-gated query total.
    var admLevels: Seq[(Int, Long)] = Seq.empty
    val admission = if (only.nonEmpty) (false, 0.0) else
      Harness.drive(spark, "bench", "admission") { scratch =>
        val docsA = Tables.documents(spark, sfDir)
          .select("doc_id", "source", "text")
        val m = graft.streaming.AdmissionStreams.train(
          spark, sfDir, s"$scratch/models")
        def slice(k: Int) = docsA.filter(col("doc_id") % 3 === k)
        graft.streaming.AdmissionStreams.admitBatch(slice(2), 0L, m, s"$scratch/out")
        graft.streaming.AdmissionStreams.admitBatch(slice(0), 1L, m, s"$scratch/out")
        graft.streaming.AdmissionStreams.admitBatch(slice(1), 2L, m, s"$scratch/out")
        graft.streaming.AdmissionStreams.admitBatch(slice(2), 3L, m, s"$scratch/out")
        admLevels = graft.streaming.AdmissionStreams
          .admitted(spark, s"$scratch/out")
          .groupBy("level").count().collect()
          .map(r => r.getInt(0) -> r.getLong(1)).toSeq.sortBy(_._1)
      }
    spark.stop()
    val out = report(
      Run(sfDir, queries, builds,
        graft.sources.IndexCatalog.provenance.toSeq.sortBy(_._1), twin,
        bloomLedger, admission, admLevels,
        diagnostic = only.nonEmpty),
      committedDetail())
    out.files.foreach { case (f, txt) => Files.writeString(Paths.get(f), txt) }
    println(out.line)
  }

  /** The summary line, `BENCH_DETAIL.json` and the regression gate
    * against `prevDetail` (the last committed detail). */
  def report(run: Run, prevDetail: Option[String]): Report = {
    import Harness.r3
    val succeeded = run.queries.collect { case (k, Some(v)) => k -> r3(v) }
    // Explicit failed list: no -1 sentinels that a summing consumer
    // could mistake for timings.
    val failed = run.queries.collect { case (k, None) => k } ++
      run.builds.collect { case Harness.Build(k, None, _) => k }
    val total = r3(succeeded.map(_._2).sum)
    val builtOk = run.builds.collect { case Harness.Build(k, Some(v), _) => k -> r3(v) }
    val adopted = run.builds.collect { case Harness.Build(k, Some(_), false) => k }
    val indexBuild = r3(builtOk.map(_._2).sum)
    // Only compare same-scale runs: a local sf0.001 probe must not
    // become the baseline a subsequent sf0.1 run "regresses" from.
    val prevQueries: Map[String, Double] = prevDetail
      .flatMap(txt => Try(Harness.parse(txt)).toOption)
      .filter(_.path("sf").asText == run.sf)
      .map(_.path("queries").properties.asScala
        .map(e => e.getKey -> e.getValue.asDouble).toMap)
      .getOrElse(Map.empty)
    val regressions = (for {
      (k, cur) <- succeeded
      prev <- prevQueries.get(k)
      // only flag swings that are both large (>=2x) and material
      // (>=0.5s lost) — tiny queries jitter on a shared host
      if prev > 0 && cur >= 2 * prev && cur - prev >= 0.5
    } yield (k, prev, cur)).sortBy { case (_, p, c) => p - c }.map { case (k, p, c) =>
      VectorMap("query" -> k, "prev" -> p, "cur" -> c,
        "ratio" -> math.rint(c / p * 100) / 100)
    }
    val qs = VectorMap.from(succeeded)
    val head = VectorMap[String, Any]("metric" -> "total", "value" -> total,
      "unit" -> "sec", "n_queries" -> succeeded.size)
    val detail = Harness.json(head ++ VectorMap(
      "queries" -> qs, "index_build_sec" -> indexBuild,
      "index_builds" -> VectorMap.from(builtOk), "index_adopted" -> adopted,
      // adopt-vs-rebuild attribution per artifact key (r11 verdict item
      // 1: a stale-artifact straddle must be visible evidence)
      "artifact_provenance" -> VectorMap.from(run.provenance),
      "regressions" -> regressions, "failed" -> failed,
      "twin_ingest_sec" -> r3(run.twin._2), "twin_ingest_ok" -> run.twin._1,
      "bloom_ledger" -> VectorMap.from(
        run.bloomLedger.map { case (w, ks) => w -> VectorMap.from(ks) }),
      "admission_sec" -> r3(run.admission._2),
      "admission_ok" -> run.admission._1,
      "admission_funnel" -> VectorMap.from(
        run.admissionFunnel.map { case (l, n) => s"level$l" -> n }),
      "sf" -> run.sf))
    if (run.diagnostic) Report(s"""{"diagnostic":true,"detail":$detail}""", Nil)
    else {
      // The summary is the LAST stdout line (the parseable artifact) AND a
      // file — sbt appends its own trailing lines to stdout, which
      // defeated the driver's last-line parse in round 2. It carries the
      // same flat per-query map as the detail (r20 verdict item 5), ~6 KB.
      val summary = Harness.json(head ++ VectorMap(
        "n_failed" -> failed.size, "queries" -> qs,
        "index_build_sec" -> indexBuild, "n_index_adopted" -> adopted.size,
        "n_regressions" -> regressions.size, "sf" -> run.sf))
      Report(summary,
        Seq("BENCH_DETAIL.json" -> detail, "BENCH_SUMMARY.json" -> summary))
    }
  }

  /** The regression gate's baseline: the last COMMITTED detail (`git
    * show HEAD:…`), never the working-tree file, so an uncommitted noisy
    * run can't silently loosen it (round-10 verdict). The working-tree
    * file is the fallback only when git itself is unavailable. */
  private def committedDetail(): Option[String] = {
    val committed = Try {
      val proc = new ProcessBuilder("git", "show", "HEAD:BENCH_DETAIL.json")
        .redirectError(ProcessBuilder.Redirect.DISCARD).start()
      val out = new String(proc.getInputStream.readAllBytes(), "UTF-8")
      Option.when(proc.waitFor() == 0 && out.nonEmpty)(out)
    }.toOption.flatten
    committed.orElse(Try(Files.readString(Paths.get("BENCH_DETAIL.json"))).toOption)
  }
}
