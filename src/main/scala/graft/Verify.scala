package graft
import java.nio.file.{Files, Paths}
import scala.collection.immutable.VectorMap
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Local-iteration filter: SPARK_GRAFT_ONLY=q_a,q_b dumps just those
    // queries (+ their oracle entries). The driver never sets it.
    val only = Harness.only()
    val spark = Session.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    def writeJson(file: String, entries: Seq[(String, String)]): Unit =
      Files.writeString(Paths.get(s"$outDir/$file"),
        Harness.json(VectorMap.from(entries)))
    var mismatches: Seq[String] = Nil
    // Artifact provenance (r11 verdict item 1): on a full gate run,
    // pre-build every catalog artifact so each adopt-vs-rebuild decision
    // happens HERE, attributably, instead of lazily inside whichever
    // query touches the artifact first — the round-11 red row
    // (q_quality_tertiles) was a suspected stale-artifact straddle the
    // gate's output could not attribute. GRAFT_CATALOG_REBUILD=1 forces
    // a clean-room sweep (each key is ensured once per process).
    if (only.isEmpty) {
      Harness.prebuild(spark, sfDir, "verify")
      // Artifact-vs-live sentinel (r12 verdict item 2): before trusting
      // any adopted artifact with a full-aggregate consumer, digest the
      // served bytes against the live builder plan; a mismatch
      // invalidates + rebuilds that artifact HERE, so a stale adopt
      // becomes a logged auto-heal instead of a red gate row.
      // Each check is guarded inside run(); a throwing check records an
      // error: status instead of aborting Verify before any query dump
      // is written (which would zero the round).
      val sentinel = graft.sources.ArtifactSentinel
        .run(spark, sfDir, graft.operators.SentinelChecks.all)
      sentinel.foreach { case (k, v) =>
        System.err.println(s"[verify] sentinel $k: $v")
      }
      writeJson("sentinel_report.json", sentinel)
      mismatches = sentinel.collect {
        case (k, v) if v.startsWith("MISMATCH") => s"$k: $v"
      }
      // A check that throws is tolerated ONCE (transient); the same
      // check erroring in two consecutive full runs means its sentinel
      // is effectively disabled while the gate stays green — escalate
      // to gate-failing (r14 advice item 2). First-time errors are
      // already visible via the per-status stderr line above and in
      // sentinel_report.json — no separate warning loop.
      val persistent = graft.sources.ArtifactSentinel
        .persistentErrors(sfDir, sentinel)
      mismatches ++= persistent.map { case (k, v) =>
        s"$k: persistent-error $v"
      }
      spark.catalog.clearCache()
    }
    val queries = only.getOrElse(Harness.all)
    queries.foreach { case (name, fn) =>
      Harness.attempt(spark, "verify", name) {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
      }
    }
    // The provenance ledger (pre-built artifacts above + any ensured
    // lazily by the queries themselves): stderr lines for the human
    // reading the gate log, a JSON file beside the dumps for the record.
    val prov = graft.sources.IndexCatalog.provenance.toSeq.sortBy(_._1)
    prov.foreach { case (k, v) => System.err.println(s"[verify] artifact $k: $v") }
    writeJson("artifact_provenance.json", prov)
    val oracles = SparkEntry.oracleSql
    writeJson("oracle_sql.json",
      queries.flatMap { case (k, _) => oracles.get(k).map(k -> _) })
    spark.stop()
    // A non-converging sentinel rebuild means results were dumped from
    // an artifact whose bytes provably diverge from its live plan —
    // fail the gate PROGRAMMATICALLY (nonzero exit), but only here,
    // after every dump and report is on disk for diagnosis.
    if (mismatches.nonEmpty)
      sys.error(s"sentinel gate failure (rebuild-diverges / heal-failed / " +
        s"persistent-error): " + mismatches.mkString("; "))
  }
}
