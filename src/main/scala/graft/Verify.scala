package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session.local("graft-verify")
    new java.io.File(outDir).mkdirs()
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Local-iteration filter: SPARK_GRAFT_ONLY=q_a,q_b dumps just those
    // queries (+ their oracle entries). The driver never sets it.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet).filter(_.nonEmpty)
    def keep(name: String) = only.forall(_.contains(name))
    var mismatches: Seq[String] = Nil
    // Artifact provenance (r11 verdict item 1): on a full gate run,
    // pre-build every catalog artifact so each adopt-vs-rebuild decision
    // happens HERE, attributably, instead of lazily inside whichever
    // query touches the artifact first — the round-11 red row
    // (q_quality_tertiles) was a suspected stale-artifact straddle the
    // gate's output could not attribute. GRAFT_VERIFY_REBUILD=1 forces a
    // fresh sweep (a clean-room gate run at ~index-build cost).
    if (only.isEmpty) {
      val sweep = sys.env.get("GRAFT_VERIFY_REBUILD").exists(_.nonEmpty)
      if (sweep) sys.props("graft.catalog.rebuild") = "1"
      graft.operators.IndexBuilds.all.foreach { case (name, fn) =>
        try fn(spark, sfDir)
        catch { case e: Throwable =>
          System.err.println(s"[verify] prebuild $name failed: ${e.getMessage}")
        }
        spark.catalog.clearCache()
      }
      if (sweep) sys.props.remove("graft.catalog.rebuild")
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
      Files.writeString(Paths.get(s"$outDir/sentinel_report.json"),
        sentinel.map { case (k, v) => s"${q(k)}: ${q(v)}" }
          .mkString("{", ",", "}"))
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
    SparkEntry.queries.filter(q => keep(q._1)).foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // queries that cache internally (LSH) must not pin memory for the
      // remaining ~60 queries
      spark.catalog.clearCache()
    }
    // The provenance ledger (pre-built artifacts above + any ensured
    // lazily by the queries themselves): stderr lines for the human
    // reading the gate log, a JSON file beside the dumps for the record.
    val prov = graft.sources.IndexCatalog.provenance.toSeq.sortBy(_._1)
    prov.foreach { case (k, v) => System.err.println(s"[verify] artifact $k: $v") }
    Files.writeString(Paths.get(s"$outDir/artifact_provenance.json"),
      prov.map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}"))
    val json = SparkEntry.oracleSql.filter(e => keep(e._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
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
