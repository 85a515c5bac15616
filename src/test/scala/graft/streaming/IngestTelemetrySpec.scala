package graft.streaming

import graft.SparkSpec

/** The bloom-ledger telemetry must classify each contract check by the
  * path it actually took: absent ledger → exact + rebuild, fresh batch
  * → cheap probe pass, replayed ids → bloom hit + exact fallback,
  * over-dense sketch → permanent exact mode. */
class IngestTelemetrySpec extends SparkSpec {

  import spark.implicits._

  private def ids(r: Range) = r.map(_.toLong).toDF("doc_id")

  test("counters classify the four ledger paths") {
    IngestTelemetry.reset()
    val dir = java.nio.file.Files.createTempDirectory("graft_tel").toString
    val w = "tel ids"
    def check(stored: Range, delta: Range, batch: Long,
              bits: Int = IngestContract.LedgerBits): Unit =
      IngestContract.checkAndRecord(ids(stored), ids(delta), "doc_id",
        batch, dir, w, "n/a", bits = bits)
    check(0 until 0, 1 to 10, 0L)    // no ledger yet → absent
    check(1 to 10, 11 to 20, 1L)     // fresh ids → cheap pass
    check(1 to 10, 21 to 30, 2L)     // fresh ids → cheap pass
    check(1 to 10, 11 to 20, 1L)     // replay: own ids in ledger → hit,
                                     // exact scan passes (stored has
                                     // only the pre-batch slice)
    val dir2 = java.nio.file.Files.createTempDirectory("graft_tel2").toString
    def check2(stored: Range, delta: Range, batch: Long): Unit =
      IngestContract.checkAndRecord(ids(stored), ids(delta), "doc_id",
        batch, dir2, "tel sat", "n/a", bits = 64)
    check2(0 until 0, 1 to 100, 0L)  // absent; 100 ids saturate 64 bits
    check2(1 to 100, 101 to 110, 1L) // over-dense → permanent exact
    val snap = IngestTelemetry.snapshot.toMap
    assert(snap(w).toMap == Map(
      "ledger_absent_exact" -> 1L, "cheap_pass" -> 2L,
      "bloom_hit_exact" -> 1L), s"main-dir counters: ${snap(w)}")
    assert(snap("tel sat").toMap == Map(
      "ledger_absent_exact" -> 1L, "saturated_exact" -> 1L),
      s"saturation counters: ${snap("tel sat")}")
    IngestTelemetry.reset()
    assert(IngestTelemetry.snapshot.isEmpty)
  }
}
