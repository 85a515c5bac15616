package graft

import java.io.{ByteArrayOutputStream, PrintStream}
import scala.collection.immutable.VectorMap
import scala.jdk.CollectionConverters._

/** The shared driver core: JSON, query resolution, the timed attempt,
  * and Bench's report (summary, detail, regression gate and the
  * write-or-diagnostic decision), driven without a bench run. */
class HarnessSpec extends SparkSpec {

  private def keys(json: String): Seq[String] =
    Harness.parse(json).fieldNames.asScala.toSeq

  private val detailKeys = Seq("metric", "value", "unit", "n_queries",
    "queries", "index_build_sec", "index_builds", "index_adopted",
    "artifact_provenance", "regressions", "failed", "twin_ingest_sec",
    "twin_ingest_ok", "bloom_ledger", "admission_sec", "admission_ok",
    "admission_funnel", "sf")
  private val summaryKeys = Seq("metric", "value", "unit", "n_queries",
    "n_failed", "queries", "index_build_sec", "n_index_adopted",
    "n_regressions", "sf")

  private def run(queries: Seq[(String, Option[Double])], sf: String = "/sf",
      diagnostic: Boolean = false) =
    Bench.Run(sf, queries,
      Seq(Harness.Build("idx_a", Some(1.25), trained = true),
          Harness.Build("idx_b", Some(0.5), trained = false),
          Harness.Build("idx_c", None, trained = false)),
      Seq("k1" -> "adopted"), (true, 2.0),
      Seq("doc ids" -> Seq("cheap_pass" -> 2L)), (true, 3.0),
      Seq(0 -> 9L, 1 -> 24L), diagnostic)

  private def prev(sf: String, qs: (String, Double)*) =
    Harness.json(VectorMap("sf" -> sf, "queries" -> VectorMap.from(qs)))

  test("JSON writer round-trips quotes, backslashes and control characters") {
    val s = "sel \"x\" \\ a\tb\rc\nd\u0001e"
    val txt = Harness.json(VectorMap(s -> s))
    assert(txt.forall(_ >= ' '), s"raw control character in $txt")
    val node = Harness.parse(txt)
    assert(node.path(s).asText == s)
    val many = VectorMap.from((1 to 20).map(i => s"k${21 - i}" -> i))
    assert(keys(Harness.json(many)) == many.keys.toSeq)
  }

  test("report flags only >=2x and >=0.5s regressions, at the same sf only") {
    val r = run(Seq("q_a" -> Some(2.0), "q_b" -> Some(0.9), "q_c" -> Some(0.4),
      "q_d" -> Some(1.9), "q_e" -> Some(5.0), "q_f" -> None))
    val before = prev("/sf", "q_a" -> 0.9, "q_b" -> 0.3, "q_c" -> 0.1,
      "q_d" -> 1.0, "q_f" -> 0.1)
    val out = Bench.report(r, Some(before))
    val detail = Harness.parse(out.files.toMap.apply("BENCH_DETAIL.json"))
    val regs = detail.path("regressions").elements.asScala.toSeq
    assert(regs.map(_.path("query").asText) == Seq("q_a", "q_b"))
    assert(regs.head.path("ratio").asDouble == 2.22)
    assert(Harness.parse(out.line).path("n_regressions").asInt == 2)
    assert(detail.path("failed").elements.asScala.map(_.asText).toSeq ==
      Seq("q_f", "idx_c"))
    assert(detail.path("index_adopted").elements.asScala.map(_.asText).toSeq ==
      Seq("idx_b"))
    assert(detail.path("value").asDouble == 10.2)

    val otherSf = Bench.report(r, Some(before.replace("/sf", "/other")))
    assert(Harness.parse(otherSf.line).path("n_regressions").asInt == 0)
    assert(Bench.report(r, Some("not json")).files.nonEmpty)
  }

  test("a full run writes the detail and the summary, which is the last line") {
    val out = Bench.report(run(Seq("q_a" -> Some(1.0))), None)
    assert(out.files.map(_._1) == Seq("BENCH_DETAIL.json", "BENCH_SUMMARY.json"))
    assert(out.files.toMap.apply("BENCH_SUMMARY.json") == out.line)
    assert(keys(out.line) == summaryKeys)
    assert(keys(out.files.head._2) == detailKeys)
    val detail = Harness.parse(out.files.head._2)
    assert(detail.path("admission_funnel").path("level1").asLong == 24L)
    assert(detail.path("bloom_ledger").path("doc ids").path("cheap_pass").asLong == 2L)
  }

  test("a filtered run prints a diagnostic line and writes no file") {
    val out = Bench.report(run(Seq("q_a" -> Some(1.0)), diagnostic = true), None)
    assert(out.files.isEmpty)
    assert(out.line.startsWith("""{"diagnostic":true,"""))
    assert(keys(Harness.parse(out.line).path("detail").toString) == detailKeys)
  }

  test("unknown query names fail by name") {
    val e = intercept[IllegalArgumentException](
      Harness.resolve(Seq("q1_agg", "q_typo", "q_typo2")))
    assert(e.getMessage.contains("q_typo, q_typo2"))
    val f = intercept[IllegalArgumentException](Harness.only(Some("q1_agg, q_nope")))
    assert(f.getMessage.contains("q_nope"))
    assert(Harness.only(Some(" , ")).isEmpty && Harness.only(None).isEmpty)
    assert(Harness.only(Some("q1_agg,q_a3_count_distinct,q1_agg")).get.map(_._1) ==
      Seq("q1_agg", "q_a3_count_distinct"))
  }

  test("the shared attempt times registered queries at sf0.001") {
    val times = Harness.resolve(Seq("q1_agg", "q_a3_count_distinct"))
      .map { case (n, fn) => Harness.time(spark, "spec", n, fn, sf0001) }
    assert(times.forall(_.exists(_ > 0)), times)
  }

  test("a forced prebuild retrains an artifact this process already ensured") {
    val one = operators.IndexBuilds.all.filter(_._1 == "idx_avro_docs")
    one.head._2(spark, sf0001) // built or adopted, and memoized either way
    val forced = Harness.prebuild(spark, sf0001, "spec", force = true, builds = one)
    assert(forced.map(b => (b.name, b.sec.isDefined, b.trained)) ==
      Seq(("idx_avro_docs", true, true)))
    val again = Harness.prebuild(spark, sf0001, "spec", builds = one)
    assert(again.map(_.trained) == Seq(false))
  }

  test("a throwing body returns None and leaves a stderr line") {
    val err = new ByteArrayOutputStream()
    val res = Console.withErr(new PrintStream(err, true)) {
      Harness.attempt(spark, "spec", "boom")(throw new IllegalStateException("kaput"))
    }
    assert(res.isEmpty)
    assert(err.toString.contains("[spec] boom failed: kaput"))
  }

  test("a drive's scratch directory is gone afterwards, failed or not") {
    var dirs = Seq.empty[String]
    val (ok, sec) = Harness.drive(spark, "spec", "ok") { d => dirs :+= d }
    val (bad, _) = Console.withErr(new PrintStream(new ByteArrayOutputStream())) {
      Harness.drive(spark, "spec", "bad") { d => dirs :+= d; sys.error("no") }
    }
    assert(ok && !bad && sec >= 0)
    assert(dirs.size == 2 && dirs.forall(d => !new java.io.File(d).exists))
  }
}
