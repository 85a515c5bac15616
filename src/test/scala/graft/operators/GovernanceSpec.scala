package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Governance-gate invariants: k-anonymity conservation + no sub-k
  * publication at any grain; quality-rule attribution consistency. */
class GovernanceSpec extends SparkSpec {
  import spark.implicits._

  test("k-anonymity: rows conserved, no published group under k, " +
    "tiers disjoint by construction") {
    val out = DataQualityQueries.kAnonymity.run(spark, sf0001).collect()
    val total = graft.Tables.customer(spark, sf0001).count()
    assert(out.map(_.getLong(2)).sum == total, "row conservation violated")
    out.foreach { r =>
      val (tier, n) = (r.getString(3), r.getLong(2))
      if (tier != "suppressed")
        assert(n >= 3, s"published group under k: ${r.mkString(",")}")
      tier match {
        case "full" =>
          assert(r.getString(0) != "*" && r.getString(1) != "*")
        case "nation_generalized" =>
          assert(r.getString(0) == "*" && r.getString(1) != "*")
        case "suppressed" =>
          assert(r.getString(0) == "*" && r.getString(1) == "*")
        case other => fail(s"unknown tier $other")
      }
    }
    // the generalization must actually fire on this distribution
    assert(out.exists(_.getString(3) != "full"))
  }

  test("l-diversity: covers every QI group, verdict consistent, " +
    "crafted homogeneous group flags despite being k-large") {
    val out = DataQualityQueries.lDiversity.run(spark, sf0001).collect()
    val nGroups = graft.Tables.customer(spark, sf0001)
      .select("c_nationkey", "c_mktsegment").distinct().count()
    assert(out.length == nGroups, "audit must cover every QI group")
    out.foreach { r =>
      assert(r.getLong(3) >= 1 && r.getLong(3) <= r.getLong(2))
      assert(r.getBoolean(4) == (r.getLong(3) >= 3), r.mkString(","))
    }

    // crafted: a 10-member group with ONE balance band (k-anonymous at
    // k=3, yet homogeneous — the attack l-diversity exists to catch)
    val dir = "/tmp/graft_ldiv_spec"
    val rows =
      (0 until 10).map(i => (i.toLong, s"c$i", 0, "HOMOG", BigDecimal(100.00))) ++
      (0 until 10).map(i => (100L + i, s"d$i", 1, "DIVERSE", BigDecimal(i * 2500.00)))
    rows.toDF("c_custkey", "c_name", "c_nationkey", "c_mktsegment", "c_acctbal")
      .asSfTable("customer").coalesce(1).write.mode("overwrite").parquet(s"$dir/customer.parquet")
    val r = DataQualityQueries.lDiversity.run(spark, dir).collect()
      .map(x => x.getString(1) -> x).toMap
    assert(!r("HOMOG").getBoolean(4) && r("HOMOG").getLong(2) == 10,
      "k-large homogeneous group must fail l-diversity")
    assert(r("DIVERSE").getBoolean(4))
  }

  test("ngram diversity: one row per source, ratios in range, " +
    "crafted mode-collapsed source scores far below the diverse one") {
    val out = TextQueries.ngramDiversity.run(spark, sf0001).collect()
    assert(out.length == 20)
    out.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1) && r.getLong(5) <= r.getLong(4))
      assert(r.getLong(3) >= 1 && r.getLong(3) <= 1000000)
      assert(r.getLong(6) >= 1 && r.getLong(6) <= 1000000)
    }

    // crafted: a generator emitting ONE fluent doc 50 times vs 50
    // distinct docs — per-doc repetition gates see nothing, this does
    val dir = "/tmp/graft_ngram_div_spec"
    val para = (0 until 40).map("w" + _).mkString(" ")
    val docs =
      (0 until 50).map(i => (i.toLong, para, "en", "collapsed")) ++
      (0 until 50).map(i =>
        (100L + i, (0 until 40).map(j => s"u${i}_$j").mkString(" "), "en", "diverse"))
    docs.toDF("doc_id", "text", "lang", "source").asSfTable("documents")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = TextQueries.ngramDiversity.run(spark, dir).collect()
      .map(x => x.getString(0) -> x).toMap
    assert(r("collapsed").getLong(3) * 10 < r("diverse").getLong(3),
      "collapsed TTR must be an order of magnitude below diverse")
    assert(r("collapsed").getLong(6) * 10 < r("diverse").getLong(6))
    assert(r("diverse").getLong(3) == 1000000, "fully distinct corpus TTR = 1")
  }

  test("quality rules: doc counts conserved, attribution consistent " +
    "with the pass count, crafted rule-by-rule failures attribute") {
    val out = TextQueries.qualityRules.run(spark, sf0001).collect()
    val total = graft.Tables.documents(spark, sf0001)
      .filter(length(trim(col("text"))) >= 1).count()
    assert(out.map(_.getLong(1)).sum == total)
    out.foreach { r =>
      val (n, pass) = (r.getLong(1), r.getLong(2))
      val fails = (3 to 7).map(r.getLong(_))
      // every failing doc fails >= 1 rule; no rule fails more than n
      assert(pass <= n && fails.forall(f => f >= 0 && f <= n))
      assert(fails.sum >= n - pass,
        s"attribution undercounts failures: ${r.mkString(",")}")
    }

    // crafted: one doc per rule failing exactly that rule
    val dir = "/tmp/graft_quality_rules_spec"
    val sw = "the a of and to in is it that for".split(" ")
    def okWords(n: Int) = (0 until n).map(i => s"word$i").mkString(" ")
    val base = s"${sw.mkString(" ")} ${okWords(50)}" // 60 words, all rules ok
    Seq(
      (0L, base, "en", "s0"),                                   // passes all
      (1L, s"${sw.mkString(" ")} ${okWords(30)}", "en", "s0"),  // r1: 40 words
      (2L, (0 until 60).map(i => f"longword0000000000$i%02d").mkString(" ") + " the a", "en", "s0"), // r2: 20-char words, all distinct
      (3L, s"${sw.mkString(" ")} ${Seq.fill(40)("dup").mkString(" ")} ${okWords(10)}", "en", "s0"), // r3: dup 40/60
      (4L, okWords(60), "en", "s0"),                            // r4: no stopwords
      (5L, s"${sw.mkString(" ")} ${Seq.fill(25)("xy").mkString(" ")} ${okWords(25)}", "en", "s0")) // r5: short 25/60 — also r3
      .toDF("doc_id", "text", "lang", "source").asSfTable("documents")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val r = TextQueries.qualityRules.run(spark, dir).collect()
    assert(r.length == 1)
    val row = r.head
    assert(row.getLong(1) == 6 && row.getLong(2) == 1,
      s"crafted pass count: ${row.mkString(",")}")
    assert(row.getLong(3) == 1, "r1 length")       // doc 1
    assert(row.getLong(4) == 1, "r2 word length")  // doc 2
    assert(row.getLong(6) == 1, "r4 stopwords")    // doc 4
    assert(row.getLong(7) == 1, "r5 short words")  // doc 5
    assert(row.getLong(5) == 2, "r3 repetition")   // docs 3 and 5
  }
}
