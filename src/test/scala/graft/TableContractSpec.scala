package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{LongType, StringType, TimestampType}

import graft.operators.{CorpusQueries, DedupQueries, IndexBuilds}
import graft.schema.Schemas
import graft.schema.Schemas.SchemaContractError
import graft.sources.IndexCatalog

/** Declared sf schemas with the footer contract, and catalog-held
  * artifact schemas: building a DataFrame over data whose schema the
  * program owns runs no Spark job. Jobs are counted with a
  * `SparkListener`; a marker job submitted after the measured block
  * drains the (asynchronous) listener bus before counting. */
class TableContractSpec extends SparkSpec {

  private val sf001 = "/root/testdata/sf0.01"
  private val Probe = "graft.spec.probe"

  /** (probe tag, call site of the result stage) of every job. */
  private object Jobs extends SparkListener {
    val seen = new ConcurrentLinkedQueue[(String, String)]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      seen.add((Option(e.properties).flatMap(p => Option(p.getProperty(Probe))).getOrElse(""),
        e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")))
  }
  private lazy val listening = { spark.sparkContext.addSparkListener(Jobs); true }
  private val probes = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Call sites of the Spark jobs the calling thread submits while
    * `body` runs. */
  private def sitesDuring[T](body: => T): (T, Seq[String]) = {
    assert(listening)
    val sc = spark.sparkContext
    val tag = s"probe_${probes.incrementAndGet()}"
    sc.setLocalProperty(Probe, tag)
    val out = try body finally sc.setLocalProperty(Probe, null)
    sc.setLocalProperty(Probe, s"$tag/end")
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(Probe, null)
    val deadline = System.nanoTime() + 30e9.toLong
    while (!Jobs.seen.asScala.exists(_._1 == s"$tag/end")) {
      assert(System.nanoTime() < deadline, "listener bus did not drain")
      Thread.sleep(10)
    }
    (out, Jobs.seen.asScala.collect { case (`tag`, site) => site }.toSeq)
  }

  private def jobsDuring[T](body: => T): (T, Int) = {
    val (out, sites) = sitesDuring(body)
    (out, sites.size)
  }

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private val names = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  test("declared schemas equal what Spark infers for all 10 tables at sf0.001 and sf0.01") {
    assert(Schemas.sf.keySet == names.toSet)
    for (d <- Seq(sf0001, sf001); t <- names)
      assert(Schemas.sf(t) == spark.read.parquet(s"$d/$t.parquet").schema, s"$d $t")
  }

  test("Tables reads build their frames without running a Spark job") {
    // a fresh copy: its first read runs the footer check too
    val copy = tmpDir("graft_contract_copy")
    for (t <- names) Tables(spark, sf0001, t).write.parquet(s"$copy/$t.parquet")
    for (d <- Seq(sf0001, copy); round <- 1 to 2) {
      val (frames, jobs) = jobsDuring(names.map(t => Tables(spark, d, t)) :+ Tables.events(spark, d))
      assert(jobs == 0, s"$d round $round")
      assert(frames.init.map(_.schema) == names.map(Schemas.sf))
    }
  }

  test("a retyped or a dropped column fails the first read with the named contract error") {
    val retyped = tmpDir("graft_contract_retyped")
    Tables.nation(spark, sf0001).withColumn("n_regionkey", col("n_regionkey").cast(LongType))
      .write.parquet(s"$retyped/nation.parquet")
    val dropped = tmpDir("graft_contract_dropped")
    Tables.lineitem(spark, sf0001).drop("l_tax").write.parquet(s"$dropped/lineitem.parquet")
    val e1 = intercept[SchemaContractError](Tables.nation(spark, retyped))
    assert(e1.table == "nation" && e1.diffs == Seq("n_regionkey: bigint, declared int"))
    assert(e1.getMessage.startsWith("SCHEMA_CONTRACT: nation at "))
    val e2 = intercept[SchemaContractError](Tables.lineitem(spark, dropped))
    assert(e2.diffs == Seq("l_tax: missing"))
    // a failed check is not remembered: the next read fails again
    intercept[SchemaContractError](Tables.lineitem(spark, dropped))
    val extra = tmpDir("graft_contract_extra")
    Tables.region(spark, sf0001).withColumn("r_note", col("r_name"))
      .write.parquet(s"$extra/region.parquet")
    assert(intercept[SchemaContractError](Tables.region(spark, extra)).diffs ==
      Seq("r_note: extra (string)"))
  }

  /** Pyarrow 16.1.0 wrote `events_nanos/events.parquet` (INT64
    * TIMESTAMP(NANOS), isAdjustedToUTC=false):
    * {{{
    * import pyarrow as pa, pyarrow.parquet as pq
    * ts = [1709296496123456789, 1709300000000000999, 1709382896999999001]
    * pq.write_table(pa.table({
    *     "event_id": pa.array([1, 2, 3], pa.int64()),
    *     "ts": pa.array(ts, pa.timestamp("ns")),
    *     "user_id": pa.array([10, 11, 10], pa.int64()),
    *     "event_type": pa.array(["view", "click", "view"]),
    *     "value": pa.array([1.5, None, 2.25], pa.float64()),
    *     "props": pa.array(['{"k":1}', None, '{"k":2}']),
    * }), "events_nanos/events.parquet", version="2.6")
    * }}} */
  test("events.ts as NTZ micros, UTC-adjusted micros or nanos reads as the same TimestampType micros") {
    val nanos = "src/test/resources/events_nanos"
    val micros = Seq(1709296496123456L, 1709300000000000L, 1709382896999999L)
    val fromNanos = Tables.events(spark, nanos)
    assert(Tables(spark, nanos, "events").schema("ts").dataType == LongType)
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    val utc = tmpDir("graft_events_utc")
    val ntz = tmpDir("graft_events_ntz")
    val key = "spark.sql.parquet.outputTimestampType"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "TIMESTAMP_MICROS") // isAdjustedToUTC=true
    try fromNanos.write.parquet(s"$utc/events.parquet")
    finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    fromNanos.withColumn("ts", col("ts").cast("timestamp_ntz"))
      .write.parquet(s"$ntz/events.parquet")
    assert(Tables(spark, utc, "events").schema("ts").dataType == TimestampType)
    assert(Tables(spark, ntz, "events").schema == Schemas.sf("events"))
    for (d <- Seq(nanos, utc, ntz)) {
      val ev = Tables.events(spark, d)
      assert(ev.schema("ts").dataType == TimestampType, d)
      assert(ev.orderBy("event_id").selectExpr("unix_micros(ts)")
        .collect().map(_.getLong(0)).toSeq == micros, d)
    }
    val bad = tmpDir("graft_events_string_ts")
    fromNanos.withColumn("ts", col("ts").cast(StringType)).write.parquet(s"$bad/events.parquet")
    assert(intercept[SchemaContractError](Tables.events(spark, bad)).diffs ==
      Seq("ts: string, declared timestamp_ntz"))
  }

  private val served = Seq(
    "lsh_pairs" -> (() => DedupQueries.lshPairs(spark, sf0001)),
    "lsh_keep" -> (() => DedupQueries.lshKeepList(spark, sf0001)),
    "bench_grams" -> (() => CorpusQueries.benchGrams(spark, sf0001)))

  test("lsh_pairs, lsh_keep and bench_grams serving reads run no job after their first read") {
    for ((name, read) <- served) {
      val (first, _) = jobsDuring(read())
      val (again, jobs) = jobsDuring(read())
      assert(jobs == 0, name)
      assert(again.schema == first.schema, name)
    }
  }

  test("a forced prebuild makes the next serving read infer its schema again") {
    served.foreach(_._2()) // ensured, and schemas held
    val builds = IndexBuilds.all.filter(b =>
      Set("idx_lsh_pairs", "idx_lsh_keep", "idx_bench_grams")(b._1))
    // each build ends in its serving read: one inference job per
    // rebuilt artifact, sited at the catalog's read helper
    val (prebuilt, sites) = sitesDuring(
      Harness.prebuild(spark, sf0001, "spec", force = true, builds = builds))
    assert(prebuilt.map(_.trained) == Seq(true, true, true))
    assert(sites.count(_.contains("IndexCatalog.scala")) == 3, sites.mkString("\n"))
    for ((name, read) <- served) assert(jobsDuring(read())._2 == 0, name)
  }

  test("rebuilding an artifact directory drops its held schema") {
    val saved = IndexCatalog.rootOverride
    IndexCatalog.rootOverride = Some(tmpDir("graft_contract_catalog"))
    try {
      def serve(cols: Seq[String]) = {
        val dir = IndexCatalog.ensure(spark, "schema_probe",
            owners = Seq(Tables.getClass)) { dir =>
          spark.range(3).select(cols.map(c => col("id").as(c)): _*)
            .write.parquet(s"$dir/t")
        }
        IndexCatalog.read(spark, dir, "t")
      }
      assert(serve(Seq("a")).columns.toSeq == Seq("a"))
      assert(jobsDuring(serve(Seq("a")))._2 == 0)
      IndexCatalog.invalidate(spark, "schema_probe")
      assert(serve(Seq("a", "b")).columns.toSeq == Seq("a", "b"))
    } finally {
      IndexCatalog.resetProcessMemo()
      IndexCatalog.rootOverride = saved
    }
  }
}
