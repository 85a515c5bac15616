package graft.streaming

import java.sql.Timestamp

import graft.SparkSpec
import graft.operators.EventQueries
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** Batch/stream parity: the streaming transforms must produce exactly
  * the batch twins' results over the same data. */
class EventStreamsSpec extends SparkSpec {
  import spark.implicits._

  test("streamed tumbling window equals the batch tumbling query (complete mode)") {
    val stream = EventStreams.readEventStream(spark, sf0001)
    val q = EventStreams.tumblingCounts(stream)
      .writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName("tumbling_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("tumbling_out")
        .select("window_start", "event_type", "n", "total")
      val batch = EventQueries.tumblingWindow.run(spark, sf0001)
      assert(streamed.count() == batch.count())
      assert(streamed.exceptAll(batch).count() == 0)
      assert(batch.exceptAll(streamed).count() == 0)
    } finally q.stop()
  }

  test("streamed windowed HLL sketch equals the batch estimate exactly") {
    import graft.plans.Hll.{hllEstimate, hllSketch}
    val stream = EventStreams.readEventStream(spark, sf0001)
    val q = EventStreams.windowedDistinctUsers(stream)
      .writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName("hll_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("hll_out")
        .select("window_start", "event_type", "approx_users", "n")
      // batch twin over the same rows: deterministic sketches make the
      // streaming estimates EQUAL, not merely close
      val batch = graft.Tables.events(spark, sf0001)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(
          hllEstimate(hllSketch(col("user_id").cast("string"), 12)).as("approx_users"),
          count(lit(1)).as("n"))
        .select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"), col("approx_users"), col("n"))
      assert(streamed.count() == batch.count() && streamed.count() > 0)
      assert(streamed.exceptAll(batch).count() == 0)
      assert(batch.exceptAll(streamed).count() == 0)
    } finally q.stop()
  }

  test("streamed windowed quantile sketch equals the batch selection exactly") {
    import graft.plans.QSketch.{qSketch, qSketchQuantile}
    val stream = EventStreams.readEventStream(spark, sf0001)
    val q = EventStreams.windowedQuantiles(stream)
      .writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName("qtile_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("qtile_out")
        .select("window_start", "event_type", "p50", "p99", "n")
      // batch twin over the same rows: deterministic bottom-k sampling
      // makes the streamed selections EQUAL, not merely close
      val batch = graft.Tables.events(spark, sf0001)
        .filter(col("value").isNotNull)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(qSketch(col("event_id").cast("string"), col("value"), 128).as("sk"),
          count(lit(1)).as("n"))
        .select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"),
          qSketchQuantile(col("sk"), lit(0.5)).as("p50"),
          qSketchQuantile(col("sk"), lit(0.99)).as("p99"),
          col("n"))
      assert(streamed.count() == batch.count() && streamed.count() > 0)
      assert(streamed.exceptAll(batch).count() == 0)
      assert(batch.exceptAll(streamed).count() == 0)
    } finally q.stop()
  }

  test("streamed windowed heavy hitters equal the batch top lists exactly") {
    // below-capacity premise: exactness requires k above the per-window
    // distinct-user cardinality (above it, only the eps-n guarantee)
    val maxDistinct = graft.Tables.events(spark, sf0001)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(countDistinct(col("user_id")).as("d"))
      .agg(max("d")).collect()(0).getLong(0)
    assert(maxDistinct < 1024, s"premise: k=1024 must exceed $maxDistinct")
    val stream = EventStreams.readEventStream(spark, sf0001)
    val q = EventStreams.windowedHeavyHitters(stream)
      .writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName("hh_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("hh_out")
        .select("window_start", "event_type", "top_users", "n")
      val batch = graft.Tables.events(spark, sf0001)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(expr("approx_top_k_accumulate(CAST(user_id AS STRING), 1024) " +
            "FILTER (WHERE user_id IS NOT NULL)").as("sk"),
          count(lit(1)).as("n"))
        .select(
          date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
          col("event_type"),
          EventStreams.topItems(col("sk"), 1024, 3).as("top_users"),
          col("n"))
      assert(streamed.count() == batch.count() && streamed.count() > 0)
      assert(streamed.exceptAll(batch).count() == 0)
      assert(batch.exceptAll(streamed).count() == 0)
    } finally q.stop()
  }

  test("streamed windowed count-min probes equal the batch grid exactly") {
    import graft.plans.Cms.{cmsQuery, cmsSketch, cmsTotal}
    val probes = Seq("1", "2", "3")
    val stream = EventStreams.readEventStream(spark, sf0001)
    val q = EventStreams.windowedTokenCounts(stream, probes)
      .writeStream.outputMode(OutputMode.Complete)
      .format("memory").queryName("cms_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("cms_out")
      val base = graft.Tables.events(spark, sf0001)
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(cmsSketch(col("user_id").cast("string"), 4, 64).as("sk"),
          count(lit(1)).as("n"))
      val batch = base.select(
        (date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start")
          +: col("event_type")
          +: probes.map(p => cmsQuery(col("sk"), lit(p)).as(s"u_$p"))
          :+ cmsTotal(col("sk")).as("total") :+ col("n")): _*)
      assert(streamed.count() == batch.count() && streamed.count() > 0)
      assert(streamed.exceptAll(batch).count() == 0)
      assert(batch.exceptAll(streamed).count() == 0)
    } finally q.stop()
  }

  test("stream-stream attribution join equals the batch interval join") {
    val clicks = EventStreams.readEventStream(spark, sf0001)
      .filter($"event_type" === "click")
    val purchases = EventStreams.readEventStream(spark, sf0001)
      .filter($"event_type" === "purchase")
    val q = EventStreams.attributionJoin(clicks, purchases)
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("attribution_out").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("attribution_out")
        .select("event_id", "user_id", "click_id", "gap_ms")
      val batch = EventQueries.intervalJoin.run(spark, sf0001)
      assert(batch.count() > 0)
      assert(streamed.count() == batch.count())
      assert(streamed.exceptAll(batch).count() == 0)
      assert(batch.exceptAll(streamed).count() == 0)
    } finally q.stop()
  }

  test("left-outer stream-stream join emits null-matches after the watermark, equal to batch") {
    // memory streams: the file source delivers everything in one batch,
    // so outer null-matches (which need a LATER watermark advance) would
    // never flush; synthetic far-future rows on both sides force it
    val ev = graft.Tables.events(spark, sf0001)
    def rows(t: String) = ev.filter($"event_type" === t)
      .select($"user_id", $"event_id", $"ts")
      .as[(Long, Long, Timestamp)].collect().toIndexedSeq
    val clicks = rows("click"); val purchases = rows("purchase")
    val maxTs = (clicks ++ purchases).map(_._3.getTime).max

    implicit val sqlCtx = spark.sqlContext
    val cMem = MemoryStream[(Long, Long, Timestamp)]
    val pMem = MemoryStream[(Long, Long, Timestamp)]
    val q = EventStreams.attributionJoin(
        cMem.toDF().toDF("user_id", "event_id", "ts"),
        pMem.toDF().toDF("user_id", "event_id", "ts"),
        joinType = "left_outer")
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("attribution_outer_out").start()
    try {
      cMem.addData(clicks); pMem.addData(purchases)
      q.processAllAvailable()
      val far = new Timestamp(maxTs + 100L * 3600000L)
      cMem.addData(Seq((-1L, 1L, far))); pMem.addData(Seq((-1L, 2L, far)))
      q.processAllAvailable()
      // one more empty-ish batch lets the engine act on the new watermark
      val far2 = new Timestamp(maxTs + 101L * 3600000L)
      cMem.addData(Seq((-1L, 3L, far2))); pMem.addData(Seq((-1L, 4L, far2)))
      q.processAllAvailable()

      val streamed = spark.table("attribution_outer_out")
        .filter($"user_id" >= 0)
        .select("event_id", "user_id", "click_id", "gap_ms")
      val batch = EventQueries.intervalJoinOuter.run(spark, sf0001)
        .select("event_id", "user_id", "click_id", "gap_ms")
      assert(batch.filter($"click_id".isNull).count() > 0) // outer rows exist
      assert(streamed.count() == batch.count())
      assert(streamed.exceptAll(batch).count() == 0)
      assert(batch.exceptAll(streamed).count() == 0)
    } finally q.stop()
  }

  test("stateful sessionizer reproduces ALL batch sessions, finals via event-time timeout") {
    // batch truth: every session, including each user's final one
    val batch = EventQueries.sessionize.run(spark, sf0001)
      .select($"user_id", $"session_id".cast("long"), $"n_events",
              $"first_event", $"duration_ms")
      .as[EventStreams.Session]
      .collect().toSet

    val events = graft.Tables.events(spark, sf0001)
      .select($"user_id", $"event_id", $"ts")
      .as[(Long, Long, Timestamp)]
      .collect().sortBy(e => (e._3.getTime, e._2))

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Timestamp)]
    val q = EventStreams
      .sessionizeStream(mem.toDF().toDF("user_id", "event_id", "ts"))
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("sessions_out").start()
    try {
      // two chunks exercise cross-batch state; then a far-future event
      // from a synthetic user advances the watermark past every real
      // session's gap deadline, and one more batch fires the timeouts
      val (a, b) = events.splitAt(events.length / 2)
      mem.addData(a.toIndexedSeq); q.processAllAvailable()
      mem.addData(b.toIndexedSeq); q.processAllAvailable()
      val maxTs = events.map(_._3.getTime).max
      val far1 = new Timestamp(maxTs + 100L * 21600000L)
      val far2 = new Timestamp(maxTs + 101L * 21600000L)
      mem.addData(Seq((-1L, 1L, far1))); q.processAllAvailable()
      mem.addData(Seq((-1L, 2L, far2))); q.processAllAvailable()

      val streamed = spark.table("sessions_out").as[EventStreams.Session]
        .collect().filter(_.user_id >= 0).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streamed transition rows aggregate to the batch Markov counts") {
    val batch = EventQueries.transitions.run(spark, sf0001)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap

    val events = graft.Tables.events(spark, sf0001)
      .select($"user_id", $"event_id", $"ts", $"event_type")
      .as[(Long, Long, Timestamp, String)]
      .collect().sortBy(e => (e._3.getTime, e._2))

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Timestamp, String)]
    val q = EventStreams
      .transitionsStream(mem.toDF().toDF("user_id", "event_id", "ts", "event_type"))
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("transitions_out").start()
    try {
      // three chunks exercise cross-batch state (the stored last event
      // of chunk N pairs with the first event of chunk N+1)
      val third = events.length / 3
      events.grouped(third + 1).foreach { chunk =>
        mem.addData(chunk.toIndexedSeq); q.processAllAvailable()
      }
      val streamed = spark.table("transitions_out")
        .as[EventStreams.Transition].collect()
        .groupBy(t => (t.prev_type, t.next_type))
        .map { case (k, v) => k -> v.length.toLong }
      assert(streamed == batch)
    } finally q.stop()
  }

  test("within-watermark late row in a later chunk: pairs ordered by event time, state keeps max") {
    // B arrives first; A (older, but within the 1 h watermark) arrives in
    // a LATER micro-batch; then C. Batch truth over event-time order
    // A(01:30) -> B(02:00) -> C(02:30) is (A->B), (B->C). The pre-fix
    // code paired the stored B against incoming A unordered — emitting a
    // reversed (B->A) — and regressed state to A, so C then paired as
    // (A->C). This pins the merge-by-(ts,event_id) + keep-max contract.
    def t(hhmm: String) = Timestamp.valueOf(s"2024-01-01 $hhmm:00")
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, Long, Timestamp, String)]
    val q = EventStreams
      .transitionsStream(mem.toDF().toDF("user_id", "event_id", "ts", "event_type"))
      .writeStream.outputMode(OutputMode.Append)
      .format("memory").queryName("transitions_late_out").start()
    try {
      mem.addData(Seq((7L, 2L, t("02:00"), "B"))); q.processAllAvailable()
      // watermark is now 01:00; A at 01:30 is late but within allowance
      mem.addData(Seq((7L, 1L, t("01:30"), "A"))); q.processAllAvailable()
      mem.addData(Seq((7L, 3L, t("02:30"), "C"))); q.processAllAvailable()
      val streamed = spark.table("transitions_late_out")
        .as[EventStreams.Transition].collect()
        .map(tr => (tr.prev_type, tr.next_type)).sorted.toSeq
      assert(streamed == Seq(("A", "B"), ("B", "C")))
    } finally q.stop()
  }
}
