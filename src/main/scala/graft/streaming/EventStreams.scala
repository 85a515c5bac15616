package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming surface of the engine (SURVEY §2.9 extension —
  * the reference iterates day files in a driver loop; the engine treats
  * the same event flow as a stream).
  *
  * Batch/stream parity: each transform here has a batch twin in
  * `graft.operators.EventQueries`, and the tests assert the streamed
  * result equals the batch result over the same files.
  */
object EventStreams {

  /** The `events` table schema as a stream source (ts pre-converted to
    * TimestampType by the caller — see [[readEventStream]]). */
  def readEventStream(spark: SparkSession, dir: String): DataFrame = {
    // File-stream twin of Tables.events: the batch read's schema carries
    // the physical ts type the footer check found (see Tables.events)
    val raw = graft.Tables(spark, dir, "events").schema
    graft.Tables.normalizeTs(spark.readStream
      .schema(raw)
      .option("pathGlobFilter", "events.parquet") // stream source needs a dir
      .parquet(dir))
  }

  /** Tumbling 1-hour windows per event type with a 1-hour watermark —
    * the streaming twin of EventQueries.tumblingWindow. */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"),
           // exact decimal internally; final DOUBLE matches the batch twin
           sum(col("value").cast("decimal(18,2)")).cast("decimal(18,2)")
             .cast("double").as("total"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n"), col("total"))

  /** Tumbling-window approximate distinct users per event type via the
    * engine's mergeable HLL aggregate ([[graft.plans.HllSketchAgg]]) —
    * sketch state IN the streaming state store: each window's partial
    * buffer is the 4 KiB register array, merged across micro-batches by
    * the same register-wise max that merges across shards, so streaming
    * and batch produce the IDENTICAL estimate (deterministic hashing, no
    * RNG — pinned by the parity test). The scalable cardinality shape:
    * per-(window, type) state is constant-size regardless of user
    * cardinality, where exact countDistinct state grows with it. */
  def windowedDistinctUsers(events: DataFrame,
                            watermark: String = "1 hour"): DataFrame = {
    import graft.plans.Hll.{hllEstimate, hllSketch}
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        hllEstimate(hllSketch(col("user_id").cast("string"), 12)).as("approx_users"),
        count(lit(1)).as("n"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("approx_users"), col("n"))
  }

  /** Tumbling-window value quantiles per event type via the engine's
    * mergeable quantile sketch ([[graft.plans.QSketchAgg]]) — sketch
    * state IN the streaming state store: each window's partial buffer is
    * the bottom-k (digest, value) sample, merged across micro-batches by
    * the same truncated-union rule that merges across shards, so
    * streaming and batch produce the IDENTICAL selection (deterministic
    * md5 sampling, no RNG — pinned by the parity test). Constant-size
    * state per (window, type) regardless of row count — the percentile
    * telemetry shape (p50/p99 latency per window) a 100 TB event stream
    * reports without ever sorting a window's full contents. */
  def windowedQuantiles(events: DataFrame,
                        watermark: String = "1 hour",
                        k: Int = 128): DataFrame = {
    import graft.plans.QSketch.{qSketch, qSketchQuantile}
    events
      .filter(col("value").isNotNull)
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(qSketch(col("event_id").cast("string"), col("value"), k).as("sk"),
           count(lit(1)).as("n"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"),
        qSketchQuantile(col("sk"), lit(0.5)).as("p50"),
        qSketchQuantile(col("sk"), lit(0.99)).as("p99"),
        col("n"))
  }

  /** Windowed heavy hitters: top users per (hour, event type) from
    * Spark's mergeable frequent-items sketch (`approx_top_k_accumulate`)
    * — the third windowed sketch beside the HLL distinct counter and the
    * quantile sampler, with the same constant-state contract per
    * (window, type). Null users are not counted. Capacity k is sized
    * ABOVE the per-window distinct cardinality on the test corpora, so
    * the sketch holds exact counts and the streamed top lists EQUAL
    * the batch twin (above capacity only the sketch's error bound holds
    * and the parity claim weakens to it — the same regime note as the
    * batch q_heavy_hitters oracle). */
  def windowedHeavyHitters(events: DataFrame,
                           watermark: String = "1 hour",
                           k: Int = 1024, top: Int = 3): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(expr(s"approx_top_k_accumulate(CAST(user_id AS STRING), $k) " +
             "FILTER (WHERE user_id IS NOT NULL)").as("sk"),
           count(lit(1)).as("n"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"),
        topItems(col("sk"), k, top).as("top_users"),
        col("n"))

  /** The first `top` (item, count) entries of a frequent-items sketch in
    * (count desc, item) order. The built-in estimate does not order tied
    * counts, so every tracked item is estimated and sorted before the
    * slice. */
  def topItems(sketch: Column, maxItemsTracked: Int, top: Int): Column =
    slice(array_sort(
      call_function("approx_top_k_estimate", sketch, lit(maxItemsTracked)),
      (a, b) => when(a("count") > b("count"), -1)
        .when(a("count") < b("count"), 1)
        .when(a("item") < b("item"), -1)
        .when(a("item") > b("item"), 1)
        .otherwise(0)), 1, top)

  /** Windowed point-frequency sketch: a count-min grid per (hour,
    * event type) probed for fixed keys — the last of the four
    * mergeable sketches as a windowed stream (HLL distinct, quantiles,
    * frequent-items top lists, CMS point frequencies). CMS cells are pure
    * sums, so streamed grids equal the batch twin BYTE-FOR-BYTE under
    * any sharding — no below-capacity caveat at all. */
  def windowedTokenCounts(events: DataFrame,
                          probes: Seq[String],
                          watermark: String = "1 hour",
                          d: Int = 4, w: Int = 64): DataFrame = {
    import graft.plans.Cms.{cmsQuery, cmsSketch, cmsTotal}
    val base = events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(cmsSketch(col("user_id").cast("string"), d, w).as("sk"),
           count(lit(1)).as("n"))
    val probeCols = probes.map(p => cmsQuery(col("sk"), lit(p)).as(s"u_$p"))
    base.select(
      (date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start")
        +: col("event_type") +: probeCols :+ cmsTotal(col("sk")).as("total")
        :+ col("n")): _*)
  }

  /** Watermarked stream-stream INNER join: purchases attributed to every
    * click by the same user in the preceding hour — the streaming twin
    * of EventQueries.intervalJoin (its parity test's oracle).
    *
    * State bounds (the thing a naive stream-stream join lacks): BOTH
    * sides carry event-time watermarks and the join condition carries a
    * two-sided time range on the event times, so Spark derives state
    * eviction for each side — a click older than (watermark − 1 h) can
    * never match a future purchase and its state is dropped; likewise
    * matched-window purchases. Without the range + watermarks the join
    * state grows without bound.
    *
    * @param clicks    stream with (user_id, event_id, ts)
    * @param purchases stream with (user_id, event_id, ts)
    */
  /** @param joinType "inner" (default) or "left_outer": the outer form
    *        emits unmatched purchases with null click columns once the
    *        watermark proves no in-range click can still arrive. */
  def attributionJoin(clicks: DataFrame, purchases: DataFrame,
                      watermark: String = "1 hour",
                      joinType: String = "inner"): DataFrame = {
    val c = clicks
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
              col("ts").as("click_ts"))
      .withWatermark("click_ts", watermark)
    val p = purchases
      .select(col("user_id"), col("event_id"), col("ts"))
      .withWatermark("ts", watermark)
    p.join(c,
        col("user_id") === col("c_user") &&
        col("click_ts") >= col("ts") - expr("INTERVAL 1 HOUR") &&
        col("click_ts") <= col("ts"),
        joinType)
      .select(col("event_id"), col("user_id"), col("click_id"),
              (unix_millis(col("ts")) - unix_millis(col("click_ts"))).as("gap_ms"))
  }

  /** Streaming exact-dedup with BOUNDED state: duplicates arriving
    * within the watermark window are dropped, and per-key state is
    * evicted once the watermark passes it (plain dropDuplicates on a
    * non-event-time key would grow state forever — the watermark alone
    * does not bound it). */
  def dedupped(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** Per-user event row for stateful processing (`ts` stays a real
    * timestamp so the event-time watermark drives state timeouts). */
  final case class UserEvent(user_id: Long, event_id: Long, ts: java.sql.Timestamp)

  /** A closed session emitted by the stateful sessionizer. */
  final case class Session(
      user_id: Long, session_id: Long, n_events: Long,
      first_event: Long, duration_ms: Long)

  /** Mutable per-user session state. */
  final case class SessionState(
      sessionId: Long, firstEvent: Long, firstMs: Long, lastMs: Long, n: Long)

  /** Gap-based sessionization with custom cross-batch state — the
    * streaming twin of EventQueries.sessionize (6 h gap).
    *
    * Emits every CLOSED session when the next one opens; the final open
    * session per user is emitted when the event-time watermark passes
    * its gap deadline (GroupStateTimeout.EventTimeTimeout — the input
    * MUST carry `withWatermark("ts", …)`, as [[sessionizeStream]]
    * arranges). Rows at/older than the watermark are dropped (allowed-
    * lateness contract; keep the watermark delay ≤ the gap so a
    * surviving late event can never belong to an already-closed
    * session); in-gap late events extend the session via min/max.
    * Closed-session tombstones keep the per-user numbering and are
    * evicted after `tombstoneRetentionMs`, so state stays bounded.
    * `OutputMode.Append`.
    */
  def sessionize(events: Dataset[UserEvent], gapMs: Long = 21600000L,
                 tombstoneRetentionMs: Long = 604800000L): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[UserEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            if (st.n == 0L) {
              // tombstone retention elapsed: evict — state stays bounded
              // even with unbounded user cardinality (a returning user
              // restarts numbering, the documented retention trade-off)
              state.remove()
              Iterator.empty
            } else {
              // watermark passed lastMs + gap: the session can no longer
              // grow — emit it, but KEEP the session counter as a closed
              // tombstone (n = 0) so later events continue the batch
              // numbering instead of restarting at 1
              state.update(st.copy(n = 0L))
              state.setTimeoutTimestamp(
                math.max(st.lastMs + gapMs,
                         state.getCurrentWatermarkMs() + 1) + tombstoneRetentionMs)
              Iterator.single(
                Session(userId, st.sessionId, st.n, st.firstEvent,
                        st.lastMs - st.firstMs)) // st captured before copy
            }
          } else {
            // rows within a micro-batch arrive unordered: sort by (ts, id).
            // Drop rows at/older than the watermark (standard allowed-
            // lateness): with watermark delay <= gap this also guarantees
            // a late event can never fall more than `gap` before the live
            // session's start, so backward-merge into a closed session
            // cannot occur.
            val wm = state.getCurrentWatermarkMs()
            val sorted = rows.filter(_.ts.getTime > wm).toSeq
              .sortBy(e => (e.ts.getTime, e.event_id))
            var st = state.getOption.orNull
            val closed = Seq.newBuilder[Session]
            sorted.foreach { e =>
              val t = e.ts.getTime
              if (st == null) {
                st = SessionState(1L, e.event_id, t, t, 1L)
              } else if (st.n == 0L) { // closed tombstone: next session
                st = SessionState(st.sessionId + 1, e.event_id, t, t, 1L)
              } else if (t - st.lastMs > gapMs) {
                closed += Session(userId, st.sessionId, st.n, st.firstEvent,
                                  st.lastMs - st.firstMs)
                st = SessionState(st.sessionId + 1, e.event_id, t, t, 1L)
              } else {
                // batch twin: first_event = min(event_id), duration =
                // max(ts) - min(ts); a late event must extend, not regress
                st = st.copy(
                  firstEvent = math.min(st.firstEvent, e.event_id),
                  firstMs = math.min(st.firstMs, t),
                  lastMs = math.max(st.lastMs, t),
                  n = st.n + 1)
              }
            }
            if (st != null) {
              state.update(st)
              val deadline = math.max(st.lastMs + gapMs,
                                      state.getCurrentWatermarkMs() + 1)
              // open session: fires at gap deadline; tombstone: at the
              // retention horizon (then evicted) — state always bounded
              state.setTimeoutTimestamp(
                if (st.n > 0L) deadline else deadline + tombstoneRetentionMs)
            }
            closed.result().iterator
          }
      }
  }

  /** Watermarked end-to-end form: (user_id, event_id, ts) frame →
    * sessions, with final sessions flushed by event-time timeout. */
  def sessionizeStream(events: DataFrame, gapMs: Long = 21600000L,
                       watermark: String = "1 hour"): Dataset[Session] = {
    import events.sparkSession.implicits._
    sessionize(
      events
        .withWatermark("ts", watermark)
        .select(col("user_id").cast("long"), col("event_id").cast("long"),
                col("ts"))
        .as[UserEvent],
      gapMs)
  }

  final case class TypedEvent(
      user_id: Long, event_id: Long, ts: java.sql.Timestamp, event_type: String)

  /** One observed transition (a training example for the Markov model). */
  final case class Transition(prev_type: String, next_type: String)

  /** Per-user state: the single most recent event — O(1) per user. */
  final case class LastEvent(ms: Long, eventId: Long, tpe: String)

  /** Streaming twin of EventQueries.transitions: emits one row per
    * observed same-session (gap ≤ 6 h) type transition as events
    * arrive; the downstream count-by-(prev, next) IS the continuously
    * maintained Markov model. State is one event per user (the minimal
    * sufficient statistic), evicted by event-time timeout after
    * `retentionMs` idle — a user returning later starts fresh, which
    * changes nothing: their gap would exceed 6 h anyway, so no
    * transition is lost. Rows at/older than the watermark are dropped
    * (allowed-lateness contract shared with [[sessionize]]); within a
    * micro-batch rows sort by (ts, event_id), the batch tie-break.
    *
    * Late events (within the watermark, delivered in a LATER micro-batch
    * than a newer event): the stored state is merged into the sorted
    * incoming rows by (ts, event_id) — the batch twin's global order —
    * so pairs are always emitted oldest→newest and state keeps the MAX
    * event (extend-not-regress, [[sessionize]]'s contract). Residual
    * divergence, inherent to O(1) state: the transition OUT OF the event
    * that preceded the stored one was already emitted against the stored
    * event and cannot be recalled when a late row lands between them —
    * only the pairs touching the late row itself are recoverable, and
    * those are emitted correctly. One deliberate eviction-timing nuance:
    * a micro-batch whose rows are ALL at/behind the watermark leaves
    * state (and its retention timeout) untouched, so an idle user's
    * state evicts on the original schedule — late noise no longer
    * postpones eviction the way the pre-round-7 refresh did. */
  def transitions(events: Dataset[TypedEvent], gapMs: Long = 21600000L,
                  retentionMs: Long = 604800000L): Dataset[Transition] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastEvent, Transition](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: Long, rows: Iterator[TypedEvent], state: GroupState[LastEvent]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val wm = state.getCurrentWatermarkMs()
            val incoming = rows.filter(_.ts.getTime > wm)
              .map(e => LastEvent(e.ts.getTime, e.event_id, e.event_type))
              .toSeq
            val out = Seq.newBuilder[Transition]
            if (incoming.nonEmpty) {
              // merge state into the batch's event-time order: a
              // within-watermark late row may be OLDER than the state
              val merged = (state.getOption.toSeq ++ incoming)
                .sortBy(le => (le.ms, le.eventId))
              merged.zip(merged.drop(1)).foreach { case (a, b) =>
                if (b.ms - a.ms <= gapMs) out += Transition(a.tpe, b.tpe)
              }
              val last = merged.last // the max — state never regresses
              state.update(last)
              state.setTimeoutTimestamp(
                math.max(last.ms + retentionMs,
                         state.getCurrentWatermarkMs() + 1))
            }
            out.result().iterator
          }
      }
  }

  /** Watermarked end-to-end form: (user_id, event_id, ts, event_type)
    * frame → transition rows. */
  def transitionsStream(events: DataFrame, gapMs: Long = 21600000L,
                        watermark: String = "1 hour"): Dataset[Transition] = {
    import events.sparkSession.implicits._
    transitions(
      events
        .withWatermark("ts", watermark)
        .select(col("user_id").cast("long"), col("event_id").cast("long"),
                col("ts"), col("event_type"))
        .as[TypedEvent],
      gapMs)
  }

  /** Continuous keyed merge: every micro-batch upserts into a bucketed
    * warehouse table through [[graft.sources.UpsertBucketedSink]] — the
    * streaming CDC-apply pattern without a transactional table format.
    * `foreachBatch` reuses the batch sink verbatim, so the stream and
    * the daily batch load share one merge implementation (and one
    * correctness spec). Exactly-once per key does not depend on
    * micro-batch replay: the merge is idempotent — keep-latest by
    * (version, tie-break columns) yields the same table whether a batch
    * applies once or twice — which is precisely the property a restart
    * recovery needs. */
  def upsertStream(df: DataFrame, sink: graft.sources.UpsertBucketedSink,
                   table: String): org.apache.spark.sql.streaming.DataStreamWriter[
      org.apache.spark.sql.Row] =
    df.writeStream
      .outputMode(OutputMode.Update)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) sink.write(batch, table)
      }
}
