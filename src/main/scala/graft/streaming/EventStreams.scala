package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import java.sql.Timestamp

/** One input event (mirrors the driver's `events` table schema). */
final case class Event(
    event_id: Long,
    ts: Timestamp,
    user_id: Long,
    event_type: String,
    value: Double)

/** Emitted when a user session closes (30 min idle gap). */
final case class Session(
    user_id: Long,
    session_start: Timestamp,
    session_end: Timestamp,
    n_events: Long,
    total_value: Double)

/** In-flight session state kept per user between micro-batches. */
final case class SessionState(
    start: Long, last: Long, n: Long, total: Double)

/** A purchase enriched with the user's latest at-or-before click
  * (streaming face of the batch as-of join `q_join_asof`). */
final case class AsofEnriched(
    user_id: Long,
    purchase_id: Long,
    purchase_ts: Timestamp,
    last_click_ts: Option[Timestamp],
    ms_since_click: Option[Long])

/** Per-user as-of state between micro-batches: the latest
  * watermark-mature click (one long — everything older is provably
  * irrelevant), plus the clicks and purchases the watermark hasn't
  * finalized yet (bounded by the watermark delay, like any
  * stream-stream join's buffer). */
final case class AsofState(
    lastClick: Option[Long],
    clicks: List[Long],
    purchases: List[(Long, Long)])

/** One finalized day of the streaming CUSUM monitor — schema-identical
  * to the batch `q_events_cusum` rows so replay equality is a string
  * compare. */
final case class CusumRow(
    event_type: String,
    d: Long,
    cnt: Long,
    s_up: Long,
    s_dn: Long,
    alarm_up: Boolean,
    alarm_dn: Boolean)

/** Per-type CUSUM state between micro-batches: counts for days the
  * watermark hasn't closed (bounded by watermark lag × 1 row/day),
  * the ≤7-day baseline buffer, and four longs of statistic state —
  * nothing here grows with the stream. */
final case class CusumState(
    open: Map[Long, Long],
    pending: List[(Long, Long)],
    b: Long, hasBase: Boolean,
    p: Long, minP: Long, pd: Long, maxPd: Long)

/** Structured Streaming operators over the events stream.
  *
  * The reference has NO streaming at all (SURVEY.md §2.9) — this module
  * is the beyond-parity surface the brief asks for: `readStream` →
  * transform → `writeStream` with watermarks, windowed aggregation, and
  * custom session state via `flatMapGroupsWithState`.
  *
  * Every transform here is written against a plain `DataFrame`, so the
  * SAME code runs in batch mode (tests drive it with `MemoryStream` for
  * streaming semantics and with the parquet `events` table for batch
  * parity). At scale the windowed aggregate is a streaming two-phase
  * hash agg partitioned by (window, event_type); session state shuffles
  * once on user_id and lives in the state store.
  */
object EventStreams {

  /** Tumbling-window event counts with a watermark for late data.
    * Streaming: emits finalized windows (append mode) once the watermark
    * passes; batch: same result computed directly. */
  def windowedCounts(
      events: DataFrame,
      windowLen: String = "1 hour",
      watermark: String = "30 minutes"): DataFrame =
    events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(20, 2)))
          .cast("double").as("total_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n_events"), col("total_value"))

  /** Live daily-active-users via streaming HLL — the streaming face of
    * `q_events_active_sketch`, and the one member of the family where
    * the sketch is not an optimization but the ONLY bounded-state
    * option: exact streaming COUNT(DISTINCT user) needs per-user state
    * (unbounded — Spark rejects distinct aggregates in streaming for
    * exactly this reason), while the HLL buffer is one 2^12-register
    * sketch per open day window regardless of user volume. Emits each
    * finalized day once (append mode): (day_start, dau_est, heavy =
    * est > heavyThreshold — the alerting flag a live DAU dashboard
    * keys on). The estimate is DETERMINISTIC (fixed-seed register
    * hashing, order-insensitive unions), so StreamingSpec pins stream ≡
    * the identical batch expression AND within 10% of batch exact
    * distinct — the same certification the batch twin carries in-plan. */
  def dauSketch(
      events: DataFrame,
      watermark: String = "1 hour",
      heavyThreshold: Long = 1000L): DataFrame =
    events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 day"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), 12)).as("dau_est"))
      .select(col("window.start").as("day_start"),
        col("dau_est").cast("long").as("dau_est"))
      .withColumn("heavy", col("dau_est") > lit(heavyThreshold))

  /** Hopping (sliding) window counts — the streaming twin of the batch
    * `q_events_hopping` catalog query: every event lands in
    * windowLen/slide overlapping epoch-aligned windows, expanded
    * map-side before the two-phase agg; watermark finalizes each window
    * once event time passes window_end + watermark. State is bounded by
    * open windows × event types (windows close as the watermark
    * advances), NOT by event volume. */
  def slidingCounts(
      events: DataFrame,
      windowLen: String = "2 hours",
      slide: String = "30 minutes",
      watermark: String = "30 minutes"): DataFrame =
    events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen, slide), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast(org.apache.spark.sql.types.DecimalType(20, 2)))
          .cast("double").as("total_value"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n_events"), col("total_value"))

  /** Stream-stream interval join: pair each purchase with the same
    * user's clicks from the preceding hour. Both sides carry watermarks
    * so the join state is bounded — late rows past the watermark are
    * dropped, and click state older than the interval is evicted. */
  def purchasesWithRecentClicks(
      clicks: DataFrame,
      purchases: DataFrame,
      watermark: String = "30 minutes"): DataFrame = {
    val c = clicks.select(col("user_id").as("c_user"),
      col("ts").cast("timestamp").as("click_ts"), col("event_id").as("click_id"))
      .withWatermark("click_ts", watermark)
    val p = purchases.select(col("user_id").as("p_user"),
      col("ts").cast("timestamp").as("purchase_ts"), col("event_id").as("purchase_id"),
      col("value"))
      .withWatermark("purchase_ts", watermark)
    p.join(c,
      col("p_user") === col("c_user") &&
        col("click_ts") >= col("purchase_ts") - expr("INTERVAL 1 HOUR") &&
        col("click_ts") <= col("purchase_ts"))
      .select(col("p_user").as("user_id"), col("purchase_id"), col("click_id"),
        col("purchase_ts"), col("click_ts"), col("value"))
  }

  /** Stream-stream AS-OF enrichment: each purchase paired with the same
    * user's latest click at-or-before it — the point-in-time feature
    * lookup of a training pipeline, in streaming mode. The interval join
    * above can't express "latest prior" (it emits EVERY click in the
    * window), so this is stateful: one shuffle on user_id, then
    * `flatMapGroupsWithState` holds per user the latest watermark-mature
    * click (a single long) plus only the clicks/purchases the watermark
    * hasn't finalized yet.
    *
    * Replay correctness: a purchase is emitted only once the watermark
    * passes its timestamp, at which point every click that could precede
    * it has either arrived or been dropped as too-late — so a click that
    * arrives in a later micro-batch than the purchase (but within the
    * watermark) still wins, and reprocessing the same data yields the
    * same pairs as the batch `q_join_asof` composition.
    * `EventTimeTimeout` flushes purchases whose user goes idle. Batch
    * face: the window-based union-merge in `q_join_asof` (this state
    * machine is streaming-only — in batch the watermark never advances).
    */
  def asofEnrich(events: Dataset[Event], watermark: String = "30 minutes"):
      Dataset[AsofEnriched] = {
    import events.sparkSession.implicits._
    // state holds epoch MICROS (not Timestamp.getTime millis): the batch
    // as-of compares full-precision timestamps, and a click between a
    // purchase's micro and milli boundary must resolve identically here
    def us(t: Timestamp): Long = t.getTime / 1000 * 1000000L + t.getNanos / 1000
    def ts(u: Long): Timestamp = {
      val t = new Timestamp(u / 1000000 * 1000)
      t.setNanos((u % 1000000).toInt * 1000)
      t
    }
    events
      .filter(col("event_type").isin("purchase", "click"))
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AsofState, AsofEnriched](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, batch: Iterator[Event], state: GroupState[AsofState]) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000
          val st = state.getOption.getOrElse(AsofState(None, Nil, Nil))
          var clicks = st.clicks
          var purchases = st.purchases
          batch.foreach { e =>
            if (e.event_type == "click") clicks ::= us(e.ts)
            else purchases ::= (e.event_id, us(e.ts))
          }
          // a purchase <= wm is complete: every click at-or-before it has
          // arrived (later ones would be dropped as too-late anyway)
          val (ready, pending) = purchases.partition(_._2 <= wmUs)
          val out = ready.sortBy(identity).map { case (pid, pts) =>
            val lc = (st.lastClick.toList ++ clicks.filter(_ <= pts)).maxOption
            // ms diff truncates each side separately, like unix_millis
            AsofEnriched(userId, pid, ts(pts),
              lc.map(ts), lc.map(c => pts / 1000 - c / 1000))
          }
          // evict mature clicks down to the single latest one — the only
          // click any FUTURE purchase (ts > wm) can as-of back to
          val newLast = (st.lastClick.toList ++ clicks.filter(_ <= wmUs)).maxOption
          val immature = clicks.filter(_ > wmUs)
          if (newLast.isEmpty && immature.isEmpty && pending.isEmpty) state.remove()
          else {
            state.update(AsofState(newLast, immature, pending))
            // wake this group when the watermark passes its oldest
            // pending purchase, even if the user goes silent (+1ms: the
            // timeout timestamp must sit strictly past the watermark)
            pending.map(_._2).minOption.foreach(u => state.setTimeoutTimestamp(u / 1000 + 1))
          }
          out.iterator
      }
  }

  /** Stream-static enrichment: a streaming fact joined to a static
    * dimension — the dimension is re-read per micro-batch (picks up
    * slowly-changing updates). `broadcastDim = true` (default) hints a
    * broadcast join; pass false for large dimensions so Spark can pick a
    * shuffled join instead of force-collecting the dim to the driver. */
  def enrich(stream: DataFrame, dim: DataFrame, key: String,
      broadcastDim: Boolean = true): DataFrame =
    stream.join(
      if (broadcastDim) org.apache.spark.sql.functions.broadcast(dim) else dim,
      key)

  /** Streaming rate-limit alerts — the live twin of the batch
    * `q_events_rate_limit` audit: per-(user, minute-window) event
    * counts under a watermark, emitting ONLY the buckets that breach
    * `limit` (append mode — each violation finalizes exactly once as
    * the watermark passes, so an enforcement sink can act on it
    * without dedup). State is bounded by open windows × active users
    * within the watermark horizon, not stream volume; the same code
    * audits a batch frame (minus the watermark) for replay. */
  def rateAlerts(
      events: DataFrame,
      limit: Int = 5,
      watermark: String = "10 minutes"): DataFrame =
    events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 minute"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > limit)
      .select(col("window.start").as("minute_start"), col("user_id"), col("n"))

  /** Per-type frozen baseline for the streaming anomaly monitor: the
    * trailing-week integer stats (S = sum of daily counts, Q = sum of
    * squares) over each type's LAST 7 fully-observed days in a BATCH
    * events frame. Types with fewer than 7 observed days are dropped —
    * the monitor never scores against a short window (same rule as the
    * batch q_events_anomaly). */
  def anomalyBaseline(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy(col("day").desc)
    events
      .withColumn("ts", col("ts").cast("timestamp"))
      .groupBy(window(col("ts"), "1 day").getField("start").as("day"),
        col("event_type"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 7)
      .groupBy("event_type")
      .agg(count(lit(1)).as("nw"), sum("cnt").as("s"),
        sum(col("cnt") * col("cnt")).as("q"))
      .filter(col("nw") === 7)
      .select("event_type", "s", "q")
  }

  /** Streaming twin of the batch `q_events_anomaly` monitor, in the
    * lambda shape production monitoring actually runs: the BATCH side
    * maintains the per-type baseline ([[anomalyBaseline]], refreshed on
    * whatever cadence the team trusts) and the STREAM scores each
    * finalized day against that frozen baseline with the same
    * all-integer test (7c − S)² > 4(7Q − S²) — no libm, no float state.
    * The static baseline joins BEFORE the aggregation (stream-static
    * enrich, broadcast), so the only streaming state is the watermarked
    * daily-count windows — bounded by open days × types, closed as the
    * watermark passes; no per-key history ever lives in the state
    * store. Identical code runs in batch for the replay-equality test. */
  def anomalies(
      events: DataFrame,
      baseline: DataFrame,
      watermark: String = "1 hour"): DataFrame =
    events
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", watermark)
      .join(broadcast(baseline), "event_type")
      .groupBy(window(col("ts"), "1 day"), col("event_type"), col("s"), col("q"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("window.start").as("day"), col("event_type"), col("cnt"),
        round(col("s") / 7.0, 9).as("base_mean"),
        ((lit(7L) * col("cnt") - col("s")) * (lit(7L) * col("cnt") - col("s"))
          > lit(4L) * (lit(7L) * col("q") - col("s") * col("s")))
          .as("is_anomaly"))

  /** Streaming twin of the batch `q_events_cusum` drift monitor: one
    * stateful operator keyed by event_type that buckets raw events into
    * days inside its own state, FINALIZES a day only when the watermark
    * passes its end (replay-correct: results depend on data, never on
    * arrival batching), freezes the baseline from the first 7 finalized
    * days exactly like the batch query's first-7-rows window, then runs
    * Page's recursion day by day — the same closed-form values the
    * batch computes with stacked windows, emitted incrementally. The
    * first ≤7 days buffer until the baseline exists and then replay
    * through the recursion, so the emitted rows are IDENTICAL to the
    * batch table (StreamingSpec pins string equality on a drifted
    * fixture, alarms firing at the hand-computed day). EventTimeTimeout
    * re-invokes each type when the watermark alone advances — a
    * watermark-only micro-batch still closes days. State is bounded:
    * open-day counts (watermark lag), a ≤7-entry buffer, four longs. */
  def cusumMonitor(
      events: Dataset[Event],
      watermark: String = "1 hour")(
      implicit e1: org.apache.spark.sql.Encoder[CusumRow]): Dataset[CusumRow] = {
    val DayMs = 86400000L
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.event_type)(org.apache.spark.sql.Encoders.STRING)
      .flatMapGroupsWithState[CusumState, CusumRow](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (typ: String, batch: Iterator[Event], state: GroupState[CusumState]) =>
          val st = state.getOption.getOrElse(CusumState(
            Map.empty, Nil, 0L, hasBase = false,
            0L, Long.MaxValue, 0L, Long.MinValue))
          var open = st.open
          batch.foreach { ev =>
            val day = ev.ts.getTime / DayMs
            open = open.updated(day, open.getOrElse(day, 0L) + 1L)
          }
          val wm = state.getCurrentWatermarkMs()
          val finalized = open.keys.filter(dd => (dd + 1) * DayMs <= wm).toSeq.sorted
          val finCounts = finalized.map(dd => dd -> open(dd))
          open = open -- finalized
          val out = Seq.newBuilder[CusumRow]
          var (b, hasBase, p, minP, pd, maxPd) =
            (st.b, st.hasBase, st.p, st.minP, st.pd, st.maxPd)
          var pending = st.pending
          def step(day: Long, cnt: Long): Unit = {
            p += cnt - b - b / 10
            if (p < minP) minP = p
            pd += cnt - (b - b / 10)
            if (pd > maxPd) maxPd = pd
            val sUp = p - minP
            val sDn = maxPd - pd
            out += CusumRow(typ, day, cnt, sUp, sDn, sUp > 2 * b, sDn > 2 * b)
          }
          finCounts.foreach { case (day, cnt) =>
            if (!hasBase) {
              pending = pending :+ (day -> cnt)
              if (pending.length == 7) {
                b = pending.map(_._2).sum / 7
                hasBase = true
                pending.foreach { case (dd, cc) => step(dd, cc) }
                pending = Nil
              }
            } else step(day, cnt)
          }
          state.update(CusumState(open, pending, b, hasBase, p, minP, pd, maxPd))
          if (open.nonEmpty)
            state.setTimeoutTimestamp(open.keys.map(dd => (dd + 1) * DayMs).min)
          out.result().iterator
      }(org.apache.spark.sql.Encoders.product[CusumState], e1)
  }

  /** Exact dedup on event_id. Streaming: state is scoped by the
    * watermark (dropDuplicatesWithinWatermark), so the dedup map doesn't
    * grow unboundedly — the streaming face of the corpus-prep exact-dedup
    * operator (q_dedup_exact). Batch: plain dropDuplicates (the
    * within-watermark variant is streaming-only and would throw). */
  def dedupe(events: DataFrame, watermark: String = "1 hour"): DataFrame = {
    val ts = events.withColumn("ts", col("ts").cast("timestamp"))
    if (events.isStreaming)
      ts.withWatermark("ts", watermark).dropDuplicatesWithinWatermark("event_id")
    else ts.dropDuplicates("event_id")
  }

  /** foreachBatch sink with per-batch idempotency: each micro-batch
    * overwrites its own `batch_id=<n>` directory, so a batch replayed
    * after a failure (streaming's at-least-once delivery to sinks)
    * produces the same files instead of duplicates — the standard
    * exactly-once-to-storage pattern. */
  def sinkParquetIdempotent(stream: DataFrame, dir: String):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.foreachBatch {
      (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$dir/batch_id=$batchId")
    }

  /** Stateful sessionization: groups a user's events into sessions split
    * by >30 min gaps, via `flatMapGroupsWithState`. Emits each session
    * when it closes.
    *
    * `timeout` controls idle-session flushing: pass
    * `EventTimeTimeout` (input must carry a watermark on `ts`) so an
    * idle session closes when the WATERMARK passes last+gap — the
    * replay-correct semantics: results depend only on the data, not on
    * wall clock, so reprocessing a day of events yields identical
    * sessions. `ProcessingTimeTimeout` closes after `gapMs` of wall
    * silence (live dashboards). The default is `NoTimeout` (sessions
    * close only when a later event arrives) — processing-time timeouts
    * schedule recurrent empty micro-batches, which livelocks test
    * harnesses that drain with `processAllAvailable`. */
  def sessionize(
      events: Dataset[Event],
      gapMs: Long = 30L * 60 * 1000,
      timeout: GroupStateTimeout = GroupStateTimeout.NoTimeout())(
      implicit e1: org.apache.spark.sql.Encoder[Session]):
      Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append(), timeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          val sorted = batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
          var cur = state.getOption
          val closed = Seq.newBuilder[Session]
          if (state.hasTimedOut) {
            cur.foreach(st => closed += Session(userId,
              new Timestamp(st.start), new Timestamp(st.last), st.n, st.total))
            cur = None
            state.remove()
          }
          sorted.foreach { ev =>
            val t = ev.ts.getTime
            cur match {
              // within [start-gap, last+gap]: merge, extending BOTH ends —
              // events are sorted per batch but can arrive out of order
              // ACROSS batches, so t may precede the current session
              case Some(st) if t >= st.start - gapMs && t <= st.last + gapMs =>
                cur = Some(SessionState(math.min(st.start, t), math.max(st.last, t),
                  st.n + 1, st.total + ev.value))
              case Some(st) if t > st.last + gapMs =>
                closed += Session(userId,
                  new Timestamp(st.start), new Timestamp(st.last), st.n, st.total)
                cur = Some(SessionState(t, t, 1, ev.value))
              case Some(_) =>
                // too-late event, earlier than the open session's reach:
                // emit as its own already-closed single-event session
                // (documented limitation — a watermark would drop it)
                closed += Session(userId, new Timestamp(t), new Timestamp(t), 1, ev.value)
              case None =>
                cur = Some(SessionState(t, t, 1, ev.value))
            }
          }
          cur.foreach { st =>
            state.update(st)
            if (timeout == GroupStateTimeout.ProcessingTimeTimeout())
              state.setTimeoutDuration(gapMs)
            else if (timeout == GroupStateTimeout.EventTimeTimeout())
              state.setTimeoutTimestamp(st.last + gapMs)
          }
          closed.result().iterator
      }
  }
}
