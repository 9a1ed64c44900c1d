package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.StringToColumn

/** One event row (the `events` testdata schema). */
final case class Event(
    event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double, props: String)

/** A closed session emitted by the stateful sessionizer. */
final case class Session(
    user_id: Long, start_ts: Timestamp, end_ts: Timestamp,
    n_events: Long, total: Double)

/** Structured Streaming operators over an event stream (SURVEY §2.11).
  *
  * Batch twins with DuckDB oracles live in `graft.queries.EventOps`;
  * these run the same logic incrementally. Works on any streaming
  * DataFrame (file source, Kafka, MemoryStream in tests) — state is
  * bounded by the watermark, so the plan is stable at any input rate:
  * the only shuffle is on the group key, and expired state is dropped
  * by event-time, never accumulated.
  */
object EventStream {

  /** Tumbling-window counts/sums with a watermark: late events beyond
    * `watermark` are dropped; window state is purged once the watermark
    * passes the window end (bounded state at 100 TB/day rates). A
    * tumbling window IS the slide == length hopping window, so this
    * delegates — one body to keep correct. */
  def windowedCounts(events: DataFrame, watermark: String = "1 hour",
      windowLen: String = "1 hour"): DataFrame =
    hoppingCounts(events, watermark, windowLen, slide = windowLen)

  /** Hopping (sliding) window counts/sums: the e5 batch query run
    * incrementally. The window generator emits size/slide windows per
    * event BEFORE the aggregation exchange, so map-side partials and
    * watermark-driven state eviction work exactly as in the tumbling
    * case — state is O(open windows), not O(stream). */
  def hoppingCounts(events: DataFrame, watermark: String = "1 hour",
      windowLen: String = "1 hour", slide: String = "30 minutes"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window($"ts", windowLen, slide), $"event_type")
      .agg(count(lit(1)).as("n"), sum($"value").as("total"))
      .select($"window.start".as("win"), $"event_type", $"n", $"total")

  /** Stream-static enrichment join: the streaming side joins a static
    * dimension (user tier, source metadata...) per micro-batch with the
    * dimension BROADCAST — the stream itself never shuffles and the
    * join holds no state. The static side is re-read per batch, so a
    * dimension table updated in place is picked up without restarting
    * the query. */
  def enrich(events: DataFrame, dim: DataFrame,
      key: String = "user_id"): DataFrame =
    events.join(broadcast(dim), Seq(key), "left")

  // ---- watermark-buffered event-time reorder -------------------------
  //
  // The batch twins (e4/e6/e7/G1) fold events in GLOBAL (ts, event_id)
  // order. A micro-batch only guarantees order WITHIN the batch: an
  // event later than the watermark may arrive in a later batch than
  // its successors, and a per-batch sort would fold it out of order
  // (inverted transition pairs, regressed funnel anchors, sessions
  // whose start lies after a member event). The standard exact fix —
  // the same one Flink's event-time operators use — is to buffer each
  // arriving event in state until the watermark passes it, then fold
  // the now-immutable prefix in true global order:
  //
  //  * an event is RIPE once ts < watermark — Spark's late filter
  //    guarantees no new arrival can ever sort at-or-before it, so the
  //    ripe prefix's order is final;
  //  * unripe events are held in the group state (bounded by the
  //    watermark horizon, exactly the dropDuplicatesWithinWatermark
  //    state bound) and an event-time timeout re-invokes the group
  //    when the watermark passes the earliest held event;
  //  * output therefore lags arrival by up to the watermark — the
  //    inherent price of exact event-time order.
  //
  // The four stateful operators below all fold through this gate, so
  // each is an EXACT twin of its batch query under ANY within-watermark
  // disorder (StreamingSpec pins cross-batch late arrivals on each).

  // NOT private: Spark's generated (de)serializers must reach the ctor
  final case class Pending(ts: Long, id: Long, tpe: String, value: Double)

  /** Merge held + newly-arrived events and split at the watermark:
    * returns (ripe events in final (ts, id) order, events to hold). */
  private def ripeSplit(pending: Array[Pending], rows: Iterator[Event],
      wmMs: Long): (Array[Pending], Array[Pending]) = {
    val all = pending ++ rows.map(e =>
      Pending(e.ts.getTime, e.event_id, e.event_type, e.value))
    val (ripe, hold) = all.partition(_.ts < wmMs)
    (ripe.sortBy(p => (p.ts, p.id)), hold)
  }

  /** Arm the event-time timeout so the group wakes as soon as the
    * earliest held event ripens (hold ts >= watermark, so +1 satisfies
    * Spark's strictly-greater requirement). */
  private def armFor(state: GroupState[_], hold: Array[Pending]): Unit =
    if (hold.nonEmpty) state.setTimeoutTimestamp(hold.map(_.ts).min + 1)

  /** Incremental event-transition pairs (streaming twin of batch e6):
    * per user, fold events in exact global (ts, event_id) order through
    * the watermark buffer; each ripened event emits one (prev, next)
    * pair against the previous ripened event — byte-identical to e6's
    * `lag() OVER (ORDER BY ts, event_id)` for every event inside the
    * watermark. State is the last ripened type plus one watermark
    * horizon of held events per user; the downstream count per pair is
    * an ordinary streaming aggregation. Run in Append output mode. */
  def transitions(events: Dataset[Event],
      watermark: String = "1 hour"): Dataset[Transition] =
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState[TransState, Transition](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[Event],
            state: GroupState[TransState]) =>
          val st = state.getOption.getOrElse(TransState("", Array.empty))
          val (ripe, hold) =
            ripeSplit(st.pending, rows, state.getCurrentWatermarkMs())
          val out = Vector.newBuilder[Transition]
          var last = st.lastTpe
          ripe.foreach { p =>
            if (last.nonEmpty) out += Transition(userId, last, p.tpe)
            last = p.tpe
          }
          state.update(TransState(last, hold))
          armFor(state, hold)
          out.result().iterator
      }

  // NOT private: Spark's generated (de)serializers must reach the ctor.
  // lastTpe empty = no event ripened yet (event types are non-empty).
  final case class TransState(lastTpe: String, pending: Array[Pending])
  final case class Transition(user_id: Long, prev: String, next: String)

  private implicit val transStateEnc: Encoder[TransState] =
    Encoders.product[TransState]
  private implicit val transitionEnc: Encoder[Transition] =
    Encoders.product[Transition]

  /** Streaming exact dedup: drops rows whose key was already seen,
    * keeping state only within the watermark horizon (the streaming
    * twin of the batch x5 hash-groupBy dedup — the form a continuous
    * training-data ingest pipeline needs). State is bounded: a key's
    * entry is evicted once the watermark passes its event time, so
    * at 100 TB/day the state store holds one horizon's keys, not the
    * stream's history. */
  def dedupWithinWatermark(events: DataFrame, keys: Seq[String],
      watermark: String = "1 hour"): DataFrame = {
    require(keys.nonEmpty, "dedupWithinWatermark needs at least one key " +
      "column (all-columns dedup would include ts and never match)")
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)
  }

  // NOT private: Spark's generated (de)serializers must reach the ctor.
  // open=false <=> no session in progress (start/last/n/total unused).
  final case class SessionState(open: Boolean, start: Long, last: Long,
      n: Long, total: Double, pending: Array[Pending])

  private implicit val sessionEnc: Encoder[Session] =
    Encoders.product[Session]
  private implicit val stateEnc: Encoder[SessionState] =
    Encoders.product[SessionState]

  // NOT private: Spark's generated (de)serializers must reach the ctor
  final case class FunnelState(t1: Long, t2: Long, t3: Long,
      pending: Array[Pending])
  final case class FunnelStage(user_id: Long, stage: Int)

  private implicit val funnelStateEnc: Encoder[FunnelState] =
    Encoders.product[FunnelState]
  private implicit val funnelStageEnc: Encoder[FunnelStage] =
    Encoders.product[FunnelStage]

  /** Incremental ordered conversion funnel (streaming twin of the
    * batch e4 query): per user, first view, first click after it,
    * first purchase after that. Events fold through the watermark
    * buffer in exact global ts order, so the sequential fold IS e4's
    * `t1 = min(view), t2 = min(click > t1), t3 = min(purchase > t2)`
    * for every event inside the watermark — a late view cannot regress
    * an anchor because no anchor is set until the watermark passes it.
    * Emits the user's current stage (0-3) whenever the group wakes;
    * state is three epoch-millis longs plus one watermark horizon of
    * held events per user. Run the query in Update output mode. */
  def funnelStages(events: Dataset[Event],
      watermark: String = "1 hour"): Dataset[FunnelStage] =
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .mapGroupsWithState[FunnelState, FunnelStage](
        GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[Event],
            state: GroupState[FunnelState]) =>
          var s = state.getOption.getOrElse(FunnelState(0, 0, 0, Array.empty))
          if (s.t3 != 0) {
            // funnel complete — the terminal state at production rates:
            // no event can advance any stage again, so drain arrivals
            // unbuffered and pin the state at three longs instead of
            // re-sorting a watermark horizon of pending events forever
            rows.foreach(_ => ())
            if (s.pending.nonEmpty)
              state.update(s.copy(pending = Array.empty))
            FunnelStage(userId, 3)
          } else {
            val (ripe, hold) =
              ripeSplit(s.pending, rows, state.getCurrentWatermarkMs())
            ripe.foreach { p =>
              p.tpe match {
                case "view" if s.t1 == 0 => s = s.copy(t1 = p.ts)
                case "click" if s.t1 != 0 && s.t2 == 0 && p.ts > s.t1 =>
                  s = s.copy(t2 = p.ts)
                case "purchase" if s.t2 != 0 && s.t3 == 0 && p.ts > s.t2 =>
                  s = s.copy(t3 = p.ts)
                case _ => ()
              }
            }
            // a hold is only useful while the funnel can still move
            val keep = if (s.t3 != 0) Array.empty[Pending] else hold
            state.update(s.copy(pending = keep))
            armFor(state, keep)
            FunnelStage(userId, (if (s.t1 != 0) 1 else 0)
              + (if (s.t2 != 0) 1 else 0) + (if (s.t3 != 0) 1 else 0))
          }
      }

  // NOT private: Spark's generated (de)serializers must reach the ctor.
  // cohortDays = -1 <=> no event has ripened yet.
  final case class CohortPair(
      cohort: java.sql.Date, week_offset: Long, user_id: Long)
  final case class RetentionState(
      cohortDays: Long, seen: Array[Long], pending: Array[Pending])

  private implicit val cohortPairEnc: Encoder[CohortPair] =
    Encoders.product[CohortPair]
  private implicit val retentionStateEnc: Encoder[RetentionState] =
    Encoders.product[RetentionState]

  private def weekStartDays(epochMs: Long): Long =
    java.time.Instant.ofEpochMilli(epochMs)
      .atZone(java.time.ZoneOffset.UTC).toLocalDate
      .`with`(java.time.temporal.TemporalAdjusters
        .previousOrSame(java.time.DayOfWeek.MONDAY))
      .toEpochDay

  /** Incremental weekly-cohort retention (streaming twin of batch e7):
    * per user, the state holds the cohort week (week of the earliest
    * event) and the set of week offsets already emitted; each ripened
    * event emits its (cohort, week_offset, user) triple AT MOST ONCE,
    * so `groupBy(cohort, week_offset).count()` downstream IS e7's
    * n_users matrix — counting plain rows equals counting distinct
    * users because duplicates never leave the state function. Events
    * fold through the watermark buffer in global ts order, so the
    * cohort anchor is the TRUE earliest event no matter how disordered
    * the arrivals were within the watermark — emitted pairs are exact
    * append facts, never retracted. State is one date plus O(active
    * weeks) longs plus one watermark horizon of held events per user. */
  def retentionPairs(events: Dataset[Event],
      watermark: String = "1 hour"): Dataset[CohortPair] =
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState[RetentionState, CohortPair](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[Event],
            state: GroupState[RetentionState]) =>
          def pair(cohortDays: Long, off: Long) = CohortPair(
            java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(cohortDays)),
            off, userId)
          val out = Vector.newBuilder[CohortPair]
          val prev = state.getOption
            .getOrElse(RetentionState(-1L, Array.empty, Array.empty))
          val (ripe, hold) =
            ripeSplit(prev.pending, rows, state.getCurrentWatermarkMs())
          var cohort = prev.cohortDays
          var seen = prev.seen
          ripe.foreach { p =>
            val wk = weekStartDays(p.ts)
            if (cohort < 0) {
              cohort = wk; seen = Array(0L)
              out += pair(wk, 0L)
            } else {
              // ripe events arrive in global order, so wk >= cohort
              val off = (wk - cohort) / 7
              if (!seen.contains(off)) {
                seen = (seen :+ off).sorted
                out += pair(cohort, off)
              }
            }
          }
          state.update(RetentionState(cohort, seen, hold))
          armFor(state, hold)
          out.result().iterator
      }

  /** Gap-based sessionization via flatMapGroupsWithState: a session
    * closes when `gap` passes with no events. Events fold through the
    * watermark buffer in global ts order, so a gap between two ripened
    * events is FINAL (any future arrival must carry ts >= watermark,
    * which lies beyond both) — a late event can never bridge a gap the
    * operator already closed, and a session's start is genuinely its
    * earliest event. The trailing open session closes once the
    * watermark passes `last + gap`, enforced by event-time timeout, so
    * state is O(active users) x one watermark horizon of held events.
    * The reference has no streaming surface; this is the engine-native
    * generalization of its per-key batch grouping (G1/G2). */
  def sessionize(events: Dataset[Event], gapMs: Long = 30L * 60 * 1000,
      watermark: String = "1 hour"): Dataset[Session] = {
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)(Encoders.scalaLong)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[Event],
            state: GroupState[SessionState]) =>
          val wm = state.getCurrentWatermarkMs()
          val prev = state.getOption.getOrElse(
            SessionState(open = false, 0L, 0L, 0L, 0.0, Array.empty))
          val (ripe, hold) = ripeSplit(prev.pending, rows, wm)
          val closed = Vector.newBuilder[Session]
          var cur = if (prev.open) Some(prev) else None
          def close(s: SessionState): Unit =
            closed += Session(userId, new Timestamp(s.start),
              new Timestamp(s.last), s.n, s.total)
          ripe.foreach { p =>
            cur match {
              case Some(s) if p.ts - s.last <= gapMs =>
                cur = Some(s.copy(last = p.ts, n = s.n + 1,
                  total = s.total + p.value))
              case other =>
                other.foreach(close)
                cur = Some(SessionState(open = true, p.ts, p.ts, 1L,
                  p.value, Array.empty))
            }
          }
          // the watermark passed the open session's gap horizon: no
          // arrival can extend it any more — close it now
          cur.filter(s => wm > s.last + gapMs).foreach { s =>
            close(s); cur = None
          }
          if (cur.isEmpty && hold.isEmpty) state.remove()
          else {
            val s = cur.getOrElse(
              SessionState(open = false, 0L, 0L, 0L, 0.0, Array.empty))
            state.update(s.copy(pending = hold))
            // wake when the earliest held event ripens OR the open
            // session's gap expires, whichever comes first (both are
            // >= watermark, so +1 satisfies strictly-greater)
            val wake = hold.map(_.ts + 1) ++
              cur.map(c => c.last + gapMs + 1)
            state.setTimeoutTimestamp(wake.min)
          }
          closed.result().iterator
      }
  }

  /** Watermarked stream-stream interval join (the incremental twin of
    * batch `e8_interval_join`): views joined to same-user purchases
    * inside (view_ts, view_ts + joinWindow]. Both sides carry a
    * watermark AND the join condition bounds purchase time against view
    * time, so Spark derives a state-eviction horizon for EACH side —
    * a view is dropped from state once the purchase watermark passes
    * view_ts + joinWindow, a purchase once the view watermark passes
    * purchase_ts. State is O(events inside the watermark+window
    * horizon), never the stream history; the only shuffle is the
    * user_id hash partitioning both inputs already need.
    */
  def intervalJoin(views: DataFrame, purchases: DataFrame,
      watermark: String = "2 hours",
      joinWindow: String = "1 hour"): DataFrame =
    intervalJoined(views, purchases, watermark, joinWindow,
      joinType = "inner", withAmount = true)

  /** Shared body of the inner/outer interval joins — one projection +
    * watermark + join condition to keep correct, with the purchase
    * side's `value` column buffered in join state ONLY when the inner
    * variant outputs it as `amount`. */
  private def intervalJoined(views: DataFrame, purchases: DataFrame,
      watermark: String, joinWindow: String, joinType: String,
      withAmount: Boolean): DataFrame = {
    val v = views
      .select($"user_id", $"event_id".as("view_id"), $"ts".as("vts"))
      .withWatermark("vts", watermark)
    val pBase = purchases
      .select($"user_id".as("puid"), $"event_id".as("purchase_id"),
        $"ts".as("pts"), $"value")
    val p = (if (withAmount) pBase else pBase.drop("value"))
      .withWatermark("pts", watermark)
    val joined = v.join(p, expr(
      s"user_id = puid AND pts > vts AND pts <= vts + interval $joinWindow"),
      joinType)
    val base = Seq($"user_id", $"view_id", $"purchase_id",
      ($"pts".cast("long") - $"vts".cast("long")).as("lag_s"))
    joined.select(
      (if (withAmount) base :+ round($"value", 2).as("amount") else base): _*)
  }

  /** LEFT OUTER stream-stream interval join (the incremental twin of
    * batch `e9_abandonment` before its rollup): matched (view,
    * purchase) pairs emit like [[intervalJoin]]; an UNMATCHED view
    * emits with null purchase columns — but only once the purchase
    * watermark passes view_ts + joinWindow, because until then a
    * matching purchase could still arrive. The state-eviction horizon
    * IS the completeness proof: Spark emits the null row exactly when
    * it can promise no match exists, so downstream abandonment counts
    * are final on arrival.
    */
  def intervalJoinOuter(views: DataFrame, purchases: DataFrame,
      watermark: String = "2 hours",
      joinWindow: String = "1 hour"): DataFrame =
    intervalJoined(views, purchases, watermark, joinWindow,
      joinType = "leftOuter", withAmount = false)
}
