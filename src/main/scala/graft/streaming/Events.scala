package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.Row
import java.sql.Timestamp

/** Per-user session state for streaming sessionization (top-level: Spark's
  * state-encoder codegen requires a publicly constructible case class).
  */
case class SessionAgg(
    start: Timestamp, last: Timestamp, nEvents: Long, valueCents: Long)

/** Per-user OPEN-SESSION SET for streaming sessionization: the watermark
  * admits events anywhere in [wm, ∞), so a user can have several
  * not-yet-closable sessions in flight at once — a straggler more than a
  * gap before the newest session must be HELD (it may merge with further
  * in-watermark stragglers, exactly as batch would) rather than emitted
  * as an immediately-closed singleton. Sessions are disjoint and sorted;
  * the set size is bounded by watermark-horizon / gap.
  */
case class SessionsState(sessions: Seq[SessionAgg])

/** One buffered event for streaming rolling features (top-level for the
  * state-encoder codegen, like [[SessionAgg]]).
  */
case class RollEv(us: Long, cents: Long)

/** Per-user rolling-feature state: the trailing-window event buffer plus
  * the previous event for lag/gap. `hasPrev` instead of Option: a flat
  * schema keeps the state-store row fixed-width.
  */
case class RollState(
    buf: Seq[RollEv], prevUs: Long, prevCents: Long, hasPrev: Boolean)

/** Streaming rolling-feature output row — field names are the public
  * column contract, identical to [[graft.operators.Features.rollingEventFeatures]].
  */
case class RollOut(
    event_id: Long, user_id: Long, value_cents: Long,
    roll_n: Long, roll_cents: Long,
    prev_cents: Option[Long], gap_us: Option[Long])

/** Per-user funnel-chain state: how many stages this user has completed
  * and the event time of the last match (strict-> anchor for the next).
  */
case class FunnelState(nextIdx: Int, lastUs: Long)

/** A user reaching funnel stage `stage_idx` — the streaming advance
  * event; stage counts are a bounded aggregation over these.
  */
case class FunnelAdvance(user_id: Long, stage_idx: Int)

/** One buffered click touch for streaming multi-touch attribution. */
case class TouchClick(clickId: Long, ts: Long)

/** One purchase waiting for its attribution window to close under the
  * watermark (streaming multi-touch attribution).
  */
case class PendingPurchase(purchaseId: Long, ts: Long, valueCents: Long)

/** Per-user streaming attribution state: the trailing click buffer
  * (bounded by the attribution window × click rate) plus the purchases
  * whose windows the watermark has not yet closed.
  */
case class AttribState(clicks: Seq[TouchClick], pending: Seq[PendingPurchase])

/** One credited touch — field names are the public column contract,
  * identical to [[Events.multiTouchAttribution]].
  */
case class TouchOut(purchase_id: Long, click_id: Long, user_id: Long,
    n_clicks: Long, touch_pos: Int, weight_micro: Long, attributed_cents: Long)

/** Per-id CDC state for [[Events.applyChangesStream]]: the running
  * (seq, op, text) winner in the batch fold's total order, the max event
  * time seen (the quiescence anchor — max so disorder can't shorten it,
  * the sessionize lesson), and whether the winner changed since the last
  * emission. O(1) per id.
  */
case class CdcState(
    seq: Long, op: String, text: Option[String], lastMs: Long, dirty: Boolean)

/** One emitted CDC compaction frame: the per-id winner as of a
  * quiescence epoch (field names are the public column contract).
  */
case class CdcWinner(doc_id: Long, seq: Long, op: String, text: Option[String])

/** One change-log entry buffered in streaming SCD2 state. */
case class CdcChange(seq: Long, op: String, text: Option[String])

/** Per-id streaming SCD2 state: the changes of the current quiescence
  * epoch plus (after an emission) only the still-open version — bounded
  * by per-entity change count within an epoch, the batch form's own
  * premise.
  */
case class Scd2State(
    versions: Seq[CdcChange], lastMs: Long, dirty: Boolean)

/** One emitted SCD2 version frame — field names are the public column
  * contract, identical to [[graft.operators.CorpusPipeline.scd2History]].
  */
case class Scd2Out(
    doc_id: Long, text: Option[String], valid_from_seq: Long,
    valid_to_seq: Option[Long], is_current: Boolean)

/** Per-user transition-chain state: the last event seen, in the total
  * (us, eventId) order — O(1) per user regardless of history length.
  */
case class TransState(us: Long, eventId: Long, tpe: String)

/** One consecutive-pair observation in a user's event chain; the Markov
  * matrix is a bounded (|types|²-key) aggregation over these.
  */
case class Transition(from_type: String, to_type: String)

/** Per-user retention state: the distinct epoch-weeks this user has been
  * active in — bounded by the CALENDAR (a user active every week for 20
  * years holds ~1000 longs), the same bound as the batch form's
  * collect_set ([[graft.operators.Features.retentionCohorts]]).
  */
case class WeeksSeen(weeks: Vector[Long])

/** A user's FIRST activity in an epoch-week — the streaming retention
  * advance event; the cohort matrix is a bounded aggregation over these
  * (≤ users × calendar-weeks rows).
  */
case class WeekActivity(user_id: Long, week: Long)

/** Event-stream processing over the `events` table
  * (event_id, ts, user_id, event_type, value, props JSON).
  *
  * Each operation has a batch form (oracle-checkable, same semantics) and a
  * Structured Streaming form (`readStream` → watermark → windowed agg /
  * stateful sessionization → `writeStream`). The reference's streaming path
  * is dead code (SURVEY §2.8) — this is the extension phase, built
  * Spark-first: event-time windows + watermarks for out-of-order data,
  * `flatMapGroupsWithState` for custom session state, checkpointed sinks.
  */
object Events {

  /** UTF-8 BINARY string order — the order Spark's UTF8String (and
    * DuckDB) use for struct comparison. Java's String.compareTo compares
    * UTF-16 code units, which ranks supplementary-plane characters
    * (surrogates 0xD800–0xDFFF) BELOW some BMP characters even though
    * their UTF-8 bytes are larger — a payload tie-break using it would
    * silently diverge from the batch max(struct(...)) fold on non-ASCII
    * text. The CDC stream twins order with this instead.
    */
  private[streaming] val utf8Ord: Ordering[String] = new Ordering[String] {
    def compare(a: String, b: String): Int = {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val n = math.min(x.length, y.length)
      var i = 0
      while (i < n) {
        val c = (x(i) & 0xff) - (y(i) & 0xff)
        if (c != 0) return c
        i += 1
      }
      x.length - y.length
    }
  }

  /** The batch CDC fold's (seq, op, payload) struct total order, with
    * string components in UTF-8 binary order (see [[utf8Ord]]) and null
    * payload smallest — shared by [[applyChangesStream]] and
    * [[scd2HistoryStream]].
    */
  private val cdcOrd: Ordering[(Long, String, Option[String])] =
    Ordering.Tuple3(Ordering.Long, utf8Ord, Ordering.Option(utf8Ord))

  /** Hourly tumbling-window aggregate, batch form. Money sums use exact
    * integer cents (see SampleProject scaladoc on cross-engine sums).
    */
  def hourlyStatsBatch(events: DataFrame): DataFrame =
    events
      .groupBy(
        expr("date_trunc('hour', ts)").as("hour_start"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        expr("count(DISTINCT user_id)").as("n_users"),
        expr("sum(CAST(round(value * 100) AS LONG))").as("value_cents"))

  /** Streaming form of [[hourlyStatsBatch]]: identical aggregation over an
    * event-time window with a watermark bounding state.
    */
  def hourlyStatsStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        expr("approx_count_distinct(user_id)").as("n_users_approx"),
        expr("sum(CAST(round(value * 100) AS LONG))").as("value_cents"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n_events"), col("n_users_approx"), col("value_cents"))

  /** Hopping (sliding) window aggregate: 1-hour windows every 15 minutes,
    * so each event lands in exactly 4 overlapping windows. Spark's
    * `window(ts, size, slide)` explodes the 4 window assignments as a
    * per-row projection BEFORE the aggregation — one shuffle on
    * (window, event_type), fan-out a constant size/slide factor, never
    * corpus state. Epoch-aligned starts (the oracle reproduces them with
    * integer epoch arithmetic).
    */
  def hourlyHopStats(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        expr("sum(CAST(round(value * 100) AS LONG))").as("value_cents"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("n_events"), col("value_cents"))

  /** Native `session_window` sessionization: Spark merges per-row windows
    * `[ts, ts + gap)` that overlap OR touch, so a gap of exactly
    * `gapMinutes` stays in the SAME session (inclusive merge, spec-pinned)
    * — the same break convention as [[sessionizeBatch]]'s `>` lag
    * comparison; the observable difference is `session_end = last + gap`
    * instead of the last event time. Both forms are one shuffle on
    * user_id; this one exercises Spark's built-in session-window
    * machinery (also valid under streaming with a watermark) against a
    * gaps-and-islands oracle.
    */
  def sessionWindowStats(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    events
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$gapMinutes minutes"))
      .agg(
        count(lit(1)).as("n_events"),
        expr("sum(CAST(round(value * 100) AS LONG))").as("value_cents"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("value_cents"))

  /** STREAMING form of [[sessionWindowStats]]: Spark's native merging
    * session-window aggregation under a watermark, append mode — the
    * built-in-state counterpart to [[sessionizeStream]]'s hand-rolled
    * flatMapGroupsWithState (same output contract, two different state
    * machines, both oracle-gated against the one gaps-and-islands SQL).
    * A session row emits once the watermark passes its end; state is
    * bounded by sessions still inside the watermark horizon. On a
    * bounded close-sentinel run ([[stageStreamDir]]) the final watermark
    * (sentinel ts − delay) passes every REAL session while the sentinel
    * sessions themselves — 10 days ahead of it — are withheld by append
    * mode, so the emitted set is exactly the batch result.
    */
  def sessionWindowStream(events: DataFrame, gapMinutes: Int = 30): DataFrame =
    events
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$gapMinutes minutes"))
      .agg(
        count(lit(1)).as("n_events"),
        expr("sum(CAST(round(value * 100) AS LONG))").as("value_cents"))
      .select(col("user_id"),
        col("session_window.start").as("session_start"),
        col("session_window.end").as("session_end"),
        col("n_events"), col("value_cents"))

  /** Sessionization, batch form: a session breaks after `gapMinutes` of
    * user inactivity. Pure window functions — one shuffle on user_id.
    */
  def sessionizeBatch(events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts")
    events
      .withColumn("__prev", lag("ts", 1).over(byUser))
      .withColumn("__new_session",
        when(col("__prev").isNull ||
          col("ts").cast("long") - col("__prev").cast("long") > gapMinutes * 60L, 1)
          .otherwise(0))
      .withColumn("session_seq", sum("__new_session").over(byUser))
      .groupBy(col("user_id"), col("session_seq"))
      .agg(
        min("ts").as("session_start"),
        max("ts").as("session_end"),
        count(lit(1)).as("n_events"),
        expr("sum(CAST(round(value * 100) AS LONG))").as("value_cents"))
  }

  /** Click→purchase attribution, batch form: every purchase joins each
    * click by the SAME user in the `attrMinutes` window ending at the
    * purchase (inclusive both ends). Routed through the guarded bucketed
    * [[graft.operators.AsOf.rangeJoin]] — hash join on (user_id, bucket),
    * never a per-key quadratic theta join — with clicks as the intervals
    * `[click_ts, click_ts + attrMinutes]` and purchases as the points.
    */
  def attributionJoinBatch(events: DataFrame, attrMinutes: Int = 30): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts").as("click_ts"),
        col("ts").as("w_start"),
        (col("ts") + expr(s"INTERVAL $attrMinutes MINUTES")).as("w_end"))
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"),
        expr("CAST(round(value * 100) AS LONG)").as("value_cents"))
    graft.operators.AsOf.rangeJoin(
      purchases, clicks, on = Seq("user_id"), pointTs = "purchase_ts",
      startCol = "w_start", endCol = "w_end",
      payload = Seq("click_id", "click_ts"))
      .select("click_id", "purchase_id", "user_id", "click_ts",
        "purchase_ts", "value_cents")
  }

  /** Multi-touch attribution over [[attributionJoinBatch]]'s matched
    * (click, purchase) pairs: split each purchase's value across ALL its
    * attributed clicks instead of last-touch's winner-take-all. Two
    * models, both in exact integer micro-weights (hash-gated,
    * q_attribution_multitouch):
    *  - `linear`: every touch gets `1e6 DIV n` micro (equal credit);
    *  - `u` (position-based 40/20/40): first and last touch get 400000
    *    each, the middle touches split the remaining 200000 — the
    *    standard U-shaped model (n=1 → 1e6, n=2 → 500000/500000).
    * Truncating integer division under-allocates by < n micro per
    * purchase (documented, deterministic) — the price of an
    * engine-exact result; a payout system would assign the remainder to
    * a canonical touch.
    *
    * Touch order is (click_ts, click_id) — a TOTAL order (the
    * rollingEventFeatures tie rule). Both window specs share ONE
    * purchase-key exchange; per-partition window state is one purchase's
    * clicks, bounded by the attribution window's minutes × the user's
    * click rate — the bounded-per-entity premise.
    */
  def multiTouchAttribution(
      events: DataFrame, attrMinutes: Int = 30,
      model: String = "linear"): DataFrame = {
    require(Set("linear", "u").contains(model),
      s"unknown attribution model: $model")
    val w = Window.partitionBy("purchase_id")
      .orderBy(col("click_ts").asc, col("click_id").asc)
    val weightSql = model match {
      case "linear" => "1000000L DIV __n"
      case "u" =>
        """CASE WHEN __n = 1 THEN 1000000L
                WHEN __n = 2 THEN 500000L
                WHEN __pos = 1 OR __pos = __n THEN 400000L
                ELSE 200000L DIV (__n - 2) END"""
    }
    attributionJoinBatch(events, attrMinutes)
      .withColumn("__pos", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(Window.partitionBy("purchase_id")))
      .withColumn("weight_micro", expr(weightSql))
      .select(col("purchase_id"), col("click_id"), col("user_id"),
        col("__n").as("n_clicks"),
        expr("CAST(__pos AS INT)").as("touch_pos"),
        col("weight_micro"),
        expr("(value_cents * weight_micro) DIV 1000000")
          .as("attributed_cents"))
  }

  /** Streaming multi-touch attribution — the stream twin of
    * [[multiTouchAttribution]] (VERDICT r9 #7). A purchase's credit split
    * needs its COMPLETE touch set (n and position decide the weights), so
    * unlike [[attributionJoinStream]]'s incremental inner join, emission
    * must wait until the watermark passes the purchase's event time: every
    * attributable click has click_ts ≤ purchase_ts, so once the watermark
    * clears purchase_ts any still-missing click is late-beyond-watermark
    * and excluded by the streaming contract — exactly when the per-
    * purchase (n, pos) become final facts.
    *
    * One flatMapGroupsWithState keyed by user: state is the trailing
    * click buffer (pruned once click_ts + window < watermark — no future
    * in-watermark purchase can reach it) plus the pending purchases;
    * both bounded per entity. On each batch (and on event-time timeout)
    * purchases with ts ≤ watermark emit their credited touches with the
    * SAME integer weight arithmetic as the batch form — linear
    * 1e6 DIV n, or U-shaped 40/20/40 — so a bounded AvailableNow run
    * value-matches the batch q_attribution_multitouch oracle exactly.
    * The event-type filter RETAINS `__close` sentinel rows: Catalyst
    * pushes a deterministic non-event-time predicate BELOW the
    * EventTimeWatermark node, so a filter that dropped sentinels would
    * drop them before they could advance the watermark — purchases in
    * the final watermark-delay would then never ripen (caught by the sf1
    * gate: the one purchase inside the last hour went unemitted). The
    * fold skips `__close` rows; only their event time matters.
    */
  def multiTouchAttributionStream(
      spark: SparkSession, events: DataFrame, attrMinutes: Int = 30,
      model: String = "u", watermark: String = "1 hour"): DataFrame = {
    import spark.implicits._
    require(Set("linear", "u").contains(model),
      s"unknown attribution model: $model")
    val attrMs = attrMinutes * 60000L
    events
      .withWatermark("ts", watermark)
      .filter(col("event_type").isin("click", "purchase", "__close"))
      .selectExpr("event_id", "user_id", "ts", "event_type",
        "CAST(round(value * 100) AS LONG) AS cents")
      .as[(Long, Long, Timestamp, String, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[AttribState, TouchOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (user, rows, state: GroupState[AttribState]) =>
          val wm = state.getCurrentWatermarkMs()
          val st = state.getOption
            .getOrElse(AttribState(Vector.empty, Vector.empty))
          var clicks = st.clicks.toVector
          var pending = st.pending.toVector
          if (!state.hasTimedOut) {
            rows.foreach { case (eid, _, ts, tpe, cents) =>
              if (tpe == "click") clicks :+= TouchClick(eid, ts.getTime)
              else if (tpe == "purchase")
                pending :+= PendingPurchase(eid, ts.getTime, cents)
              // "__close" sentinels advance the watermark only
            }
          }
          // strict <, not <=: Spark's late filter drops only rows
          // STRICTLY older than the watermark, so a click with
          // click_ts == purchase_ts == wm can still arrive in a later
          // micro-batch — ripening at equality would emit the purchase
          // before that touch lands (latency is unchanged: the timeout
          // anchor already waits for wm + 1). The flip side — a purchase
          // with ts EXACTLY equal to the run's FINAL watermark would
          // wait forever — cannot occur under the bounded-run contract:
          // the close sentinel rides 10 days past max(ts), so the final
          // watermark strictly clears every real event; on an unbounded
          // stream the next watermark advance ripens it.
          val (ripe, waiting) = pending.partition(_.ts < wm)
          val out = ripe.iterator.flatMap { p =>
            val touches = clicks
              .filter(c => c.ts >= p.ts - attrMs && c.ts <= p.ts)
              .sortBy(c => (c.ts, c.clickId))
            val n = touches.size.toLong
            touches.iterator.zipWithIndex.map { case (c, i) =>
              val pos = i + 1L
              val weight = model match {
                case "linear" => 1000000L / n
                case "u" =>
                  if (n == 1L) 1000000L
                  else if (n == 2L) 500000L
                  else if (pos == 1L || pos == n) 400000L
                  else 200000L / (n - 2L)
              }
              TouchOut(p.purchaseId, c.clickId, user, n, pos.toInt, weight,
                p.valueCents * weight / 1000000L)
            }
          }.toVector
          val live = clicks.filter(_.ts + attrMs >= wm)
          if (waiting.isEmpty && live.isEmpty) state.remove()
          else {
            state.update(AttribState(live, waiting))
            val anchor =
              if (waiting.nonEmpty) waiting.iterator.map(_.ts).min + 1
              else live.iterator.map(_.ts + attrMs).max + 1
            state.setTimeoutTimestamp(math.max(anchor, wm + 1))
          }
          out.iterator
      }
      .toDF("purchase_id", "click_id", "user_id", "n_clicks", "touch_pos",
        "weight_micro", "attributed_cents")
  }

  /** Streaming form of [[attributionJoinBatch]]: a real STREAM-STREAM
    * inner self-join — the one Structured Streaming join shape with
    * cross-stream state. Both branches of the same event stream carry a
    * watermark, and the join condition bounds purchase_ts to the
    * attribution window after click_ts, so Spark can expire click state
    * `attrMinutes` past the watermark instead of buffering both streams
    * forever (the watermark + time-range constraint is what makes the
    * state store bounded at 100 TB/day event volume). Inner-join matches
    * emit as soon as both sides arrive (append mode); on a bounded
    * AvailableNow run the emitted set is exactly the batch join, so the
    * batch DuckDB oracle applies to the streaming engine path.
    */
  def attributionJoinStream(events: DataFrame, attrMinutes: Int = 30): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"),
        col("user_id").as("c_user_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"),
        expr("CAST(round(value * 100) AS LONG)").as("value_cents"))
      .withWatermark("purchase_ts", "1 hour")
    purchases.join(clicks,
        col("user_id") === col("c_user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $attrMinutes MINUTES"))
      .select(col("click_id"), col("purchase_id"), col("user_id"),
        col("click_ts"), col("purchase_ts"), col("value_cents"))
  }

  /** Streaming sessionization via flatMapGroupsWithState over a per-user
    * OPEN-SESSION SET ([[SessionsState]]). Each admitted event joins the
    * set as a singleton; the set is then re-sorted and adjacent sessions
    * within the gap are merged — the same "sort, split on gap" rule the
    * batch form applies globally, so any in-watermark arrival order
    * (stragglers before the current session's start, mutually-within-gap
    * straggler groups, events bridging two open sessions) converges to
    * the batch answer. A session emits only once the watermark passes
    * `session_end + gap` — the first moment no admissible event
    * (ts ≥ wm) can extend or merge it (merging from BELOW start needs
    * ts ≥ start − gap, and start − gap < last + gap < wm already).
    * State per user is O(watermark-horizon / gap) sessions.
    */
  def sessionizeStream(
      spark: SparkSession, events: DataFrame, gapMinutes: Int = 30): DataFrame = {
    import spark.implicits._
    val gapMs = gapMinutes * 60L * 1000L
    events
      .selectExpr("user_id", "ts", "CAST(round(value * 100) AS LONG) AS cents")
      .withWatermark("ts", "1 hour")
      .as[(Long, Timestamp, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[SessionsState, (Long, Timestamp, Timestamp, Long, Long)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (user, rows, state: GroupState[SessionsState]) =>
          val wm = state.getCurrentWatermarkMs()
          val held = state.getOption.map(_.sessions.toVector).getOrElse(Vector.empty)
          val incoming =
            if (state.hasTimedOut) Vector.empty
            else rows.map { case (_, ts, cents) =>
              SessionAgg(ts, ts, 1L, cents)
            }.toVector
          // batch's grouping rule restated on disjoint session runs:
          // sort by start, merge while the successor begins within a gap
          // of the predecessor's end
          val merged = (held ++ incoming).sortBy(_.start.getTime)
            .foldLeft(Vector.empty[SessionAgg]) { (acc, s) =>
              acc.lastOption match {
                case Some(p) if s.start.getTime - p.last.getTime <= gapMs =>
                  val last = if (s.last.getTime > p.last.getTime) s.last else p.last
                  acc.init :+ SessionAgg(p.start, last,
                    p.nEvents + s.nEvents, p.valueCents + s.valueCents)
                case _ => acc :+ s
              }
            }
          // strict < (the attribution ripeness discipline): an event with
          // ts == wm can still arrive and extend the session. A session
          // whose close boundary equals the run's FINAL watermark cannot
          // strand — the close sentinel clears max(ts) by 10 days.
          val (ripe, open) = merged.partition(_.last.getTime + gapMs < wm)
          if (open.isEmpty) state.remove()
          else {
            state.update(SessionsState(open))
            val anchor = open.iterator.map(_.last.getTime + gapMs).min + 1
            state.setTimeoutTimestamp(math.max(anchor, wm + 1))
          }
          ripe.iterator.map(s => (user, s.start, s.last, s.nEvents, s.valueCents))
      }
      .toDF("user_id", "session_start", "session_end", "n_events", "value_cents")
  }

  /** Streaming CDC compaction — the stream twin of
    * [[graft.operators.CorpusPipeline.applyChanges]]'s winner fold: a
    * watermarked last-writer-wins upsert over a change-log stream
    * (`doc_id`, `seq`, `op` ∈ {upsert, delete}, `text`, event-time `ts`).
    * Per id the state is ONE (seq, op, text) winner in exactly the batch
    * fold's struct total order (seq, then op — 'upsert' > 'delete' —
    * then payload, None/null smallest), so out-of-order delivery across
    * micro-batches cannot let a stale change win: a seq-1 row arriving
    * AFTER seq-3 compares against the retained winner and loses, same as
    * the batch max-struct aggregation.
    *
    * Emission (append mode): when the watermark passes an id's last
    * change + `settleMinutes` — the id has gone quiet — its current
    * winner emits as one compaction frame. State is RETAINED after
    * emission (removed state would let a late-but-in-watermark stale row
    * found a fresh epoch and win it); re-emission happens only if the
    * winner actually changed since the last frame (`dirty`), so a
    * quiet id costs nothing downstream. The compacted final image is the
    * max-(seq, op, text) frame per id — [[graft.operators.CorpusPipeline
    * .mergeWinners]] applies it to a base snapshot, which is how
    * q_cdc_merge_stream value-matches the batch q_cdc_merge oracle.
    *
    * State is O(ids with at least one change in the retention horizon) —
    * the bounded-per-entity premise, same as retention cohorts; rows
    * with op `__close` are watermark-advancing sentinels and never enter
    * the fold.
    */
  def applyChangesStream(
      spark: SparkSession, changes: DataFrame,
      settleMinutes: Int = 30, watermark: String = "1 hour"): DataFrame = {
    import spark.implicits._
    val settleMs = settleMinutes * 60L * 1000L
    val ord = cdcOrd // the batch fold's struct order, UTF-8 binary
    changes
      .selectExpr("doc_id", "seq", "op", "text", "ts")
      .withWatermark("ts", watermark)
      .as[(Long, Long, String, Option[String], Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[CdcState, CdcWinner](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (id, rows, state: GroupState[CdcState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            if (s.dirty) {
              state.update(s.copy(dirty = false))
              Iterator.single(CdcWinner(id, s.seq, s.op, s.text))
            } else Iterator.empty
          } else {
            val real = rows.filter(_._3 != "__close").toSeq
            if (real.isEmpty) Iterator.empty
            else {
              val batchBest = real.iterator.map(r => (r._2, r._3, r._4)).max(ord)
              val batchLastMs = real.iterator.map(_._5.getTime).max
              val prev = state.getOption
              val prevKey = prev.map(s => (s.seq, s.op, s.text))
              val winner = prevKey match {
                case Some(pk) if ord.gteq(pk, batchBest) => pk
                case _ => batchBest
              }
              val dirty = prev.isEmpty || prev.exists(_.dirty) ||
                !prevKey.contains(winner)
              val anchor = math.max(prev.map(_.lastMs).getOrElse(0L), batchLastMs)
              state.update(CdcState(winner._1, winner._2, winner._3, anchor, dirty))
              if (dirty)
                state.setTimeoutTimestamp(
                  math.max(anchor + settleMs, state.getCurrentWatermarkMs() + 1))
              Iterator.empty
            }
          }
      }
      .toDF("doc_id", "seq", "op", "text")
  }

  /** Streaming SCD2 history — the stream twin of
    * [[graft.operators.CorpusPipeline.scd2History]], completing the CDC
    * family's batch/stream parity (snapshotDiff is batch-only by nature;
    * applyChanges and scd2History both have watermarked twins). Same
    * change-log contract as [[applyChangesStream]]; per id the state
    * buffers the quiescence epoch's changes and, when the watermark
    * passes last change + `settleMinutes`, emits one frame per upsert
    * VERSION in the batch fold's (seq, op, payload) total order:
    * `valid_to_seq` = the next change's seq, the trailing upsert open
    * with `is_current = true` (a trailing delete closes the last version
    * and leaves nothing current — identical semantics to the batch
    * window form, spec/oracle-shared).
    *
    * Epoch semantics (the [[applyChangesStream]] discipline): only the
    * still-open version carries over after an emission, so a later
    * epoch's first change RE-EMITS it closed — downstream keeps the
    * latest frame per (id, valid_from_seq), which the driver row does
    * with one max-struct aggregation. Exactness across epochs assumes
    * seqs are event-time-monotone ACROSS epochs (within an epoch,
    * arbitrary in-watermark disorder is fully handled by the sort);
    * a log violating that needs the batch form.
    */
  def scd2HistoryStream(
      spark: SparkSession, changes: DataFrame,
      settleMinutes: Int = 30, watermark: String = "1 hour",
      maxEpochChanges: Int = 100000): DataFrame = {
    import spark.implicits._
    require(maxEpochChanges >= 1, "maxEpochChanges must be positive")
    val settleMs = settleMinutes * 60L * 1000L
    val ord = cdcOrd // the batch fold's struct order, UTF-8 binary
    changes
      .selectExpr("doc_id", "seq", "op", "text", "ts")
      .withWatermark("ts", watermark)
      .as[(Long, Long, String, Option[String], Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Scd2State, Scd2Out](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (id, rows, state: GroupState[Scd2State]) =>
          val st = state.getOption.getOrElse(Scd2State(Vector.empty, 0L, dirty = false))
          if (state.hasTimedOut) {
            if (!st.dirty || st.versions.isEmpty) { Iterator.empty }
            else {
              val sorted = st.versions.toVector
                .sortBy(c => (c.seq, c.op, c.text))(ord)
              val out = sorted.zipWithIndex.collect {
                case (c, i) if c.op == "upsert" =>
                  val next = sorted.lift(i + 1)
                  Scd2Out(id, c.text, c.seq, next.map(_.seq), next.isEmpty)
              }
              // carry over only a trailing OPEN upsert: a later epoch's
              // first change must close it (re-emitting the frame);
              // closed versions are final and leave state
              val carry = sorted.lastOption.filter(_.op == "upsert").toVector
              if (carry.isEmpty) state.remove()
              else state.update(Scd2State(carry, st.lastMs, dirty = false))
              out.iterator
            }
          } else {
            val real = rows.filter(r => r._3 == "upsert" || r._3 == "delete").toVector
            if (real.isEmpty) Iterator.empty
            else {
              val merged = st.versions ++
                real.map(r => CdcChange(r._2, r._3, r._4))
              // per-id state is bounded by the settle contract — an id
              // that NEVER goes quiet for settleMinutes would grow its
              // epoch buffer without limit; fail loudly at the cap (the
              // rangeJoin maxBucketsPerInterval discipline) instead of
              // letting the state store swell silently
              if (merged.size > maxEpochChanges)
                throw new IllegalStateException(
                  s"scd2HistoryStream: id $id holds ${merged.size} un-settled changes " +
                    s"(> maxEpochChanges = $maxEpochChanges) — the id never went quiet for " +
                    s"settleMinutes = $settleMinutes; raise the cap, shorten the settle window, " +
                    "or run the batch scd2History form")
              val lastMs = math.max(st.lastMs, real.iterator.map(_._5.getTime).max)
              state.update(Scd2State(merged, lastMs, dirty = true))
              state.setTimeoutTimestamp(
                math.max(lastMs + settleMs, state.getCurrentWatermarkMs() + 1))
              Iterator.empty
            }
          }
      }
      .toDF("doc_id", "text", "valid_from_seq", "valid_to_seq", "is_current")
  }

  /** Stage an ORDERED sequence of bounded DataFrames as one parquet file
    * each (sequenced modification times) so `maxFilesPerTrigger = 1`
    * replays them as one micro-batch per chunk in order — the generic
    * multi-batch state-handoff harness (the events fixture has a
    * specialized sibling in the spec suite; this one serves the CDC
    * change-log twin, where chunk = change wave).
    */
  def stageChunkedStream(chunks: Seq[DataFrame]): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_chunk_src")
    val base = System.currentTimeMillis()
    chunks.zipWithIndex.foreach { case (df, i) =>
      val dest = dir.resolve(f"chunk_$i%02d.parquet")
      writeOneFile(df, s"graft_chunk$i", dest)
      require(dest.toFile.setLastModified(base + i * 2000L),
        s"cannot sequence modification time of $dest")
    }
    dir.toString
  }

  /** Writes `df` as ONE parquet file at `dest`, through a temp write dir
    * named after `prefix` that is deleted before returning, also when the
    * write fails.
    */
  private def writeOneFile(df: DataFrame, prefix: String,
      dest: java.nio.file.Path): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory(prefix)
    try {
      val out = tmp.resolve("out")
      df.coalesce(1).write.parquet(out.toString)
      val part = Option(out.toFile.listFiles()).getOrElse(Array.empty[java.io.File])
        .find(_.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file written under $out"))
      java.nio.file.Files.copy(part.toPath, dest)
    } finally scala.util.Try(graft.core.Dirs.deleteTree(tmp))
  }

  /** Streaming form of [[graft.operators.Features.rollingEventFeatures]]:
    * per-event trailing-window count/sum plus previous-event lag/gap,
    * emitted as each event is processed (append mode — features are
    * per-event facts, final at emission, so no window-close wait).
    *
    * State per user is the trailing `windowSecs` event buffer plus one
    * (prevUs, prevCents) pair — bounded by per-entity activity in the
    * window, NOT by stream length; EventTimeTimeout drops idle users'
    * buffers once the watermark passes their last event + window. After
    * an expiry a returning user's first event gets null prev/gap — the
    * documented price of bounded state (an event older than the
    * watermark is dropped by the engine anyway, so the batch total-order
    * lag is unreachable past the watermark horizon on ANY streaming
    * engine).
    *
    * Tie semantics match the batch form exactly: events are processed in
    * (us, event_id) order; a tie GROUP (equal us) shares one rolling
    * value computed over the whole group (the SQL RANGE frame's
    * all-peers rule), while lag/gap chain through ties one event at a
    * time (the ROWS frame's total order). On a time-ordered bounded run
    * (AvailableNow over staged files — tie groups never straddle a
    * micro-batch) the emitted set is exactly the batch result, so the
    * q_rolling_features DuckDB oracle applies to the streaming path.
    *
    * The rolling sum is maintained incrementally (add on entry, subtract
    * on buffer eviction) — O(events) per user per batch, not
    * O(events × window occupancy).
    */
  def rollingFeaturesStream(
      spark: SparkSession, events: DataFrame, windowSecs: Long = 3600L,
      watermark: String = "2 hours"): DataFrame = {
    import spark.implicits._
    require(windowSecs > 0, "windowSecs must be positive")
    val winUs = windowSecs * 1000000L
    val winMs = windowSecs * 1000L
    events
      .selectExpr("event_id", "user_id", "ts", "unix_micros(ts) AS us",
        "CAST(round(value * 100) AS LONG) AS cents")
      .withWatermark("ts", watermark)
      .as[(Long, Long, Timestamp, Long, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[RollState, RollOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (user, rows, state: GroupState[RollState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // (us, event_id, cents) in the batch form's total order
            val sorted = rows.map(r => (r._4, r._1, r._5))
              .toIndexedSeq.sortBy(t => (t._1, t._2))
            val st = state.getOption
              .getOrElse(RollState(Vector.empty, 0L, 0L, hasPrev = false))
            var buf = st.buf.toVector
            var bufCents = buf.iterator.map(_.cents).sum
            var prev: Option[(Long, Long)] =
              if (st.hasPrev) Some((st.prevUs, st.prevCents)) else None
            val out = Vector.newBuilder[RollOut]
            var i = 0
            while (i < sorted.length) {
              var j = i
              while (j < sorted.length && sorted(j)._1 == sorted(i)._1) j += 1
              val us = sorted(i)._1
              val cutoff = us - winUs
              while (buf.nonEmpty && buf.head.us < cutoff) {
                bufCents -= buf.head.cents; buf = buf.tail
              }
              val tie = sorted.slice(i, j)
              val tieCents = tie.iterator.map(_._3).sum
              val rollN = (buf.size + tie.size).toLong
              val rollCents = bufCents + tieCents
              tie.foreach { case (eus, eid, cents) =>
                out += RollOut(eid, user, cents, rollN, rollCents,
                  prev.map(_._2), prev.map(p => eus - p._1))
                prev = Some((eus, cents))
              }
              buf = buf ++ tie.map(t => RollEv(t._1, t._3))
              bufCents += tieCents
              i = j
            }
            prev match {
              case Some((lastUs, lastCents)) =>
                state.update(RollState(buf, lastUs, lastCents, hasPrev = true))
                // expire once no future in-watermark event can reach this
                // buffer; clamp above the current watermark (setTimeout
                // rejects values at or below it)
                state.setTimeoutTimestamp(math.max(
                  lastUs / 1000L + winMs + 1L,
                  state.getCurrentWatermarkMs() + 1L))
              case None => // empty group iteration: nothing to keep
            }
            out.result().iterator
          }
      }
      .toDF()
  }

  /** Streaming form of [[graft.operators.Features.funnel]]'s per-user
    * stage chain: emits a [[FunnelAdvance]] row the moment a user reaches
    * a funnel stage. Greedy-earliest matching falls out of event-time
    * order: processing each user's events in (ts, event_id) order and
    * advancing on the FIRST event of the next stage's type strictly after
    * the previous match reproduces the batch form's min-aggregation chain
    * exactly (greedy also maximizes completion — see the batch scaladoc).
    *
    * State per user is O(1) — (nextIdx, lastUs), two fixed-width fields —
    * and a user emits at most `stages.length` advance rows ever. No
    * timeout: the chain position must survive the user's lifetime (a
    * production funnel is a time-boxed campaign; state ∝ distinct users
    * in the box, the same lower bound any per-stage distinct count has).
    * Stage counts are a downstream BOUNDED aggregation over the advance
    * rows (≤ users × stages), done batch-side on the bounded-evidence
    * path ([[runAvailableNow]] → groupBy) — chaining a streaming agg
    * after flatMapGroupsWithState is restricted in append mode, and the
    * advance stream is the more useful production output anyway (it
    * feeds both counts and per-user attribution).
    *
    * Null user_id/ts are excluded up front — the batch form's contract
    * (a NULL key can't chain; a null-timed event can't anchor an order).
    */
  def funnelStream(
      spark: SparkSession, events: DataFrame, stages: Seq[String]): DataFrame = {
    import spark.implicits._
    require(stages.nonEmpty, "at least one funnel stage required")
    require(stages.distinct == stages, "funnel stages must be distinct")
    val stageArr = stages.toArray
    events
      .filter(col("user_id").isNotNull && col("ts").isNotNull &&
        col("event_type").isin(stages: _*))
      .selectExpr("user_id", "unix_micros(ts) AS us", "event_id", "event_type")
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[FunnelState, FunnelAdvance](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (user, rows, state: GroupState[FunnelState]) =>
          var st = state.getOption.getOrElse(FunnelState(0, Long.MinValue))
          val out = Vector.newBuilder[FunnelAdvance]
          rows.toSeq.sortBy(r => (r._2, r._3)).foreach { case (_, us, _, tpe) =>
            if (st.nextIdx < stageArr.length && tpe == stageArr(st.nextIdx) &&
                (st.nextIdx == 0 || us > st.lastUs)) {
              out += FunnelAdvance(user, st.nextIdx)
              st = FunnelState(st.nextIdx + 1, us)
            }
          }
          state.update(st)
          out.result().iterator
      }
      .toDF()
  }

  /** Streaming twin of `Features.retentionCohorts`'s activity collection:
    * per-user calendar-bounded state (the set of epoch-weeks already
    * seen) emits one [[WeekActivity]] row the FIRST time a user acts in
    * a week — exactly-once per (user, week) regardless of event volume
    * or arrival order (set membership is order-insensitive, so unlike
    * [[funnelStream]] this stream needs NO in-order premise). The cohort
    * matrix derives downstream via [[retentionMatrix]], a bounded
    * aggregation over the advance rows (≤ users × calendar-weeks): the
    * cohort week is min(week) per user, which is stable under any emit
    * order. No timeout: a retention matrix needs the user's lifetime
    * weeks (state ∝ distinct users × calendar — the same lower bound the
    * batch collect_set carries); a time-boxed deployment would add an
    * event-time timeout at the analysis horizon.
    *
    * Null user/ts rows drop (no key / no week to stand in) — the
    * fixtures carry none, so the batch q_retention oracle applies
    * unchanged on the bounded-evidence path.
    */
  def retentionStream(spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    events
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .selectExpr("user_id", "unix_micros(ts) DIV 604800000000 AS wk")
      .as[(Long, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[WeeksSeen, WeekActivity](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (user, rows, state: GroupState[WeeksSeen]) =>
          val seen = state.getOption.map(_.weeks.toSet).getOrElse(Set.empty)
          val fresh = rows.map(_._2).toSet -- seen
          if (fresh.nonEmpty)
            state.update(WeeksSeen((seen ++ fresh).toVector.sorted))
          fresh.toVector.sorted.iterator.map(w => WeekActivity(user, w))
      }
      .toDF()
  }

  /** The (cohort_week, week_offset, n_users) matrix from distinct
    * (user_id, week) activity rows — the bounded downstream aggregation
    * shared by the batch and streaming retention paths (the batch form
    * fuses this with its activity collection; the streaming form feeds
    * it [[retentionStream]]'s advance rows). Input rows must be unique
    * per (user, week) — both producers guarantee it.
    */
  def retentionMatrix(activity: DataFrame): DataFrame =
    activity
      .groupBy(col("user_id"))
      .agg(min("week").as("cohort_week"), collect_set("week").as("__weeks"))
      .select(col("cohort_week"), explode(col("__weeks")).as("__week"))
      .groupBy(col("cohort_week"),
        (col("__week") - col("cohort_week")).as("week_offset"))
      .agg(count(lit(1)).as("n_users"))

  /** Streaming twin of `Features.eventTransitions`: per-user O(1) state
    * (the LAST event in the total (us, event_id) order) emits one
    * [[Transition]] row per consecutive pair as events arrive; the
    * Markov matrix is a bounded |types|²-key aggregation over the
    * emitted rows. On a bounded in-order run the emitted pair multiset
    * equals the batch lead-window form exactly, so q_event_transitions'
    * DuckDB oracle gates this row too (the q_funnel_stream discipline).
    * Same in-order arrival premise as [[funnelStream]]: batch rows sort
    * by (us, event_id) within each micro-batch and the staged source
    * delivers batches in event-time order; a production deployment
    * would pair this with a watermark-timeout state expiry (spec'd and
    * measured for [[rollingFeaturesStream]] — the identical mechanism
    * applies to this state shape).
    */
  def transitionsStream(
      spark: SparkSession, events: DataFrame): DataFrame = {
    import spark.implicits._
    events
      .filter(col("user_id").isNotNull && col("ts").isNotNull)
      .selectExpr("user_id", "unix_micros(ts) AS us", "event_id", "event_type")
      .as[(Long, Long, Long, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[TransState, Transition](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case (_, rows, state: GroupState[TransState]) =>
          var last = state.getOption
          val out = Vector.newBuilder[Transition]
          rows.toSeq.sortBy(r => (r._2, r._3)).foreach { case (_, us, id, tpe) =>
            last.foreach(p => out += Transition(p.tpe, tpe))
            last = Some(TransState(us, id, tpe))
          }
          last.foreach(state.update)
          out.result().iterator
      }
      .toDF()
  }

  /** Streaming per-key activity counts — the state side of a streaming
    * heavy-hitter/outlier profile: ONE streaming aggregation whose state
    * is bounded by the KEY SPACE (distinct users), not stream length.
    * Run in COMPLETE mode on a bounded source ([[runAvailableNow]]) the
    * counts are exact and equal the batch groupBy — the [[hourlyStatsStreamBounded]]
    * evidence discipline. Thresholding happens downstream on the
    * key-space-sized result ([[aboveMeanActivity]]) — chaining a second
    * streaming agg is restricted, and the counts relation is the
    * reusable production output anyway.
    */
  def activityCountsStream(events: DataFrame, keyCol: String = "user_id"): DataFrame =
    events.groupBy(col(keyCol)).agg(count(lit(1)).as("cnt"))

  /** Keys whose activity exceeds `num/den` of the MEAN (default 6/5 =
    * 120%) — all-integer comparison (`cnt · n_keys · den > total · num`),
    * so the cut is engine- and partitioning-exact, and it is
    * replication-STABLE: growing the corpus 10× with the same per-key
    * distribution selects the same per-replica keys (a fixed absolute
    * support threshold empties instead — the wrong invariant for a
    * growing stream). Input is the already-aggregated counts relation —
    * the 1-row totals attach as a broadcast scalar.
    */
  def aboveMeanActivity(
      counts: DataFrame, keyCol: String = "user_id",
      num: Long = 6L, den: Long = 5L): DataFrame = {
    require(num > 0 && den > 0, "threshold ratio must be positive")
    val totals = counts.agg(
      coalesce(sum(col("cnt")), lit(0L)).as("__total"),
      count(lit(1)).as("__n"))
    counts.crossJoin(broadcast(totals))
      .filter(col("cnt") * col("__n") * lit(den) > col("__total") * lit(num))
      .select(col(keyCol), col("cnt"))
  }

  /** Bounded-evidence streaming form of [[hourlyStatsBatch]]: the same
    * tumbling-window aggregation as [[hourlyStatsStream]] but with exact
    * counts and COMPLETE output mode semantics in mind — on a bounded
    * source an AvailableNow run must emit every window, and append mode
    * would hold back windows newer than the final watermark (bounded
    * inputs end before that state ever times out). Run it with
    * [[runAvailableNow]]; the result is value-identical to the batch form,
    * so the batch DuckDB oracle applies.
    */
  def hourlyStatsStreamBounded(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        expr("sum(CAST(round(value * 100) AS LONG))").as("value_cents"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n_events"), col("value_cents"))

  private val runCounter = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Executes a streaming DataFrame over its bounded source with an
    * AvailableNow trigger into an in-memory table and returns the result
    * as a batch DataFrame — the cross-engine evidence path for the
    * streaming forms (a DuckDB oracle can only compare materialized rows).
    * `complete = true` for streaming aggregations (every group emitted at
    * the end); `false` (append) for flatMapGroupsWithState, where rows
    * emit on session close/timeout.
    *
    * The checkpoint goes to a private local temp dir, written without
    * Hadoop's shell-outs for the whole run (see
    * [[withLocalCheckpointManager]]); the session's
    * `spark.sql.streaming.checkpointFileManagerClass` reads as before once
    * the call returns. The memory-sink table and the checkpoint dir are
    * dropped before returning, also when the run fails (the result is
    * pinned off the sink first): repeated invocations — a bench loop runs
    * every query at least twice — would otherwise keep each run's full
    * result set in memory.
    */
  def runAvailableNow(
      spark: SparkSession, df: DataFrame, complete: Boolean): DataFrame = {
    val name = s"graft_stream_run_${runCounter.incrementAndGet()}"
    val ckDir = java.nio.file.Files.createTempDirectory("graft_stream_ck")
    try {
      withLocalCheckpointManager(spark) {
        df.writeStream
          .format("memory")
          .queryName(name)
          .outputMode(if (complete) OutputMode.Complete() else OutputMode.Append())
          .option("checkpointLocation", ckDir.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
          .awaitTermination()
      }
      graft.core.Materialize.pin(spark.table(name), eager = true)
    } finally {
      spark.catalog.dropTempView(name)
      scala.util.Try(graft.core.Dirs.deleteTree(ckDir))
    }
  }

  private val checkpointManagerKey = "spark.sql.streaming.checkpointFileManagerClass"

  /** Runs in flight per session, with the conf value the first one found. */
  private val checkpointManagerUsers =
    new java.util.IdentityHashMap[SparkSession, (Int, Option[String])]

  /** Runs `body` with the session's streaming checkpoints written through
    * [[LocalCheckpointFileManager]], Spark's plain-FileSystem manager
    * creating local files and dirs without permission calls. The default
    * FileContext manager asks for permissions on every create and mkdir
    * and resolves links on every rename; on a host without native Hadoop
    * libraries each of those forks `chmod` or `readlink`, about a third of
    * a small bounded run's wall time. On a local dir the plain manager's
    * rename is as atomic as FileContext's. It must stay set from
    * `start()` to the end of the run, because the stream thread creates
    * its logs and state stores after `start()` returns.
    *
    * Overlapping calls on one session share the setting: the first to
    * enter saves the caller's value (or its absence) and sets the manager,
    * and the last to leave restores it. A stream another thread starts on
    * the session meanwhile gets the manager too; off the local file
    * system it is Spark's plain FileSystem manager.
    */
  private[streaming] def withLocalCheckpointManager[A](spark: SparkSession)(body: => A): A = {
    checkpointManagerUsers.synchronized {
      val (n, saved) = Option(checkpointManagerUsers.get(spark))
        .getOrElse((0, spark.conf.getOption(checkpointManagerKey)))
      if (n == 0) spark.conf.set(checkpointManagerKey, classOf[LocalCheckpointFileManager].getName)
      checkpointManagerUsers.put(spark, (n + 1, saved))
    }
    try body
    finally checkpointManagerUsers.synchronized {
      val (n, saved) = checkpointManagerUsers.get(spark)
      if (n > 1) checkpointManagerUsers.put(spark, (n - 1, saved))
      else {
        checkpointManagerUsers.remove(spark)
        saved match {
          case Some(v) => spark.conf.set(checkpointManagerKey, v)
          case None => spark.conf.unset(checkpointManagerKey)
        }
      }
    }
  }

  /** Stage a bounded events parquet file into a fresh directory for
    * FileStreamSource (which needs a directory, not a file). With
    * `closeSentinel = true`, a second parquet of one far-future event per
    * user (ts = max ts + 10 days, event_id = -1) is staged alongside: in
    * the single AvailableNow batch the sentinel breaks every user's last
    * real session inside the flatMapGroupsWithState function, so EVERY
    * real session emits in append mode, while the sentinel sessions
    * themselves stay in state (their event-time timeout lies beyond the
    * final watermark) and are never emitted. This is bounded-evidence
    * harness plumbing — a production stream closes sessions by watermark
    * timeout as events keep arriving; the driver-side max(ts) lookup here
    * is staging cost, not part of the streaming plan.
    */
  /** Copies a parquet table — a single file OR a Spark-written DIRECTORY
    * of part-files — into `destDir` under `baseName`. Directory inputs
    * are flattened (each part file lands as `baseName_NNNNN.parquet`) so
    * FileStreamSource sees plain data files; `_SUCCESS`/metadata entries
    * are skipped. A single-file fixture (the driver's pyarrow layout)
    * copies through unchanged as `baseName.parquet`.
    *
    * FLAT-DIRECTORY CONTRACT: only direct children are listed — a
    * hive-partitioned layout (`key=value/` subdirectories) is rejected by
    * the no-parts require below rather than silently staged empty; stage
    * each partition directory separately if needed.
    */
  def copyParquetInto(src: String, destDir: java.nio.file.Path,
      baseName: String): Unit = {
    val p = java.nio.file.Paths.get(src)
    if (java.nio.file.Files.isDirectory(p)) {
      // listFiles() returns null on IO errors/unreadable dirs — guard so
      // the failure names the path instead of surfacing as a bare NPE
      val listed = Option(new java.io.File(src).listFiles()).getOrElse(
        sys.error(s"cannot list directory $src (IO error or unreadable)"))
      val parts = listed
        .filter(f => f.isFile && f.getName.endsWith(".parquet"))
        .sortBy(_.getName)
      require(parts.nonEmpty, s"no parquet part files directly under $src " +
        "(flat-directory contract: partitioned subdirectory layouts are " +
        "not staged)")
      parts.zipWithIndex.foreach { case (f, i) =>
        java.nio.file.Files.copy(f.toPath,
          destDir.resolve(f"${baseName}_$i%05d.parquet"))
      }
    } else java.nio.file.Files.copy(p, destDir.resolve(s"$baseName.parquet"))
  }

  def stageStreamDir(
      spark: SparkSession, eventsParquet: String,
      closeSentinel: Boolean = false): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_src")
    copyParquetInto(eventsParquet, dir, "events")
    if (closeSentinel) withNanosAsLong(spark) {
      // ts arrives as LONG nanos (TIMESTAMP(NANOS) source under
      // nanosAsLong), as TimestampType (micros with UTC flag — nanosAsLong
      // does not affect it), or as TimestampNTZ (micros with no timezone
      // flag — the shape the driver fixtures regenerated to mid-round-8);
      // the sentinel must carry the SAME representation so the staged
      // directory reads under one schema
      val raw = graft.core.Parquet.read(spark, eventsParquet)
      val maxRow = raw.agg(max("ts")).head()
      require(!maxRow.isNullAt(0), s"cannot stage a close sentinel for an " +
        s"empty events source: $eventsParquet")
      val tenDaysMs = 10L * 24 * 3600 * 1000
      val sentinelTs = raw.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          lit(maxRow.getLong(0) + tenDaysMs * 1000000L) // nanos
        case org.apache.spark.sql.types.TimestampNTZType =>
          lit(maxRow.getAs[java.time.LocalDateTime](0).plusDays(10))
        case _ => lit(new java.sql.Timestamp(
          maxRow.getTimestamp(0).getTime + tenDaysMs))
      }
      val sentinels = raw.select("user_id").distinct()
        .select(
          lit(-1L).as("event_id"),
          sentinelTs.as("ts"),
          col("user_id"),
          lit("__close").as("event_type"),
          lit(0.0).as("value"),
          lit(null).cast("string").as("props"))
      writeOneFile(sentinels, "graft_sentinel", dir.resolve("zz_sentinel.parquet"))
    }
    dir.toString
  }

  /** Scoped nanosAsLong: set for `body`, then RESTORED to its previous
    * value (or unset). Safe only when every read inside `body` is fully
    * executed before return — staging qualifies (head() + write are
    * actions); [[readEvents]]/[[readEventsStream]] do NOT (their lazy
    * plans re-read the conf at execution, so they must leave it set — the
    * documented contract of those readers).
    */
  private def withNanosAsLong[A](spark: SparkSession)(body: => A): A = {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try body
    finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None    => spark.conf.unset(key)
    }
  }

  /** Read the events parquet (nanosecond timestamps — Spark reads them as
    * LONG via the legacy conf, then converts to microsecond timestamps).
    * SESSION-CONF CONTRACT: leaves `spark.sql.legacy.parquet.nanosAsLong`
    * set — the returned plan is lazy and the scan re-reads the conf at
    * execution time, so it cannot be scoped here.
    */
  def readEvents(spark: SparkSession, path: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeTs(graft.core.Parquet.read(spark, path), path)
  }

  /** readStream over a parquet file/directory with the events schema.
    * Same session-conf contract as [[readEvents]]. The schema comes from
    * [[graft.core.Parquet.schema]], so a staged directory read again
    * unchanged (the memoized stagings in `graft.queries.Fixtures`) costs no schema
    * inference job.
    *
    * `maxFilesPerTrigger` defaults high explicitly: the close-sentinel
    * staging scheme ([[stageStreamDir]]) requires the real events file and
    * the sentinel file to land in ONE AvailableNow micro-batch — a small
    * inherited maxFilesPerTrigger could order the sentinel first and drop
    * every real event as late data. Pass a small value (with
    * time-ordered, modification-time-sequenced staged files) to force a
    * MULTI-batch run — the harness for proving stateful operators carry
    * state across micro-batch boundaries (StreamingSpec does this with
    * one file per trigger).
    */
  def readEventsStream(spark: SparkSession, path: String,
      maxFilesPerTrigger: Int = 1000000): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val schema = graft.core.Parquet.schema(spark, path)
    normalizeTs(spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      .parquet(path), path)
  }

  /** Normalize the three ts representations the driver fixtures have
    * shipped (TIMESTAMP(NANOS) → LONG under nanosAsLong; micros with UTC
    * flag → TimestampType; micros WITHOUT a timezone flag → TimestampNTZ)
    * to one TimestampType column. The NTZ→LTZ cast is value-preserving
    * because every session in this engine pins
    * spark.sql.session.timeZone=UTC. Any fourth shape fails loudly here
    * (the fixture-schema canary) instead of silently mis-timestamping
    * downstream unix_micros/watermark logic.
    */
  private def normalizeTs(df: DataFrame, path: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType =>
        // integer division: ts/1000 would go through DOUBLE and lose
        // precision at 1e18-nanosecond epoch values
        df.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => df
      case other => sys.error(
        s"events ts column at $path has unsupported type $other — expected " +
        "LONG nanos (TIMESTAMP(NANOS) under nanosAsLong), TIMESTAMP, or " +
        "TIMESTAMP_NTZ (fixture-schema canary)")
    }
  }

  /** Standard sink wiring: parquet + checkpoint, AvailableNow-style runs
    * are driven by the caller's trigger choice.
    */
  def toParquetSink(df: DataFrame, outDir: String, checkpointDir: String): DataStreamWriter[Row] =
    df.writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .outputMode(OutputMode.Append())

  /** Streaming exact dedup: keep the first row per key, with dedup state
    * EXPIRING at the watermark (`dropDuplicatesWithinWatermark`) — the
    * form that survives unbounded streams; plain `dropDuplicates` state
    * grows forever. Batch counterpart: `Dedup.exact` / `dropDuplicates`.
    */
  def dedupStream(
      events: DataFrame, keyCols: Seq[String],
      tsCol: String = "ts", watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols)

  /** Streaming corpus-style cleaning gate: stateless per-row quality
    * predicates (value floor, required JSON key, event-type allow-list)
    * compose with any downstream watermark/agg — the streaming form of the
    * batch cleaning pipeline's filter stage.
    */
  def cleanStream(
      events: DataFrame, minValue: Double = 0.0,
      allowedTypes: Seq[String] = Nil): DataFrame = {
    val typed =
      if (allowedTypes.isEmpty) events
      else events.filter(col("event_type").isin(allowedTypes.map(x => x: Any): _*))
    typed.filter(col("value") >= minValue &&
      expr("get_json_object(props, '$.k')").isNotNull)
  }
}
