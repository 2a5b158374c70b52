package graft.queries

import graft.operators.{Features, Json}
import graft.queries.Fixtures._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr}

/** Batch event analytics: hourly stats, sessions, hopping and session
  * windows, attribution, as-of and range joins, skewed aggregation and
  * JSON events.
  */
object EventQueries {
  /** Shared by q_attribution_multitouch and its streaming twin (the
    * watermark-closed stream emission equals the batch credit split).
    */
  private[queries] val multiTouchOracle: String =
    """WITH m AS (
          SELECT c.event_id AS click_id, p.event_id AS purchase_id,
            p.user_id, CAST(c.ts AS TIMESTAMP) AS click_ts,
            CAST(round(p.value * 100) AS BIGINT) AS value_cents
          FROM events c JOIN events p
            ON c.user_id = p.user_id
            AND c.event_type = 'click' AND p.event_type = 'purchase'
            AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE),
        r AS (
          SELECT *,
            row_number() OVER (PARTITION BY purchase_id
              ORDER BY click_ts, click_id) AS pos,
            count(*) OVER (PARTITION BY purchase_id) AS n
          FROM m),
        wgt AS (
          SELECT *,
            CASE WHEN n = 1 THEN 1000000
                 WHEN n = 2 THEN 500000
                 WHEN pos = 1 OR pos = n THEN 400000
                 ELSE 200000 // (n - 2) END AS weight_micro
          FROM r)
        SELECT purchase_id, click_id, user_id,
          CAST(n AS BIGINT) AS n_clicks, CAST(pos AS INT) AS touch_pos,
          CAST(weight_micro AS BIGINT) AS weight_micro,
          CAST((value_cents * weight_micro) // 1000000 AS BIGINT)
            AS attributed_cents
        FROM wgt"""

  /** Shared by q_event_transitions and its streaming twin. */
  private[queries] val eventTransitionsOracle: String =
    """WITH e AS (
          SELECT user_id, ts, event_id, event_type FROM events
          WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        t AS (
          SELECT event_type AS from_type,
            lead(event_type) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS to_type
          FROM e)
        SELECT from_type, to_type, count(*) AS n_transitions
        FROM t WHERE to_type IS NOT NULL GROUP BY 1, 2"""

  /** Shared by q_session_window and its streaming twin. */
  private[queries] val sessionWindowOracle: String =
    """WITH e AS (
          SELECT user_id, CAST(ts AS TIMESTAMP) AS ts,
            CAST(round(value * 100) AS BIGINT) AS cents
          FROM events),
        t AS (
          SELECT user_id, ts, cents,
            CASE WHEN lag(ts) OVER w IS NULL
                   OR date_diff('microsecond', lag(ts) OVER w, ts)
                      > 1800000000 THEN 1 ELSE 0 END AS ns
          FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        s AS (
          SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts) AS sid
          FROM t)
        SELECT user_id, min(ts) AS session_start,
          max(ts) + INTERVAL 30 MINUTE AS session_end,
          count(*) AS n_events, CAST(sum(cents) AS BIGINT) AS value_cents
        FROM s GROUP BY user_id, sid"""

  /** Shared by q_attribution and its streaming twin. */
  private[queries] val attributionOracle: String =
    """SELECT c.event_id AS click_id, p.event_id AS purchase_id, p.user_id,
          CAST(c.ts AS TIMESTAMP) AS click_ts,
          CAST(p.ts AS TIMESTAMP) AS purchase_ts,
          CAST(round(p.value * 100) AS BIGINT) AS value_cents
        FROM events c JOIN events p
          ON c.user_id = p.user_id
          AND c.event_type = 'click' AND p.event_type = 'purchase'
          AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE"""

  /** `s`: each event with its 30-minute-gap session number per user,
    * `session_seq`. Shared by q_sessionize and its streaming twin.
    */
  private[queries] val sessions: String =
    """WITH e AS (
          SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        t AS (
          SELECT user_id, ts, value,
            CASE WHEN lag(ts) OVER w IS NULL
                   OR CAST(floor(epoch(ts)) AS BIGINT)
                      - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
                 THEN 1 ELSE 0 END AS ns
          FROM e
          WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        s AS (
          SELECT *, CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts) AS BIGINT) AS session_seq
          FROM t)"""

  /** `e`, the events, and `d`, their per-user hourly snapshots: the
    * relations every q_asof_* oracle joins.
    */
  private val hourlySnapshots: String =
    """WITH e AS (
          SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        d AS (
          SELECT user_id, date_trunc('hour', ts) AS snap_ts,
            count(*) AS hr_events,
            CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS hr_value_cents
          FROM e GROUP BY 1, 2)"""

  /** Each event (event_id, user_id, ts) joined as of its ts to its
    * user's hourly snapshots (hr_events, hr_value_cents).
    */
  private def asOfHourly(s: SparkSession, dir: String)(direction: String = "backward",
      toleranceMs: Option[Long] = None): DataFrame = {
    val ev = events(s, dir).select("event_id", "user_id", "ts", "value")
    val dim = ev.groupBy(col("user_id"),
        expr("date_trunc('hour', ts)").as("snap_ts"))
      .agg(expr("count(1)").as("hr_events"),
        expr("sum(CAST(round(value * 100) AS LONG))").as("hr_value_cents"))
    graft.operators.AsOf.asOfJoin(
      ev.select("event_id", "user_id", "ts"), dim,
      on = Seq("user_id"), leftTs = "ts", rightTs = "snap_ts",
      payload = Seq("hr_events", "hr_value_cents"),
      toleranceMs = toleranceMs, direction = direction)
  }

  val all: Seq[Query] = Seq(
    // first-order event-type transition counts (the Markov matrix of
    // user paths): lead over the total (ts, event_id) order per user,
    // one user-key exchange + one bounded-key aggregate
    Query("q_event_transitions", (s, dir) =>
      Features.eventTransitions(events(s, dir)),
      Some(eventTransitionsOracle)),

    // ------- event stream (batch forms; streaming forms in graft.streaming)
    Query("q_events_hourly", (s, dir) =>
      graft.streaming.Events.hourlyStatsBatch(events(s, dir)),
      Some("""SELECT date_trunc('hour', ts) AS hour_start, event_type,
          count(*) AS n_events,
          count(DISTINCT user_id) AS n_users,
          CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        FROM events
        GROUP BY 1, 2""")),
    Query("q_sessionize", (s, dir) =>
      graft.streaming.Events.sessionizeBatch(events(s, dir)),
      Some(s"""$sessions
        SELECT user_id, session_seq,
          min(ts) AS session_start, max(ts) AS session_end,
          count(*) AS n_events,
          CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        FROM s GROUP BY 1, 2""")),
    // hopping windows: 1-hour windows sliding every 15 min (each event in
    // exactly 4), epoch-aligned starts reproduced by integer arithmetic
    Query("q_hop_window", (s, dir) =>
      graft.streaming.Events.hourlyHopStats(events(s, dir)),
      // Hopping windows: each event contributes to the 4 windows whose
      // epoch-aligned starts are bucket15(ts) - k*15min, k = 0..3.
      Some("""WITH e AS (
          SELECT CAST(ts AS TIMESTAMP) AS ts, event_type,
            CAST(round(value * 100) AS BIGINT) AS cents
          FROM events),
        w AS (
          SELECT make_timestamp(
              (CAST(floor(epoch(ts) / 900) AS BIGINT) - k) * 900 * 1000000)
              AS win_start,
            event_type, cents
          FROM e CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k) t)
        SELECT win_start, event_type, count(*) AS n_events,
          CAST(sum(cents) AS BIGINT) AS value_cents
        FROM w GROUP BY 1, 2""")),
    // native session_window (inclusive merge: an exactly-gap-sized gap
    // still merges, only a strictly-greater gap breaks; end = last + gap)
    // vs a gaps-and-islands oracle with the matching strict-> break
    Query("q_session_window", (s, dir) =>
      graft.streaming.Events.sessionWindowStats(events(s, dir)),
      // session_window semantics: windows that overlap OR touch merge, so
      // only a gap STRICTLY greater than the window size breaks (> in the
      // oracle — spec-pinned against Spark), and session_end is last event
      // + gap. Microsecond-exact integer gap comparison.
      Some(sessionWindowOracle)),
    // click→purchase attribution: batch form through the guarded bucketed
    // range join (hash join on (user, bucket), never per-key quadratic)
    Query("q_attribution", (s, dir) =>
      graft.streaming.Events.attributionJoinBatch(events(s, dir)),
      // Attribution: both the batch (bucketed range join) and the
      // stream-stream (watermarked inner self-join) forms equal this plain
      // inequality join — inclusive window ends on both engines.
      Some(attributionOracle)),
    // U-shaped (40/20/40) multi-touch credit over the same matched
    // pairs: exact micro-weights, one purchase-key exchange
    Query("q_attribution_multitouch", (s, dir) =>
      graft.streaming.Events.multiTouchAttribution(events(s, dir),
        model = "u"),
      // multi-touch mirrored: same matched pairs, same (click_ts,
      // click_id) touch order, same U-shaped CASE and truncating division
      Some(multiTouchOracle)),

    // point-in-time (as-of backward inclusive) join: every event picks up
    // the latest per-user hourly snapshot at-or-before its own ts — the
    // leak-free feature-join shape; DuckDB's native ASOF LEFT JOIN is the
    // oracle, so the semantics (inclusive boundary, left-join nulls,
    // latest-match) are pinned engine-to-engine
    Query("q_asof_join", (s, dir) => asOfHourly(s, dir)(),
      Some(s"""$hourlySnapshots
        SELECT e.event_id, e.user_id, e.ts, d.hr_events, d.hr_value_cents
        FROM e ASOF LEFT JOIN d
          ON e.user_id = d.user_id AND e.ts >= d.snap_ts""")),
    // forward as-of: EARLIEST right row at or after each event ("next
    // snapshot after") — DuckDB's ASOF with the inequality flipped is
    // the native oracle; same one-exchange union+window plan, ts order
    // reversed
    Query("q_asof_fwd", (s, dir) => asOfHourly(s, dir)(direction = "forward"),
      Some(s"""$hourlySnapshots
        SELECT e.event_id, e.user_id, e.ts, d.hr_events, d.hr_value_cents
        FROM e ASOF LEFT JOIN d
          ON e.user_id = d.user_id AND e.ts <= d.snap_ts""")),
    // as-of with tolerance: stale matches (latest snapshot older than 30
    // minutes) null out — the kdb wj / pandas merge_asof tolerance
    // contract, previously spec-only; the oracle is the plain-SQL argmin
    // with the same staleness filter
    Query("q_asof_tolerance", (s, dir) =>
      asOfHourly(s, dir)(toleranceMs = Some(30L * 60 * 1000)),
      Some(s"""$hourlySnapshots,
        best AS (
          SELECT e.event_id, b.hr_events, b.hr_value_cents
          FROM e JOIN LATERAL (
            SELECT d.hr_events, d.hr_value_cents
            FROM d
            WHERE d.user_id = e.user_id AND d.snap_ts <= e.ts
              AND epoch_us(e.ts) - epoch_us(d.snap_ts) <= 1800000000
            ORDER BY d.snap_ts DESC LIMIT 1) b ON TRUE)
        SELECT e.event_id, e.user_id, e.ts, best.hr_events, best.hr_value_cents
        FROM e LEFT JOIN best USING (event_id)""")),
    // nearest as-of: closer of the two directions, equidistant ties break
    // backward — DuckDB has no native nearest ASOF, but the semantics are
    // exactly expressible as an argmin over (|delta|, forward-flag), so
    // the row is fully oracle-gated (not spec-only)
    Query("q_asof_nearest", (s, dir) => asOfHourly(s, dir)(direction = "nearest"),
      Some(s"""$hourlySnapshots
        SELECT event_id, user_id, ts, hr_events, hr_value_cents
        FROM (
          SELECT e.event_id, e.user_id, e.ts, d.hr_events, d.hr_value_cents,
            row_number() OVER (PARTITION BY e.event_id ORDER BY
              abs(epoch_us(e.ts) - epoch_us(d.snap_ts)),
              CASE WHEN d.snap_ts <= e.ts THEN 0 ELSE 1 END) AS rn
          FROM e JOIN d USING (user_id))
        WHERE rn = 1""")),
    // bucketed interval (range) join: every event lands in exactly its
    // own session's [start, end] window — a plain inequality join in the
    // DuckDB oracle, a hash join on (user, time-bucket) + residual filter
    // here (never a nested-loop; plan pinned in PlanShapeSpec)
    Query("q_range_join", (s, dir) => {
      val ev = events(s, dir)
      val sessions = graft.streaming.Events.sessionizeBatch(ev)
      graft.operators.AsOf.rangeJoin(
        ev.select("event_id", "user_id", "ts"), sessions,
        on = Seq("user_id"), pointTs = "ts",
        startCol = "session_start", endCol = "session_end",
        payload = Seq("session_seq", "n_events"))
        .select("event_id", "user_id", "session_seq", "n_events")
    },
      Some("""WITH e AS (
          SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, value FROM events),
        t AS (
          SELECT user_id, ts,
            CASE WHEN lag(ts) OVER w IS NULL
                   OR CAST(floor(epoch(ts)) AS BIGINT)
                      - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) > 1800
                 THEN 1 ELSE 0 END AS ns
          FROM e
          WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        s AS (
          SELECT user_id,
            CAST(sum(ns) OVER (PARTITION BY user_id ORDER BY ts) AS BIGINT) AS session_seq,
            ts
          FROM t),
        sess AS (
          SELECT user_id, session_seq,
            min(ts) AS session_start, max(ts) AS session_end,
            count(*) AS n_events
          FROM s GROUP BY 1, 2)
        SELECT e.event_id, e.user_id, sess.session_seq, sess.n_events
        FROM e JOIN sess
          ON e.user_id = sess.user_id
         AND e.ts >= sess.session_start AND e.ts <= sess.session_end""")),
    // skew-safe two-phase (salted) aggregation: the result is
    // salt-invariant, so the plain GROUP BY is its exact oracle
    Query("q_skew_agg", (s, dir) =>
      graft.operators.Skew.twoPhaseAgg(
        events(s, dir).select("user_id", "value"), Seq("user_id"), saltFactor = 8,
        partial = Seq(expr("count(1)").as("__c"),
          expr("sum(CAST(round(value * 100) AS LONG))").as("__s")),
        merge = Seq(expr("sum(__c)").as("n_events"),
          expr("sum(__s)").as("value_cents"))),
      Some("""SELECT user_id, count(*) AS n_events,
          CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        FROM events GROUP BY 1""")),

    // JSON payload extraction over event props
    Query("q_events_json", (s, dir) => {
      val e = Json.extracted(events(s, dir), "props", Map("k" -> ("$.k", "bigint")))
      e.groupBy(col("event_type")).agg(
        expr("count(k)").as("n_with_k"),
        expr("sum(k)").as("sum_k"),
        expr("max(k)").as("max_k"))
    },
      Some("""SELECT event_type,
          count(CAST(props->>'$.k' AS BIGINT)) AS n_with_k,
          CAST(sum(CAST(props->>'$.k' AS BIGINT)) AS BIGINT) AS sum_k,
          max(CAST(props->>'$.k' AS BIGINT)) AS max_k
        FROM events
        GROUP BY 1""")),

    // JSON auto-flatten via sampled schema inference (the OSS answer to
    // schema_of_json_agg)
    Query("q_json_flatten", (s, dir) =>
      Json.flatten(events(s, dir).select("event_id", "props"), "props")
        .select("event_id", "k"),
      Some("""SELECT event_id, CAST(props->>'$.k' AS BIGINT) AS k FROM events""")))
}
