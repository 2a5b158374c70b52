package graft.streaming

import graft.operators.Multimodal
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._

class StreamingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"
  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-streaming-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def events = Events.readEvents(spark, s"$sfDir/events.parquet")

  /** FileStreamSource needs a directory — stage the fixture file into one. */
  private def stagedEventsDir: String = {
    val d = Files.createTempDirectory("graftevents")
    Files.copy(java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      d.resolve("events.parquet"))
    d.toString
  }

  private val managerKey = "spark.sql.streaming.checkpointFileManagerClass"
  private val localManager = classOf[LocalCheckpointFileManager].getName

  /** Runs `body` once with the checkpoint-manager conf unset and once with
    * a caller's own value, restoring the session's value afterwards.
    */
  private def forEachCallerValue(body: Option[String] => Unit): Unit = {
    val saved = spark.conf.getOption(managerKey)
    try Seq(None, Some("caller.OwnManager")).foreach { v =>
      v.fold(spark.conf.unset(managerKey))(spark.conf.set(managerKey, _))
      body(v)
    } finally saved.fold(spark.conf.unset(managerKey))(spark.conf.set(managerKey, _))
  }

  test("the checkpoint-manager scope sets the local manager, then restores the caller's value") {
    forEachCallerValue { v =>
      val inside = Events.withLocalCheckpointManager(spark)(spark.conf.getOption(managerKey))
      assert(inside.contains(localManager))
      assert(spark.conf.getOption(managerKey) == v)
      intercept[IllegalStateException](Events.withLocalCheckpointManager(spark) {
        throw new IllegalStateException("boom")
      })
      assert(spark.conf.getOption(managerKey) == v, "a failed body left the conf changed")
    }
  }

  test("the local checkpoint manager writes, renames and reads files with no .crc side files") {
    import org.apache.hadoop.fs.Path
    val dir = Files.createTempDirectory("graft_ckmgr")
    val m = new LocalCheckpointFileManager(new Path(dir.toString), spark.sparkContext.hadoopConfiguration)
    val sub = new Path(s"$dir/offsets/nested")
    m.mkdirs(sub)
    assert(m.exists(sub))
    val file = new Path(sub, "0")
    val out = m.createAtomic(file, overwriteIfPossible = false)
    out.write("v1\n".getBytes("UTF-8"))
    out.close()
    val in = m.open(file)
    val text = try new String(in.readAllBytes(), "UTF-8") finally in.close()
    assert(text == "v1\n")
    val names = Files.walk(dir).iterator().asScala.map(_.getFileName.toString).toSeq
    assert(names.contains("0"))
    assert(!names.exists(_.endsWith(".crc")), s"side files written: $names")
    assert(!names.exists(_.startsWith(".0.")), s"temp file left behind: $names")
  }

  test("overlapping checkpoint-manager scopes (A in, B in, A out, B out) leave the session as found") {
    forEachCallerValue { v =>
      val aIn, bIn, aOut = new CountDownLatch(1)
      def await(l: CountDownLatch): Unit = assert(l.await(1, TimeUnit.MINUTES))
      val seen = graft.core.Pool.all("ckpt-scope-test", Seq(
        () => {
          Events.withLocalCheckpointManager(spark) { aIn.countDown(); await(bIn) }
          aOut.countDown()
          Option.empty[String]
        },
        () => {
          await(aIn)
          Events.withLocalCheckpointManager(spark) {
            bIn.countDown(); await(aOut)
            // A has left, B has not: the manager must still be set
            spark.conf.getOption(managerKey)
          }
        }))
      assert(seen(1).contains(localManager), s"A's exit reset the conf under B: ${seen(1)}")
      assert(spark.conf.getOption(managerKey) == v)
    }
  }

  Seq(
    "q_events_hourly_stream" -> "q_events_hourly",
    "q_funnel_stream" -> "q_funnel",
    "q_event_transitions_stream" -> "q_event_transitions").foreach { case (stream, batch) =>
    test(s"$stream equals $batch and leaves the checkpoint-manager conf as it was") {
      val before = spark.conf.getOption(managerKey)
      val got = graft.SparkEntry.queries(stream)(spark, sfDir)
      assert(spark.conf.getOption(managerKey) == before)
      val want = graft.SparkEntry.queries(batch)(spark, sfDir).select(got.columns.map(col).toSeq: _*)
      val (g, w) = (got.collect().toSeq, want.collect().toSeq)
      assert(g.nonEmpty)
      assert(g.map(_.toString).sorted == w.map(_.toString).sorted)
    }
  }

  test("fixture-schema canary: events.ts is a supported shape and normalizes to TIMESTAMP") {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    // What the fixture actually carries (under the engine's nanosAsLong
    // read contract) must be one of the three shapes normalizeTs handles;
    // the driver has shipped all three across rounds.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val rawType = spark.read.parquet(s"$sfDir/events.parquet").schema("ts").dataType
    assert(Set[org.apache.spark.sql.types.DataType](
      LongType, TimestampNTZType, TimestampType).contains(rawType),
      s"driver fixture regenerated with unsupported ts type $rawType")
    val normalized = events
    assert(normalized.schema("ts").dataType == TimestampType)
    // and the values are sane epoch timestamps (not 1970 or year-50k skew
    // from a wrong unit conversion)
    val yr = normalized.agg(min(year(col("ts"))), max(year(col("ts")))).head()
    assert(yr.getInt(0) >= 2000 && yr.getInt(1) <= 2100,
      s"normalized ts out of plausible range: $yr")
  }

  test("streaming hourly stats (AvailableNow) matches batch counts") {
    val tmp = Files.createTempDirectory("graftstream").toString
    val stream = Events.readEventsStream(spark, stagedEventsDir)
    val q = Events.toParquetSink(
      Events.hourlyStatsStream(stream), s"$tmp/out", s"$tmp/ck")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.read.parquet(s"$tmp/out")
    val expected = Events.hourlyStatsBatch(events)
    // exact columns: n_events and value_cents (n_users is approx in stream)
    val g = got.select("hour_start", "event_type", "n_events", "value_cents")
    val e = expected.select("hour_start", "event_type", "n_events", "value_cents")
    // Append mode emits a window only once the watermark passes it: the
    // final watermark-delay's worth of windows stays in state at
    // end-of-stream. Everything emitted must match batch exactly; only a
    // bounded tail may be missing.
    assert(g.exceptAll(e).count() == 0, "streamed window not present in batch result")
    val missing = e.exceptAll(g).count()
    assert(missing <= 4 * 3, s"too many unemitted windows: $missing") // ≤ delay-hours × event types
    assert(g.count() > 0)
  }

  test("streaming sessionization emits closed sessions consistent with batch") {
    val tmp = Files.createTempDirectory("graftsess").toString
    val stream = Events.readEventsStream(spark, stagedEventsDir)
    val q = Events.toParquetSink(
      Events.sessionizeStream(spark, stream), s"$tmp/out", s"$tmp/ck")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.read.parquet(s"$tmp/out")
    val batch = Events.sessionizeBatch(events)
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), col("value_cents"))
    // Streaming emits only sessions closed by the watermark (tail sessions
    // stay in state) — every emitted session must exist identically in the
    // batch result.
    val missing = got.exceptAll(batch).count()
    assert(missing == 0, s"$missing streamed sessions not found in batch result")
    assert(got.count() > 0, "no sessions emitted")
  }

  test("sessionize stream with close sentinel emits EXACTLY the batch sessions") {
    val staged = Events.stageStreamDir(
      spark, s"$sfDir/events.parquet", closeSentinel = true)
    val got = Events.runAvailableNow(spark,
      Events.sessionizeStream(spark, Events.readEventsStream(spark, staged)),
      complete = false)
    val batch = Events.sessionizeBatch(events)
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), col("value_cents"))
    assert(got.count() == batch.count(), "sentinel must close every real session")
    assert(got.exceptAll(batch).count() == 0 && batch.exceptAll(got).count() == 0,
      "streamed sessions must equal batch sessions exactly")
  }

  test("in-watermark but out-of-order event cannot shrink session_end") {
    // regression (ADVICE r9): an event admitted in a LATER micro-batch
    // with ts within the watermark but older than state.last used to set
    // last = ts (negative gap ≤ gapMs), regressing session_end below the
    // true max and shortening the timeout anchor. The fix extends with
    // max(state.last, ts).
    import spark.implicits._
    val dir = Files.createTempDirectory("graftooo")
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    def at(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    def stage(i: Int,
        rows: Seq[(Long, java.sql.Timestamp, Long, String, Double, String)]): Unit = {
      val tmp = Files.createTempDirectory(s"graftooo$i").resolve("out")
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = dir.resolve(f"chunk_$i%02d.parquet")
      Files.copy(part.toPath, dest)
      assert(dest.toFile.setLastModified(System.currentTimeMillis() + i * 2000L))
    }
    val noProps = null.asInstanceOf[String]
    // batch 1: user 7 at minute 0 and 10 → state.last = minute 10
    stage(1, Seq((1L, at(0), 7L, "view", 1.0, noProps),
      (2L, at(10), 7L, "view", 1.0, noProps)))
    // batch 2: a minute-5 event (older than last, inside gap AND
    // watermark) plus a far-future closer that flushes the session
    stage(2, Seq((3L, at(5), 7L, "view", 1.0, noProps),
      (-1L, at(60 * 24 * 10), 7L, "__close", 0.0, noProps)))
    val got = Events.runAvailableNow(spark,
      Events.sessionizeStream(spark,
        Events.readEventsStream(spark, dir.toString, maxFilesPerTrigger = 1)),
      complete = false)
      .filter(col("n_events") === 3)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq((7L, at(0), at(10), 3L, 300L)),
      "session_end must stay at the max event time; the old event only adds counts")
  }

  test("cross-batch event before session_start: within-gap lowers start, far-older closes alone") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graftoos")
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 12:00:00")
    def at(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    def stage(i: Int,
        rows: Seq[(Long, java.sql.Timestamp, Long, String, Double, String)]): Unit = {
      val tmp = Files.createTempDirectory(s"graftoos$i").resolve("out")
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = dir.resolve(f"chunk_$i%02d.parquet")
      Files.copy(part.toPath, dest)
      assert(dest.toFile.setLastModified(System.currentTimeMillis() + i * 2000L))
    }
    val noProps = null.asInstanceOf[String]
    // batch 1: user 7 session [60, 70]; user 8 session [60, 60]
    stage(1, Seq((1L, at(60), 7L, "view", 1.0, noProps),
      (2L, at(70), 7L, "view", 1.0, noProps),
      (10L, at(60), 8L, "view", 1.0, noProps)))
    // batch 2 (all within the 1h watermark of max=70min):
    //  user 7: minute 45 — within the 30-min gap BEFORE start 60 →
    //    batch merges: session [45, 70], n=3
    //  user 8: minute 5 — 55 min before start 60, beyond the gap →
    //    its own closed singleton [5, 5]; session [60,60] untouched
    //  plus the far-future closer
    stage(2, Seq((3L, at(45), 7L, "view", 1.0, noProps),
      (11L, at(5), 8L, "view", 1.0, noProps),
      (-1L, at(60 * 24 * 10), 7L, "__close", 0.0, noProps),
      (-2L, at(60 * 24 * 10), 8L, "__close", 0.0, noProps)))
    val got = Events.runAvailableNow(spark,
      Events.sessionizeStream(spark,
        Events.readEventsStream(spark, dir.toString, maxFilesPerTrigger = 1)),
      complete = false)
      .filter(col("user_id").isin(7L, 8L) && col("n_events") <= 3)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3))).toSet
    assert(got.contains((7L, at(45), at(70), 3L)),
      s"user 7's session must extend start down to minute 45: $got")
    assert(got.contains((8L, at(5), at(5), 1L)) && got.contains((8L, at(60), at(60), 1L)),
      s"user 8's straggler must close alone, leaving [60,60] intact: $got")
  }

  test("two mutually-within-gap stragglers MERGE into one session, as batch would") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graftstrag")
    val t0 = java.sql.Timestamp.valueOf("2024-01-01 12:00:00")
    def at(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    def stage(i: Int,
        rows: Seq[(Long, java.sql.Timestamp, Long, String, Double, String)]): Unit = {
      val tmp = Files.createTempDirectory(s"graftstrag$i").resolve("out")
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .coalesce(1).write.parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = dir.resolve(f"chunk_$i%02d.parquet")
      Files.copy(part.toPath, dest)
      assert(dest.toFile.setLastModified(System.currentTimeMillis() + i * 2000L))
    }
    val noProps = null.asInstanceOf[String]
    // batch 1: user 9 session [60, 70]
    stage(1, Seq((1L, at(60), 9L, "view", 1.0, noProps),
      (2L, at(70), 9L, "view", 1.0, noProps)))
    // batch 2 (within the 1h watermark of max=70): stragglers at minutes
    // 5 and 15 — each > 30-min gap below start 60, but within one gap of
    // EACH OTHER: batch sorts globally and yields sessions [5,15] and
    // [60,70]; the pre-buffering sessionizer emitted [5,5] and [15,15]
    stage(2, Seq((3L, at(5), 9L, "view", 1.0, noProps),
      (4L, at(15), 9L, "view", 1.0, noProps),
      (-1L, at(60 * 24 * 10), 9L, "__close", 0.0, noProps)))
    val got = Events.runAvailableNow(spark,
      Events.sessionizeStream(spark,
        Events.readEventsStream(spark, dir.toString, maxFilesPerTrigger = 1)),
      complete = false)
      .filter(col("user_id") === 9L)
      .collect().map(r => (r.getTimestamp(1), r.getTimestamp(2), r.getLong(3))).toSet
    assert(got == Set((at(5), at(15), 2L), (at(60), at(70), 2L)),
      s"stragglers must merge into one [5,15] session: $got")
  }

  /** Stages the fixture into `nChunks` contiguous TIME-ordered part files
    * (plus optionally the per-user close sentinel, last) with sequenced
    * modification times, so `maxFilesPerTrigger = 1` yields one
    * micro-batch per file in chunk order — the multi-batch state-handoff
    * harness.
    */
  private def stageChunkedDir(nChunks: Int, withSentinel: Boolean): String = {
    import org.apache.spark.sql.expressions.Window
    val dir = Files.createTempDirectory("graftmultibatch")
    val raw = events // ts normalized to TIMESTAMP
    val chunked = raw.withColumn("__c",
      ntile(nChunks).over(Window.orderBy("ts")))
    val chunks = (1 to nChunks).map(i =>
      i -> chunked.filter(col("__c") === i).drop("__c"))
    val pieces =
      if (!withSentinel) chunks
      else {
        val maxTs = raw.agg(max("ts")).head().getTimestamp(0)
        chunks :+ (nChunks + 1 -> raw.select("user_id").distinct().select(
          lit(-1L).as("event_id"),
          lit(new java.sql.Timestamp(maxTs.getTime + 10L * 86400 * 1000)).as("ts"),
          col("user_id"),
          lit("__close").as("event_type"),
          lit(0.0).as("value"),
          lit(null).cast("string").as("props")))
      }
    val base = System.currentTimeMillis()
    pieces.foreach { case (i, df) =>
      val tmp = Files.createTempDirectory(s"graftchunk$i").resolve("out")
      df.select(raw.columns.map(col): _*).coalesce(1).write.parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = dir.resolve(f"chunk_$i%02d.parquet")
      Files.copy(part.toPath, dest)
      // FileStreamSource orders files by modification time: 2s spacing
      // makes the chunk order (and the sentinel-last requirement) explicit
      assert(dest.toFile.setLastModified(base + i * 2000L))
    }
    dir.toString
  }

  test("sessionize state survives micro-batch boundaries (maxFilesPerTrigger=1)") {
    // VERDICT r6 Next-round #2: the sentinel scheme pins everything into
    // ONE AvailableNow batch, so flatMapGroupsWithState's state handoff
    // across batches was never exercised. Here the fixture is split into
    // 4 contiguous TIME-ordered chunks + the per-user close sentinel,
    // each staged with increasing modification times and streamed one
    // file per trigger: sessions spanning chunk boundaries must be carried
    // in state (and mid-stream event-time timeouts may fire — the
    // hasTimedOut branch only ever runs in a multi-batch stream), yet the
    // emitted set must equal the batch oracle EXACTLY.
    val dir = stageChunkedDir(nChunks = 4, withSentinel = true)
    val ck = Files.createTempDirectory("graftmultibatch_ck")
    val stream = Events.readEventsStream(spark, dir.toString, maxFilesPerTrigger = 1)
    val q = Events.sessionizeStream(spark, stream).writeStream
      .format("memory").queryName("multibatch_sessions")
      .outputMode("append")
      .option("checkpointLocation", ck.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(180000)
    val batches = q.recentProgress.map(_.batchId).distinct.length
    assert(batches >= 5,
      s"expected at least one micro-batch per staged file, saw $batches")
    val got = spark.table("multibatch_sessions")
    val batch = Events.sessionizeBatch(events)
      .select(col("user_id"), col("session_start"), col("session_end"),
        col("n_events"), col("value_cents"))
    assert(got.count() == batch.count(),
      "multi-batch run must close every real session")
    assert(got.exceptAll(batch).count() == 0 && batch.exceptAll(got).count() == 0,
      "multi-batch sessions must equal the batch oracle exactly")
    spark.catalog.dropTempView("multibatch_sessions")
  }

  test("streaming activity counts accumulate across micro-batches; outlier cut matches batch") {
    // key-space-bounded streaming agg: per-user counts must accumulate
    // over 4 chunked micro-batches, and the 120%-of-mean integer cut on
    // the complete-mode result must equal the same cut on a batch groupBy
    val dir = stageChunkedDir(nChunks = 4, withSentinel = false)
    val stream = Events.readEventsStream(spark, dir, maxFilesPerTrigger = 1)
    val got = Events.aboveMeanActivity(Events.runAvailableNow(spark,
      Events.activityCountsStream(stream), complete = true))
    val expected = Events.aboveMeanActivity(
      events.groupBy(col("user_id")).agg(count(lit(1)).as("cnt")))
    assert(got.count() > 0, "the cut should select someone on this fixture")
    assert(got.exceptAll(expected).count() == 0 &&
      expected.exceptAll(got).count() == 0,
      "streaming outlier cut must equal the batch cut exactly")
  }

  test("windowed aggregation state survives micro-batch boundaries (complete mode)") {
    // the sessionize multi-batch test exercises flatMapGroupsWithState's
    // user state; this one exercises Spark-managed streaming-aggregation
    // state: hour windows receiving events across several micro-batches
    // must accumulate, and the complete-mode final emit must equal the
    // batch aggregation exactly
    val dir = stageChunkedDir(nChunks = 4, withSentinel = false)
    val ck = Files.createTempDirectory("graftmbagg_ck")
    val stream = Events.readEventsStream(spark, dir, maxFilesPerTrigger = 1)
    val q = Events.hourlyStatsStreamBounded(stream).writeStream
      .format("memory").queryName("multibatch_hourly")
      .outputMode("complete")
      .option("checkpointLocation", ck.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(180000)
    assert(q.recentProgress.map(_.batchId).distinct.length >= 4,
      "expected one micro-batch per staged chunk")
    val got = spark.table("multibatch_hourly")
      .select("hour_start", "event_type", "n_events", "value_cents")
    val expected = Events.hourlyStatsBatch(events)
      .select("hour_start", "event_type", "n_events", "value_cents")
    assert(got.exceptAll(expected).count() == 0 &&
      expected.exceptAll(got).count() == 0,
      "multi-batch windowed aggregation must equal the batch result exactly")
    spark.catalog.dropTempView("multibatch_hourly")
  }

  test("streaming rolling features (AvailableNow) equal the batch window functions exactly") {
    val got = Events.runAvailableNow(spark,
      Events.rollingFeaturesStream(spark,
        Events.readEventsStream(spark, stagedEventsDir)),
      complete = false)
    val batch = graft.operators.Features.rollingEventFeatures(events)
      .select(got.columns.map(col): _*)
    assert(got.count() == batch.count(), "one feature row per event")
    assert(got.exceptAll(batch).count() == 0 && batch.exceptAll(got).count() == 0,
      "streamed rolling features must equal the batch window-function result exactly")
  }

  test("rolling-feature state survives micro-batch boundaries (maxFilesPerTrigger=1)") {
    // 4 contiguous time-ordered chunks, one micro-batch each: trailing
    // buffers and lag state spanning chunk boundaries must be carried in
    // state. Watermark delay longer than the fixture span ⇒ no expiry, so
    // FULL equality (lag columns included) is required. Valid because the
    // fixture has no per-user ts ties — a RANGE tie group can never
    // straddle a micro-batch.
    val dir = stageChunkedDir(nChunks = 4, withSentinel = false)
    val ck = Files.createTempDirectory("graftrollmb_ck")
    val stream = Events.readEventsStream(spark, dir, maxFilesPerTrigger = 1)
    val q = Events.rollingFeaturesStream(spark, stream, watermark = "720 hours")
      .writeStream
      .format("memory").queryName("multibatch_roll")
      .outputMode("append")
      .option("checkpointLocation", ck.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(180000)
    assert(q.recentProgress.map(_.batchId).distinct.length >= 4,
      "expected one micro-batch per staged chunk")
    val got = spark.table("multibatch_roll")
    val batch = graft.operators.Features.rollingEventFeatures(events)
      .select(got.columns.map(col): _*)
    assert(got.exceptAll(batch).count() == 0 && batch.exceptAll(got).count() == 0,
      "multi-batch rolling features must equal the batch result exactly")
    spark.catalog.dropTempView("multibatch_roll")
  }

  test("rolling-feature trailing buffers EXPIRE at the watermark; windowed columns stay exact") {
    // With the default 2h watermark over 8 time-ordered chunks, idle
    // users' buffers must be dropped by EventTimeTimeout (numRowsRemoved
    // > 0, total state comes down from its peak). Expiry can only reset
    // the UNBOUNDED lag columns (prev_cents/gap_us — documented price of
    // bounded state); the trailing-window columns are immune by
    // construction: expiry happens only once the watermark is past
    // last-event + window, when no in-watermark future event could reach
    // the expired buffer. So roll_n/roll_cents must STILL equal batch
    // exactly, per event.
    val dir = stageChunkedDir(nChunks = 8, withSentinel = false)
    val ck = Files.createTempDirectory("graftrollexp_ck")
    val stream = Events.readEventsStream(spark, dir, maxFilesPerTrigger = 1)
    val q = Events.rollingFeaturesStream(spark, stream).writeStream
      .format("memory").queryName("roll_expiry")
      .outputMode("append")
      .option("checkpointLocation", ck.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(180000)
    val progress = q.recentProgress.toSeq
      .filter(_.stateOperators.nonEmpty).sortBy(_.batchId)
    val totals = progress.map(p => p.batchId ->
      p.stateOperators.map(_.numRowsTotal).sum)
    val removed = progress.map(_.stateOperators.map(_.numRowsRemoved).sum).sum
    assert(removed > 0, s"watermark never expired any rolling state: $totals")
    val peakIdx = totals.indexWhere(_._2 == totals.map(_._2).max)
    val afterPeak = totals.drop(peakIdx + 1).map(_._2)
    assert(afterPeak.nonEmpty && afterPeak.min < totals(peakIdx)._2,
      s"state never dropped after its peak: $totals")
    info(s"state rows per batch (total): ${totals.mkString(", ")}; removed=$removed")
    val safeCols = Seq("event_id", "user_id", "value_cents", "roll_n", "roll_cents")
    val got = spark.table("roll_expiry").select(safeCols.map(col): _*)
    val batch = graft.operators.Features.rollingEventFeatures(events)
      .select(safeCols.map(col): _*)
    assert(got.count() == batch.count(), "one feature row per event")
    assert(got.exceptAll(batch).count() == 0 && batch.exceptAll(got).count() == 0,
      "windowed feature columns must survive state expiry exactly")
    spark.catalog.dropTempView("roll_expiry")
  }

  private def funnelStages = Seq("view", "click", "purchase")

  private def funnelCounts(advances: org.apache.spark.sql.DataFrame) = {
    val stageDf = {
      import spark.implicits._
      funnelStages.zipWithIndex.map { case (st, i) => (i, st) }
        .toDF("stage_idx", "stage")
    }
    stageDf.join(
      advances.groupBy("stage_idx").agg(count(lit(1)).as("__n")),
      Seq("stage_idx"), "left")
      .select(col("stage_idx"), col("stage"),
        coalesce(col("__n"), lit(0L)).as("n_users"))
  }

  test("streaming funnel advances aggregate to the batch stage counts exactly") {
    val adv = Events.runAvailableNow(spark,
      Events.funnelStream(spark,
        Events.readEventsStream(spark, stagedEventsDir), funnelStages),
      complete = false)
    // each user advances each stage at most once
    assert(adv.groupBy("user_id", "stage_idx").count()
      .filter(col("count") > 1).count() == 0)
    val got = funnelCounts(adv)
    val batch = graft.operators.Features.funnel(events, funnelStages)
      .select(got.columns.map(col): _*)
    assert(got.exceptAll(batch).count() == 0 && batch.exceptAll(got).count() == 0,
      "streamed funnel counts must equal the batch funnel exactly")
  }

  test("funnel chain state survives micro-batch boundaries (maxFilesPerTrigger=1)") {
    // a user's view can land in chunk 1, the click in chunk 3, the
    // purchase in chunk 4 — the (nextIdx, lastUs) state must carry the
    // chain position across micro-batches for the strict-> anchor to hold
    val dir = stageChunkedDir(nChunks = 4, withSentinel = false)
    val ck = Files.createTempDirectory("graftfunmb_ck")
    val stream = Events.readEventsStream(spark, dir, maxFilesPerTrigger = 1)
    val q = Events.funnelStream(spark, stream, funnelStages).writeStream
      .format("memory").queryName("multibatch_funnel")
      .outputMode("append")
      .option("checkpointLocation", ck.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(180000)
    assert(q.recentProgress.map(_.batchId).distinct.length >= 4,
      "expected one micro-batch per staged chunk")
    val got = funnelCounts(spark.table("multibatch_funnel"))
    val batch = graft.operators.Features.funnel(events, funnelStages)
      .select(got.columns.map(col): _*)
    assert(got.exceptAll(batch).count() == 0 && batch.exceptAll(got).count() == 0,
      "multi-batch funnel counts must equal the batch funnel exactly")
    spark.catalog.dropTempView("multibatch_funnel")
  }

  test("streaming transitions aggregate to the batch Markov matrix exactly") {
    val tr = Events.runAvailableNow(spark,
      Events.transitionsStream(spark,
        Events.readEventsStream(spark, stagedEventsDir)),
      complete = false)
    val got = tr.groupBy("from_type", "to_type")
      .agg(count(lit(1)).as("n_transitions"))
    val batch = graft.operators.Features.eventTransitions(events)
    assert(got.exceptAll(batch).count() == 0 && batch.exceptAll(got).count() == 0,
      "streamed transition counts must equal the batch lead-window form")
  }

  test("transition chain state survives micro-batch boundaries (maxFilesPerTrigger=1)") {
    // a user's consecutive events can straddle a chunk boundary — the
    // cross-batch pair only exists if the last-event state carries over
    val dir = stageChunkedDir(nChunks = 4, withSentinel = false)
    val ck = Files.createTempDirectory("grafttransmb_ck")
    val stream = Events.readEventsStream(spark, dir, maxFilesPerTrigger = 1)
    val q = Events.transitionsStream(spark, stream).writeStream
      .format("memory").queryName("multibatch_trans")
      .outputMode("append")
      .option("checkpointLocation", ck.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(180000)
    assert(q.recentProgress.map(_.batchId).distinct.length >= 4,
      "expected one micro-batch per staged chunk")
    val got = spark.table("multibatch_trans")
      .groupBy("from_type", "to_type").agg(count(lit(1)).as("n_transitions"))
    val batch = graft.operators.Features.eventTransitions(events)
    assert(got.exceptAll(batch).count() == 0 && batch.exceptAll(got).count() == 0,
      "multi-batch transition counts must equal the batch form exactly")
    spark.catalog.dropTempView("multibatch_trans")
  }

  test("streaming retention advances aggregate to the batch cohort matrix exactly") {
    val act = Events.runAvailableNow(spark,
      Events.retentionStream(spark,
        Events.readEventsStream(spark, stagedEventsDir)),
      complete = false)
    // exactly-once per (user, week) regardless of event volume
    assert(act.groupBy("user_id", "week").count()
      .filter(col("count") > 1).count() == 0)
    val got = Events.retentionMatrix(act)
    val batch = graft.operators.Features.retentionCohorts(events)
      .select(got.columns.map(col): _*)
    assert(got.exceptAll(batch).count() == 0 && batch.exceptAll(got).count() == 0,
      "streamed retention matrix must equal the batch form exactly")
  }

  test("retention weeks-seen state survives micro-batch boundaries (maxFilesPerTrigger=1)") {
    // a user's weeks span chunks; the seen-set must carry across batches
    // for both exactly-once emission AND the later-chunk new-week rows
    val dir = stageChunkedDir(nChunks = 4, withSentinel = false)
    val ck = Files.createTempDirectory("graftretmb_ck")
    val stream = Events.readEventsStream(spark, dir, maxFilesPerTrigger = 1)
    val q = Events.retentionStream(spark, stream).writeStream
      .format("memory").queryName("multibatch_ret")
      .outputMode("append")
      .option("checkpointLocation", ck.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(180000)
    assert(q.recentProgress.map(_.batchId).distinct.length >= 4,
      "expected one micro-batch per staged chunk")
    val act = spark.table("multibatch_ret")
    assert(act.groupBy("user_id", "week").count()
      .filter(col("count") > 1).count() == 0,
      "a (user, week) must emit exactly once across all micro-batches")
    val got = Events.retentionMatrix(act)
    val batch = graft.operators.Features.retentionCohorts(events)
      .select(got.columns.map(col): _*)
    assert(got.exceptAll(batch).count() == 0 && batch.exceptAll(got).count() == 0,
      "multi-batch retention matrix must equal the batch form exactly")
    spark.catalog.dropTempView("multibatch_ret")
  }

  test("stream-stream attribution join state EXPIRES as the watermark advances") {
    // The scale claim behind attributionJoinStream is that the watermark +
    // time-range condition keep click state BOUNDED — but on a bounded
    // single-batch run, unbounded state would look identical. Here the
    // 30-day fixture streams as 8 time-ordered micro-batches; each batch's
    // watermark (max event time - 1h) is ~3.7 days past the previous
    // one, so clicks older than watermark + 30min must leave the state
    // store: numRowsRemoved > 0 and numRowsTotal must DROP from its
    // running peak — while the emitted inner-join rows still equal the
    // batch oracle exactly.
    val dir = stageChunkedDir(nChunks = 8, withSentinel = false)
    val ck = Files.createTempDirectory("graftattr_ck")
    val stream = Events.readEventsStream(spark, dir, maxFilesPerTrigger = 1)
    val q = Events.attributionJoinStream(stream).writeStream
      .format("memory").queryName("attr_expiry")
      .outputMode("append")
      .option("checkpointLocation", ck.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(180000)
    val progress = q.recentProgress.toSeq
      .filter(_.stateOperators.nonEmpty)
      .sortBy(_.batchId)
    assert(progress.map(_.batchId).distinct.length >= 3,
      s"need >= 3 stateful micro-batches, saw ${progress.map(_.batchId).distinct}")
    val totals = progress.map(p => p.batchId ->
      p.stateOperators.map(_.numRowsTotal).sum)
    val removed = progress.map(_.stateOperators.map(_.numRowsRemoved).sum).sum
    assert(removed > 0,
      s"watermark never removed any join state rows: $totals")
    // state must come DOWN from its peak, not monotonically accumulate
    val peakIdx = totals.indexWhere(_._2 == totals.map(_._2).max)
    val afterPeak = totals.drop(peakIdx + 1).map(_._2)
    assert(afterPeak.nonEmpty && afterPeak.min < totals(peakIdx)._2,
      s"state never dropped after its peak: $totals")
    info(s"state rows per batch (total): ${totals.mkString(", ")}; removed=$removed")
    // and the answer is still exactly the batch join
    val got = spark.table("attr_expiry")
    val batch = Events.attributionJoinBatch(events)
      .select(got.columns.map(col): _*)
    assert(got.exceptAll(batch).count() == 0 && batch.exceptAll(got).count() == 0,
      "multi-batch stream-stream join must equal the batch join exactly")
    spark.catalog.dropTempView("attr_expiry")
  }

  test("stageStreamDir stages a DIRECTORY-shaped parquet source (Spark-written tables)") {
    // the driver fixture is a single pyarrow file, but real tables are
    // Spark-written DIRECTORIES of part files — a plain Files.copy stages
    // an EMPTY directory and the stream silently sees only the sentinel
    // (0 real events; found live on the sf1 headroom fixtures, round 6)
    val asDir = Files.createTempDirectory("graftevdir").resolve("events.parquet")
    Events.readEvents(spark, s"$sfDir/events.parquet") // sets nanosAsLong
    spark.read.parquet(s"$sfDir/events.parquet")
      .repartition(3).write.parquet(asDir.toString)
    val staged = Events.stageStreamDir(spark, asDir.toString, closeSentinel = true)
    val got = Events.runAvailableNow(spark,
      Events.sessionizeStream(spark, Events.readEventsStream(spark, staged)),
      complete = false)
    val batch = Events.sessionizeBatch(events)
    assert(got.count() == batch.count(),
      "directory-shaped staging must stream every real event, not just the sentinel")
    // and the flattened layout holds plain files only (no nested dirs)
    val files = new java.io.File(staged).listFiles()
    assert(files.forall(_.isFile) && files.exists(_.getName.startsWith("events_")))
  }

  test("stageStreamDir leaves the session conf untouched (scoped nanosAsLong)") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    // previously unset: staging must leave the flag at its default (false)
    // — getOption reports the registered default even when unset, so the
    // observable contract is the VALUE, not absence
    spark.conf.unset(key)
    Events.stageStreamDir(spark, s"$sfDir/events.parquet", closeSentinel = true)
    assert(spark.conf.get(key) == "false",
      "sentinel staging leaked the legacy conf into the session")
    // previously set to an explicit value: staging must restore it
    spark.conf.set(key, "true")
    Events.stageStreamDir(spark, s"$sfDir/events.parquet", closeSentinel = true)
    assert(spark.conf.get(key) == "true", "staging clobbered the caller's conf")
    spark.conf.unset(key)
  }

  test("bounded hourly stream (complete mode) equals batch exactly") {
    val staged = Events.stageStreamDir(spark, s"$sfDir/events.parquet")
    val got = Events.runAvailableNow(spark,
      Events.hourlyStatsStreamBounded(Events.readEventsStream(spark, staged)),
      complete = true)
    val batch = Events.hourlyStatsBatch(events)
      .select("hour_start", "event_type", "n_events", "value_cents")
    assert(got.exceptAll(batch).count() == 0 && batch.exceptAll(got).count() == 0)
  }

  test("streaming dedup drops watermark-window duplicates, matches batch") {
    // duplicate every event id by staging the fixture twice
    val d = Files.createTempDirectory("graftdup")
    Files.copy(java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      d.resolve("events.parquet"))
    Files.copy(java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      d.resolve("events2.parquet"))
    val tmp = Files.createTempDirectory("graftdedup").toString
    val stream = Events.readEventsStream(spark, d.toString)
    val q = Events.toParquetSink(
      Events.dedupStream(stream, Seq("event_id")), s"$tmp/out", s"$tmp/ck")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.read.parquet(s"$tmp/out")
    assert(got.count() == got.select("event_id").distinct().count(),
      "duplicates survived streaming dedup")
    assert(got.count() == events.select("event_id").distinct().count(),
      "dedup dropped non-duplicate rows")
  }

  test("multiTouchAttribution: U-model closed-form weights for n=1,2,3; credit conserves minus truncation") {
    import spark.implicits._
    def ts(m: Int) = java.sql.Timestamp.valueOf(f"2025-06-01 10:$m%02d:00")
    // user 1: three clicks then a $10 purchase — U weights 40/20/40
    // user 2: two clicks  -> 50/50; user 3: one click -> 100%
    val e = Seq(
      (1L, ts(0), 1L, "click", 0.0), (2L, ts(5), 1L, "click", 0.0),
      (3L, ts(10), 1L, "click", 0.0), (4L, ts(15), 1L, "purchase", 10.0),
      (5L, ts(0), 2L, "click", 0.0), (6L, ts(5), 2L, "click", 0.0),
      (7L, ts(10), 2L, "purchase", 8.0),
      (8L, ts(0), 3L, "click", 0.0), (9L, ts(5), 3L, "purchase", 6.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val out = Events.multiTouchAttribution(e, model = "u")
      .collect().map(r => (r.getLong(1), r.getInt(4), r.getLong(5), r.getLong(6)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(out == Seq(
      (1L, 1, 400000L, 400L), (2L, 2, 200000L, 200L), (3L, 3, 400000L, 400L),
      (5L, 1, 500000L, 400L), (6L, 2, 500000L, 400L),
      (8L, 1, 1000000L, 600L)), s"got $out")
    // linear model: equal thirds with deterministic truncation (333333x3)
    val lin = Events.multiTouchAttribution(e, model = "linear")
      .filter(col("user_id") === 1L)
      .collect().map(_.getLong(5)).toSeq
    assert(lin == Seq(333333L, 333333L, 333333L))
  }

  test("hopping windows assign each event to exactly 4 hour windows") {
    import spark.implicits._
    val e = Seq((1L, java.sql.Timestamp.valueOf("2025-06-01 10:07:00"),
        1L, "click", 2.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val rows = Events.hourlyHopStats(e)
      .collect().map(r => r.getAs[java.sql.Timestamp]("win_start").toString)
      .sorted
    // windows of size 1h sliding 15m containing 10:07: starts 09:15..10:00
    assert(rows.toSeq == Seq("2025-06-01 09:15:00.0", "2025-06-01 09:30:00.0",
      "2025-06-01 09:45:00.0", "2025-06-01 10:00:00.0"))
  }

  test("session_window: exact-gap event MERGES (inclusive), 1801s breaks") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2025-06-01 10:00:00")
    def ts(sec: Int) = new java.sql.Timestamp(t0.getTime + sec * 1000L)
    // gaps: 10 s (merge), exactly 1800 s (touching windows — MERGE),
    // 1801 s (break) — pins the inclusive-merge convention the oracle's
    // strict-> break mirrors
    val e = Seq(
      (1L, ts(0), 1L, "click", 1.0), (2L, ts(10), 1L, "click", 1.0),
      (3L, ts(10 + 1800), 1L, "click", 1.0),
      (4L, ts(10 + 1800 + 1801), 1L, "click", 1.0))
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val sw = Events.sessionWindowStats(e)
      .collect().map(r => (r.getAs[Long]("n_events"),
        r.getAs[java.sql.Timestamp]("session_end").getTime
          - r.getAs[java.sql.Timestamp]("session_start").getTime))
    assert(sw.map(_._1).sorted.toSeq == Seq(1L, 3L),
      "exactly-1800s gap must merge; 1801s must break")
    // end = last event in session + gap
    assert(sw.toSet == Set((3L, 1810000L + 1800000L), (1L, 1800000L)))
    // same break convention as the lag-based form
    val sb = Events.sessionizeBatch(e).collect().map(_.getAs[Long]("n_events"))
    assert(sb.sorted.toSeq == Seq(1L, 3L))
  }

  test("stream-stream attribution join equals the batch range join") {
    // widen the window so the tiny fixture yields a meaningful match set
    val staged = Events.stageStreamDir(spark, s"$sfDir/events.parquet")
    val got = Events.runAvailableNow(spark,
      Events.attributionJoinStream(
        Events.readEventsStream(spark, staged), attrMinutes = 480),
      complete = false)
    val batch = Events.attributionJoinBatch(events, attrMinutes = 480)
    assert(got.count() > 0, "fixture must yield attribution matches")
    assert(got.exceptAll(batch).count() == 0 && batch.exceptAll(got).count() == 0,
      "stream-stream join must equal the batch bucketed range join")
  }

  test("stream-stream join state carries clicks across micro-batch boundaries") {
    // the defining property of a stream-stream join: a click arriving in
    // batch N must be held in join state and matched against a purchase
    // arriving in batch N+k. Three single-file micro-batches: clicks
    // first, then two purchase waves — every expected pair straddles a
    // batch boundary, so a join that only matches within one micro-batch
    // emits nothing.
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2025-06-01 10:00:00")
    def ts(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    val chunks = Seq(
      // batch 1: clicks for users 1, 2, 3
      Seq((1L, ts(0), 1L, "click", 0.0), (2L, ts(0), 2L, "click", 0.0),
        (3L, ts(0), 3L, "click", 0.0)),
      // batch 2: purchase for user 1 inside the window, user 9 no click
      Seq((11L, ts(10), 1L, "purchase", 5.0), (19L, ts(10), 9L, "purchase", 9.0)),
      // batch 3: purchase for user 2 inside, user 3 OUTSIDE the window
      Seq((12L, ts(25), 2L, "purchase", 7.0), (13L, ts(40), 3L, "purchase", 8.0)))
    val dir = Files.createTempDirectory("graftattr")
    val base = System.currentTimeMillis()
    chunks.zipWithIndex.foreach { case (rows, i) =>
      val tmp = Files.createTempDirectory(s"graftattrc$i").resolve("out")
      rows.toDF("event_id", "ts", "user_id", "event_type", "value")
        .withColumn("props", lit(null).cast("string"))
        .coalesce(1).write.parquet(tmp.toString)
      val part = new java.io.File(tmp.toString).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = dir.resolve(f"chunk_$i%02d.parquet")
      Files.copy(part.toPath, dest)
      assert(dest.toFile.setLastModified(base + i * 2000L))
    }
    val ck = Files.createTempDirectory("graftattr_ck")
    val q = Events.attributionJoinStream(
        Events.readEventsStream(spark, dir.toString, maxFilesPerTrigger = 1))
      .writeStream.format("memory").queryName("attr_multibatch")
      .outputMode("append")
      .option("checkpointLocation", ck.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    assert(q.recentProgress.map(_.batchId).distinct.length >= 3,
      "expected one micro-batch per staged file")
    val got = spark.table("attr_multibatch")
      .select("click_id", "purchase_id", "user_id").as[(Long, Long, Long)]
      .collect().toSet
    assert(got == Set((1L, 11L, 1L), (2L, 12L, 2L)),
      "cross-batch pairs must match; out-of-window and clickless must not")
    spark.catalog.dropTempView("attr_multibatch")
  }

  test("streaming cleaning gate composes with windowed aggregation") {
    val tmp = Files.createTempDirectory("graftclean").toString
    val stream = Events.readEventsStream(spark, stagedEventsDir)
    val q = Events.toParquetSink(
      Events.hourlyStatsStream(Events.cleanStream(stream, minValue = 1.0)),
      s"$tmp/out", s"$tmp/ck")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.read.parquet(s"$tmp/out")
    val expected = Events.hourlyStatsBatch(Events.cleanStream(events, minValue = 1.0))
      .select("hour_start", "event_type", "n_events", "value_cents")
    val g = got.select("hour_start", "event_type", "n_events", "value_cents")
    assert(g.count() > 0)
    assert(g.exceptAll(expected).count() == 0,
      "cleaned streamed window not present in cleaned batch result")
  }

  test("streaming multi-touch attribution equals batch across micro-batches") {
    // 4 time-ordered chunks + close sentinel, one file per trigger: click
    // buffers and pending purchases must hand off across batches, and the
    // final credited-touch relation must equal the batch U-shaped split
    // EXACTLY (the sentinel closes every purchase's window)
    val dir = stageChunkedDir(nChunks = 4, withSentinel = true)
    val ck = Files.createTempDirectory("graftmt_ck")
    val stream = Events.readEventsStream(spark, dir, maxFilesPerTrigger = 1)
    val q = Events.multiTouchAttributionStream(spark, stream, model = "u")
      .writeStream
      .format("memory").queryName("mt_touches")
      .outputMode("append")
      .option("checkpointLocation", ck.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(180000)
    assert(q.recentProgress.map(_.batchId).distinct.length >= 5)
    val got = spark.table("mt_touches")
    val batch = Events.multiTouchAttribution(events, model = "u")
    assert(got.count() > 0, "no touches credited")
    assert(got.exceptAll(batch).count() == 0 &&
      batch.exceptAll(got).count() == 0,
      "streamed credit split must equal the batch relation exactly")
  }

  test("multi-touch: purchase inside the final watermark delay still emits") {
    // regression (sf1 gate): the event-type filter used to drop the
    // __close sentinel BEFORE the EventTimeWatermark node (Catalyst
    // pushes non-event-time predicates below it), so the watermark never
    // passed the last real purchases and anything in the final
    // watermark-delay went unemitted
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2024-03-01 00:00:00")
    def at(min: Int) = new java.sql.Timestamp(t0.getTime + min * 60000L)
    val noProps = null.asInstanceOf[String]
    val ev = Seq(
      (1L, at(0), 7L, "click", 10.0, noProps),
      (2L, at(10), 7L, "purchase", 50.0, noProps))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val tmp = Files.createTempDirectory("graftmt2").resolve("ev").toString
    ev.coalesce(1).write.parquet(tmp)
    val staged = Events.stageStreamDir(spark, tmp, closeSentinel = true)
    val got = Events.runAvailableNow(spark,
      Events.multiTouchAttributionStream(spark,
        Events.readEventsStream(spark, staged), model = "u"),
      complete = false).collect()
    assert(got.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((2L, 1L)),
      "the sentinel must flush the purchase sitting in the final watermark delay")
  }

  test("streaming CDC compaction folds to the batch applyChanges image") {
    import spark.implicits._
    def at(min: Int) = new java.sql.Timestamp(1704067200000L + min * 60000L)
    val base = Seq((1L, "one"), (2L, "two"), (3L, "three"), (4L, "four"))
      .toDF("doc_id", "text")
    // waves staged deliberately OUT of seq order (2, 3, then the stale 1):
    // the retained-state winner comparison across micro-batches is what
    // keeps the late seq-1 rows from winning
    val w2 = Seq(
      (1L, 2L, "upsert", Option("one v2"), at(2)),
      (2L, 2L, "upsert", Option("two v2"), at(2)))
      .toDF("doc_id", "seq", "op", "text", "ts")
    val w3 = Seq((2L, 3L, "delete", Option.empty[String], at(3)))
      .toDF("doc_id", "seq", "op", "text", "ts")
    val w1 = Seq(
      (1L, 1L, "upsert", Option("one STALE"), at(1)),
      (5L, 1L, "upsert", Option("five ins"), at(1)))
      .toDF("doc_id", "seq", "op", "text", "ts")
    val sentinel = Seq((-1L, 0L, "__close", Option.empty[String],
      new java.sql.Timestamp(at(0).getTime + 10L * 86400 * 1000)))
      .toDF("doc_id", "seq", "op", "text", "ts")
    val staged = Events.stageChunkedStream(Seq(w2, w3, w1, sentinel))
    val ck = Files.createTempDirectory("graftcdc_ck")
    val schema = spark.read.parquet(staged).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(staged)
    val q = Events.applyChangesStream(spark, stream).writeStream
      .format("memory").queryName("cdc_frames")
      .outputMode("append")
      .option("checkpointLocation", ck.toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(180000)
    assert(q.recentProgress.map(_.batchId).distinct.length >= 4,
      "each staged wave must replay as its own micro-batch")
    val frames = spark.table("cdc_frames")
    val fin = frames.groupBy("doc_id")
      .agg(expr("max(struct(seq AS s, op AS o, text AS t))").as("__w"))
      .select(col("doc_id"), col("__w.o").as("__op"), col("__w.t").as("__new"))
    val streamed = graft.operators.CorpusPipeline.mergeWinners(base, fin)
    val batch = graft.operators.CorpusPipeline.applyChanges(
      base, w2.unionAll(w3).unionAll(w1).drop("ts"))
    assert(streamed.exceptAll(batch).count() == 0 &&
      batch.exceptAll(streamed).count() == 0,
      "stream compaction must fold to the batch CDC image exactly")
    // the stale seq-1 wave must not have produced a 'one STALE' frame as
    // the FINAL image (an intermediate frame for id 5 is fine)
    assert(streamed.filter(col("text") === "one STALE").count() == 0)
    assert(streamed.count() == 4) // 1 updated, 3+4 kept, 5 inserted; 2 deleted
  }

  test("streaming SCD2 frames fold to the batch version history") {
    import spark.implicits._
    def at(min: Int) = new java.sql.Timestamp(1704067200000L + min * 60000L)
    // 4-wave log for ids 1..3, staged OUT of seq order across
    // micro-batches: id1 full lifecycle (insert, update, delete,
    // re-insert), id2 insert+delete (no current row), id3 insert only
    val w1 = Seq((1L, 1L, "upsert", Option("a1"), at(1)),
      (2L, 1L, "upsert", Option("b1"), at(1)),
      (3L, 1L, "upsert", Option("c1"), at(1)))
      .toDF("doc_id", "seq", "op", "text", "ts")
    val w2 = Seq((1L, 2L, "upsert", Option("a2"), at(2)))
      .toDF("doc_id", "seq", "op", "text", "ts")
    val w3 = Seq((1L, 3L, "delete", Option.empty[String], at(3)),
      (2L, 3L, "delete", Option.empty[String], at(3)))
      .toDF("doc_id", "seq", "op", "text", "ts")
    val w4 = Seq((1L, 4L, "upsert", Option("a4"), at(4)))
      .toDF("doc_id", "seq", "op", "text", "ts")
    val sentinel = Seq((-1L, 0L, "__close", Option.empty[String],
      new java.sql.Timestamp(at(0).getTime + 10L * 86400 * 1000)))
      .toDF("doc_id", "seq", "op", "text", "ts")
    val staged = Events.stageChunkedStream(Seq(w2, w1, w4, w3, sentinel))
    val schema = spark.read.parquet(staged).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(staged)
    val frames = Events.runAvailableNow(spark,
      Events.scd2HistoryStream(spark, stream), complete = false)
    val got = frames.groupBy("doc_id", "valid_from_seq")
      .agg(expr("max(struct(valid_to_seq IS NOT NULL AS closed, " +
        "valid_to_seq, text, is_current))").as("__f"))
      .select(col("doc_id"), col("__f.text").as("text"),
        col("valid_from_seq"), col("__f.valid_to_seq").as("valid_to_seq"),
        col("__f.is_current").as("is_current"))
    val batch = graft.operators.CorpusPipeline.scd2History(
      w1.unionAll(w2).unionAll(w3).unionAll(w4).drop("ts"))
    assert(got.exceptAll(batch).count() == 0 &&
      batch.exceptAll(got).count() == 0,
      "streamed SCD2 frames must fold to the batch history exactly")
    // spot-check semantics: id1 has 3 versions, only seq-4 current;
    // id2 deleted -> no current row; id3 one open version
    val cur = got.filter(col("is_current")).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(cur == Map(1L -> 4L, 3L -> 1L))
  }

  test("CDC compaction across TWO quiescence epochs: retained state, stale seq never wins") {
    import spark.implicits._
    def at(min: Int) = new java.sql.Timestamp(1704067200000L + min * 60000L)
    val noText = Option.empty[String]
    // epoch 1: id 1 seq 5 'v5'; epoch 2 (2h later, after the watermark
    // passes epoch 1's settle horizon): id 1 gets BOTH a stale seq-3 row
    // (must NOT win against the retained seq-5 state) and a seq-7 row
    // (must win and force a re-emission)
    val c1 = Seq((1L, 5L, "upsert", Option("v5"), at(0)))
      .toDF("doc_id", "seq", "op", "text", "ts")
    val push = Seq((-2L, 0L, "__close", noText, at(120)))
      .toDF("doc_id", "seq", "op", "text", "ts")
    // a second pusher batch in which id 1 has NO data: event-time
    // timeouts only fire for keys without data in the batch, so the
    // epoch boundary needs one dataless batch for the key
    val push2 = Seq((-2L, 0L, "__close", noText, at(121)))
      .toDF("doc_id", "seq", "op", "text", "ts")
    val c2 = Seq((1L, 3L, "upsert", Option("v3 STALE"), at(125)),
      (1L, 7L, "upsert", Option("v7"), at(126)))
      .toDF("doc_id", "seq", "op", "text", "ts")
    val sentinel = Seq((-1L, 0L, "__close", noText,
      new java.sql.Timestamp(at(0).getTime + 10L * 86400 * 1000)))
      .toDF("doc_id", "seq", "op", "text", "ts")
    val staged = Events.stageChunkedStream(Seq(c1, push, push2, c2, sentinel))
    val schema = spark.read.parquet(staged).schema
    val frames = Events.runAvailableNow(spark,
      Events.applyChangesStream(spark,
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(staged)),
      complete = false)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(3)))
      .sortBy(_._2)
    // two frames for id 1: the epoch-1 winner, then the epoch-2 update;
    // the stale seq-3 row appears in NEITHER
    assert(frames.toSeq == Seq((1L, 5L, "v5"), (1L, 7L, "v7")),
      s"got ${frames.toSeq}")
  }

  test("SCD2 across TWO epochs: open version re-emits closed, latest frame wins") {
    import spark.implicits._
    def at(min: Int) = new java.sql.Timestamp(1704067200000L + min * 60000L)
    val noText = Option.empty[String]
    val c1 = Seq((1L, 1L, "upsert", Option("a1"), at(0)))
      .toDF("doc_id", "seq", "op", "text", "ts")
    val push = Seq((-2L, 0L, "__close", noText, at(120)))
      .toDF("doc_id", "seq", "op", "text", "ts")
    val push2 = Seq((-2L, 0L, "__close", noText, at(121)))
      .toDF("doc_id", "seq", "op", "text", "ts")
    val c2 = Seq((1L, 2L, "upsert", Option("a2"), at(125)))
      .toDF("doc_id", "seq", "op", "text", "ts")
    val sentinel = Seq((-1L, 0L, "__close", noText,
      new java.sql.Timestamp(at(0).getTime + 10L * 86400 * 1000)))
      .toDF("doc_id", "seq", "op", "text", "ts")
    val staged = Events.stageChunkedStream(Seq(c1, push, push2, c2, sentinel))
    val schema = spark.read.parquet(staged).schema
    val frames = Events.runAvailableNow(spark,
      Events.scd2HistoryStream(spark,
        spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(staged)),
      complete = false)
    // raw frames: version 1 emitted OPEN in epoch 1, re-emitted CLOSED
    // in epoch 2 alongside the new open version 2
    val raw = frames.collect()
      .map(r => (r.getLong(2), Option(r.get(3)).map(_.toString), r.getBoolean(4)))
      .sortBy(f => (f._1, f._2.isDefined))
    assert(raw.toSeq == Seq((1L, None, true), (1L, Some("2"), false),
      (2L, None, true)), s"got ${raw.toSeq}")
    // latest-frame fold equals the batch history over the full log
    val folded = frames.groupBy("doc_id", "valid_from_seq")
      .agg(expr("max(struct(valid_to_seq IS NOT NULL AS closed, " +
        "valid_to_seq, text, is_current))").as("__f"))
      .select(col("doc_id"), col("__f.text").as("text"),
        col("valid_from_seq"), col("__f.valid_to_seq").as("valid_to_seq"),
        col("__f.is_current").as("is_current"))
    val batch = graft.operators.CorpusPipeline.scd2History(
      c1.unionAll(c2).drop("ts"))
    assert(folded.exceptAll(batch).count() == 0 &&
      batch.exceptAll(folded).count() == 0)
  }

  test("SCD2 epoch buffer over maxEpochChanges fails LOUDLY, not silently growing") {
    import spark.implicits._
    def at(min: Int) = new java.sql.Timestamp(1704067200000L + min * 60000L)
    // three changes to one id in a single wave, cap = 2: the id's epoch
    // buffer would exceed the cap before any settle emission
    val c1 = Seq(
      (1L, 1L, "upsert", Option("a1"), at(0)),
      (1L, 2L, "upsert", Option("a2"), at(1)),
      (1L, 3L, "upsert", Option("a3"), at(2)))
      .toDF("doc_id", "seq", "op", "text", "ts")
    val sentinel = Seq((-1L, 0L, "__close", Option.empty[String],
      new java.sql.Timestamp(at(0).getTime + 10L * 86400 * 1000)))
      .toDF("doc_id", "seq", "op", "text", "ts")
    val staged = Events.stageChunkedStream(Seq(c1, sentinel))
    val schema = spark.read.parquet(staged).schema
    val e = intercept[Exception] {
      Events.runAvailableNow(spark,
        Events.scd2HistoryStream(spark,
          spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", "1").parquet(staged),
          maxEpochChanges = 2),
        complete = false)
    }
    def chain(t: Throwable): Seq[Throwable] =
      t +: Option(t.getCause).toSeq.flatMap(chain)
    assert(chain(e).exists(t => Option(t.getMessage)
        .exists(_.contains("maxEpochChanges"))),
      s"expected the named maxEpochChanges error, got: $e")
  }

  test("multimodal decode extracts fake-header metadata partition-wise") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val decoded = Multimodal.decode(Multimodal.fakeMediaFromDocs(docs))
    val joined = decoded.join(docs, decoded("media_id") === docs("doc_id"))
    // width carries n_chars through the fake header; payload adds 8 bytes
    assert(joined.filter(expr("meta.width != n_chars % 65536")).count() == 0)
    assert(joined.filter(expr("n_bytes != n_chars + 8")).count() == 0)
    assert(decoded.filter(expr("meta.mime != 'image/fake'")).count() == 0)
    assert(decoded.filter(expr("meta.height != 64")).count() == 0)
  }

  test("frame sampling bounded and within range") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val frames = Multimodal.sampleFrames(
      Multimodal.decode(Multimodal.fakeMediaFromDocs(docs)), maxFrames = 4)
    val perDoc = frames.groupBy("media_id").agg(count(lit(1)).as("n"))
    assert(perDoc.filter(col("n") > 4).count() == 0)
    assert(frames.filter(expr("frame_index >= meta.n_frames")).count() == 0)
  }
}
