package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.operators.{Funnel, Sessionize}
import graft.sources.Tables
import graft.streaming.Streams
import graft.streaming.Streams.Event

/** Structured Streaming surface (SURVEY.md §2.8): incremental path via
  * MemoryStream, and batch/stream semantic agreement for the stateful
  * sessionizer against the SQL-window operator. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private val sampleEvents = Seq(
    Event(1L, ts("2025-01-01 10:00:00"), 1L, "click", 1.0),
    Event(2L, ts("2025-01-01 10:10:00"), 1L, "click", 2.0),
    // > 30 min gap → new session for user 1
    Event(3L, ts("2025-01-01 11:00:00"), 1L, "view", 3.0),
    Event(4L, ts("2025-01-01 10:05:00"), 2L, "click", 4.0),
    Event(5L, ts("2025-01-01 12:00:00"), 2L, "view", 5.0))

  test("statefulSessions (batch mode) agrees with the SQL-window Sessionize operator") {
    val df = sampleEvents.toDF()
    val stateful = Streams.statefulSessions(df.as[Event], gapSeconds = 1800L)
      .select("user_id", "session_start", "session_end", "n_events")
    val sql = Sessionize.sessions(df, "user_id", "ts", "event_id", 1800L)
      .select(col("user_id"), col("session_start"), col("session_end"), col("n_events"))
    assert(rows(stateful) === rows(sql))
    assert(stateful.count() === 4) // u1: 2 sessions, u2: 2 sessions
  }

  test("statefulSessions agrees with Sessionize on the real events table (sf0.001)") {
    // the typed Event boundary declares timestamp-ltz; parquet written
    // without isAdjustedToUTC reads as NTZ, so normalize once up front
    // (UTC session tz => pure reinterpretation) or the two sides
    // return different timestamp kinds
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
    val stateful = Streams.statefulSessions(ev.as[Event], gapSeconds = 1800L)
      .select("user_id", "session_start", "session_end", "n_events")
    val sql = Sessionize.sessions(ev, "user_id", "ts", "event_id", 1800L)
      .select(col("user_id"), col("session_start"), col("session_end"), col("n_events"))
    assert(rows(stateful) === rows(sql))
  }

  test("statefulFunnel (batch mode) agrees with the window-formulation Funnel operator") {
    val steps = Seq("view", "click", "purchase")
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("event_id"), col("ts").cast("timestamp").as("ts"),
        col("user_id"), col("event_type"), col("value"))
    val stateful = Streams.statefulFunnel(ev.as[Event], steps)
      .collect().map(o => o.user_id -> o.step_us.toSeq).toMap
    val batch = Funnel.funnel(ev, "user_id", "ts", "event_id", "event_type", steps)
      .select(col("user_id"),
        unix_micros(col("ts_step1")), unix_micros(col("ts_step2")),
        unix_micros(col("ts_step3")))
      .collect()
      .map(r => r.getLong(0) ->
        Seq(1, 2, 3).flatMap(i => if (r.isNullAt(i)) None else Some(r.getLong(i))))
      .toMap
    assert(stateful === batch)
    assert(batch.nonEmpty)
  }

  test("statefulFunnel over a MemoryStream refines snapshots across micro-batches") {
    val steps = Seq("view", "click", "purchase")
    val input = MemoryStream[Event](spark)
    val query = Streams.statefulFunnel(input.toDS(), steps)
      .writeStream.format("memory").queryName("funnel_out")
      .outputMode(OutputMode.Update()).start()
    try {
      def latest(user: Long): Option[Int] = {
        // Update-mode memory sink accumulates snapshots; within one
        // user the steps_reached sequence is monotone, so max = latest
        val r = spark.table("funnel_out").where(col("user_id") === user)
          .agg(max(col("steps_reached"))).collect().head
        if (r.isNullAt(0)) None else Some(r.getInt(0))
      }
      // user 7 views; user 8 clicks first (never qualifies without a view)
      input.addData(
        Event(1L, ts("2025-01-01 10:00:00"), 7L, "view", 1.0),
        Event(2L, ts("2025-01-01 10:00:00"), 8L, "click", 1.0))
      query.processAllAvailable()
      assert(latest(7L) === Some(1))
      assert(latest(8L) === Some(0))
      // next batch completes user 7's funnel; user 8's purchase still
      // blocked (click was never qualified)
      input.addData(
        Event(3L, ts("2025-01-01 10:05:00"), 7L, "click", 1.0),
        Event(4L, ts("2025-01-01 10:10:00"), 7L, "purchase", 1.0),
        Event(5L, ts("2025-01-01 10:10:00"), 8L, "purchase", 1.0))
      query.processAllAvailable()
      assert(latest(7L) === Some(3))
      assert(latest(8L) === Some(0))
      // late view for user 8: sets step 1, but the already-processed
      // click is NOT re-qualified retroactively (documented deviation)
      input.addData(Event(6L, ts("2025-01-01 09:00:00"), 8L, "view", 1.0))
      query.processAllAvailable()
      assert(latest(8L) === Some(1))
      // ...while a FRESH click after the late view qualifies normally
      input.addData(Event(7L, ts("2025-01-01 11:00:00"), 8L, "click", 1.0))
      query.processAllAvailable()
      assert(latest(8L) === Some(2))
    } finally query.stop()
  }

  test("tumblingAgg over a MemoryStream emits finalized windows after the watermark passes") {
    val input = MemoryStream[Event](spark)
    val query = Streams.tumblingAgg(input.toDF(), windowDur = "1 hour", watermark = "1 hour")
      .writeStream.format("memory").queryName("tumbling_out")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(sampleEvents.filter(_.ts.getTime < ts("2025-01-01 11:30:00").getTime))
      query.processAllAvailable()
      // advance event time far enough that the 10:00 and 11:00 windows close
      input.addData(Event(99L, ts("2025-01-01 14:00:00"), 3L, "click", 0.0))
      query.processAllAvailable()
      val out = spark.table("tumbling_out")
        .select("window_start", "event_type", "n", "total_value")
      val got = rows(out)
      assert(got.contains(Seq(ts("2025-01-01 10:00:00"), "click", 3L, 7.0)))
      assert(got.contains(Seq(ts("2025-01-01 11:00:00"), "view", 1L, 3.0)))
    } finally query.stop()
  }

  test("statefulSessions over a MemoryStream: gap split + watermark timeout close") {
    val input = MemoryStream[Event](spark)
    val query = Streams.statefulSessions(input.toDS(), gapSeconds = 1800L)
      .writeStream.format("memory").queryName("sessions_out")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(sampleEvents)
      query.processAllAvailable()
      // push the watermark past every open session's end + gap
      input.addData(Event(100L, ts("2025-01-01 18:00:00"), 9L, "click", 0.0))
      query.processAllAvailable()
      input.addData(Event(101L, ts("2025-01-02 10:00:00"), 9L, "click", 0.0))
      query.processAllAvailable()
      val out = spark.table("sessions_out")
        .where(col("user_id").isin(1L, 2L))
        .select("user_id", "session_start", "n_events")
      val got = rows(out)
      assert(got === Set(
        Seq(1L, ts("2025-01-01 10:00:00"), 2L),
        Seq(1L, ts("2025-01-01 11:00:00"), 1L),
        Seq(2L, ts("2025-01-01 10:05:00"), 1L),
        Seq(2L, ts("2025-01-01 12:00:00"), 1L)))
    } finally query.stop()
  }

  test("intervalJoin: stream-stream pairing within the time bound, incremental across batches") {
    val clicks = MemoryStream[(Long, Timestamp, Long)](spark)
    val views = MemoryStream[(Long, Timestamp, Long)](spark)
    val l = clicks.toDF().toDF("user_id", "click_ts", "click_id")
    val r = views.toDF().toDF("user_id", "view_ts", "view_id")
    val query = Streams.intervalJoin(l, r, Seq("user_id"),
        "click_ts", "view_ts", within = "30 minutes", watermark = "10 minutes")
      .select("user_id", "click_id", "view_id")
      .writeStream.format("memory").queryName("ij_out")
      .outputMode(OutputMode.Append()).start()
    try {
      // view arrives in one batch, its matching click in a LATER batch:
      // stream-stream state must hold the view until the click shows up
      views.addData((1L, ts("2025-01-01 10:00:00"), 100L))
      query.processAllAvailable()
      clicks.addData((1L, ts("2025-01-01 10:20:00"), 200L))
      views.addData(
        (1L, ts("2025-01-01 09:40:00"), 101L),   // 40 min before click: out of bound
        (2L, ts("2025-01-01 10:10:00"), 102L))   // other user: no match
      clicks.addData((2L, ts("2025-01-01 10:15:00"), 201L))
      query.processAllAvailable()
      val got = rows(spark.table("ij_out"))
      assert(got === Set(
        Seq(1L, 200L, 100L),    // cross-batch match within 30 min
        Seq(2L, 201L, 102L)))   // same-batch match
    } finally query.stop()
  }

  test("intervalJoin left_outer: unmatched clicks finalize with NULLs at watermark passage") {
    val clicks = MemoryStream[(Long, Timestamp, Long)](spark)
    val views = MemoryStream[(Long, Timestamp, Long)](spark)
    val l = clicks.toDF().toDF("user_id", "click_ts", "click_id")
    val r = views.toDF().toDF("user_id", "view_ts", "view_id")
    val query = Streams.intervalJoin(l, r, Seq("user_id"),
        "click_ts", "view_ts", within = "30 minutes", watermark = "10 minutes",
        joinType = "left_outer")
      .select("user_id", "click_id", "view_id")
      .writeStream.format("memory").queryName("ij_outer_out")
      .outputMode(OutputMode.Append()).start()
    try {
      clicks.addData(
        (1L, ts("2025-01-01 10:20:00"), 200L),  // will match
        (3L, ts("2025-01-01 10:05:00"), 300L))  // never matches
      views.addData((1L, ts("2025-01-01 10:00:00"), 100L))
      query.processAllAvailable()
      // advance both watermarks far past the join bound so user 3's
      // unmatched click can be proven final and emitted with NULL
      clicks.addData((9L, ts("2025-01-01 12:00:00"), 900L))
      views.addData((8L, ts("2025-01-01 12:00:00"), 800L))
      query.processAllAvailable()
      val got = rows(spark.table("ij_outer_out"))
      assert(got.contains(Seq(1L, 200L, 100L)))   // matched pair
      assert(got.contains(Seq(3L, 300L, null)))   // outer row, NULL view
      assert(!got.exists(r => r.head == 8L))      // right side never emits alone
    } finally query.stop()
    // guard: a bogus join type is rejected before any plan is built
    val e = intercept[IllegalArgumentException] {
      Streams.intervalJoin(l, r, Seq("user_id"),
        "click_ts", "view_ts", "30 minutes", "10 minutes", joinType = "cross")
    }
    assert(e.getMessage.contains("joinType"))
  }

  test("intervalJoin rejects clashing non-key column names") {
    val a = Seq((1L, ts("2025-01-01 10:00:00"), 1.0)).toDF("user_id", "t1", "v")
    val b = Seq((1L, ts("2025-01-01 10:00:00"), 2.0)).toDF("user_id", "t2", "v")
    val e = intercept[IllegalArgumentException] {
      Streams.intervalJoin(a, b, Seq("user_id"), "t1", "t2", "5 minutes", "1 hour")
    }
    assert(e.getMessage.contains("clash"))
  }

  test("runWindowedPipeline: file stream -> checkpointed parquet sink, emits finalized windows") {
    val src = java.nio.file.Files.createTempDirectory("graft-stream-src").toString
    val out = java.nio.file.Files.createTempDirectory("graft-stream-out").toString
    val chk = java.nio.file.Files.createTempDirectory("graft-stream-chk").toString
    val events = Tables.events(spark, "/root/testdata/sf0.001")
    events.write.mode("overwrite").parquet(src)
    val q = Streams.runWindowedPipeline(spark, src, out, chk)
    assert(q.awaitTermination(120000)) // AvailableNow terminates when caught up
    val emitted = spark.read.parquet(out)
    assert(emitted.count() > 0)
    // Append mode emits only watermark-finalized windows -> emitted rows
    // must be a subset of the batch computation with identical values
    val batch = Streams.tumblingAgg(events) // watermark is a no-op in batch
    assert(emitted.except(batch).count() === 0)
  }

  test("enrich joins the stream with a broadcast static dim per micro-batch") {
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val input = MemoryStream[Event](spark)
    val query = Streams.enrich(input.toDF(), dim, Seq("user_id"))
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(sampleEvents)
      query.processAllAvailable()
      val out = spark.table("enrich_out").select("event_id", "tier")
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(out === Map(1L -> "gold", 2L -> "gold", 3L -> "gold",
        4L -> "basic", 5L -> "basic"))
    } finally query.stop()
  }

  test("statefulSessions: a late in-watermark event extends the session, never shrinks it") {
    val input = MemoryStream[Event](spark)
    val query = Streams.statefulSessions(input.toDS(), gapSeconds = 1800L)
      .writeStream.format("memory").queryName("late_sessions_out")
      .outputMode(OutputMode.Append()).start()
    try {
      // batch 1 opens (10:00, 10:20); watermark still far behind
      input.addData(
        Event(1L, ts("2025-01-01 10:00:00"), 7L, "click", 0.0),
        Event(2L, ts("2025-01-01 10:20:00"), 7L, "click", 0.0))
      query.processAllAvailable()
      // batch 2: a LATE 9:55 event (within watermark), then 10:30 —
      // 10 min after the true end, so SAME session (pre-fix, the end
      // moved back to 9:55 and 10:30 wrongly started a new one)
      input.addData(
        Event(3L, ts("2025-01-01 09:55:00"), 7L, "click", 0.0),
        Event(4L, ts("2025-01-01 10:30:00"), 7L, "click", 0.0))
      query.processAllAvailable()
      input.addData(Event(99L, ts("2025-01-02 10:00:00"), 7L, "click", 0.0))
      query.processAllAvailable() // push watermark → close the session
      val got = rows(spark.table("late_sessions_out")
        .where(col("session_start") < ts("2025-01-01 12:00:00"))
        .select("user_id", "session_start", "session_end", "n_events"))
      assert(got === Set(
        Seq(7L, ts("2025-01-01 09:55:00"), ts("2025-01-01 10:30:00"), 4L)))
    } finally query.stop()
  }

  test("enrich onMiss: keep carries NULLs; fail raises on a dim miss") {
    val dim = Seq((1L, "gold")).toDF("user_id", "tier")
    val events = sampleEvents.toDF() // users 1 and 2; 2 is missing from dim
    val kept = Streams.enrich(events, dim, Seq("user_id"), onMiss = "keep")
    assert(kept.count() === events.count())
    assert(kept.where(col("tier").isNull).count() > 0)
    assert(Streams.enrich(events, dim, Seq("user_id")).count() < events.count())
    intercept[Exception] {
      // collect(), not count(): the guard rides the probe column, so a
      // plan that prunes it (count) never evaluates the raise_error —
      // the documented lazy-guard semantics
      Streams.enrich(events, dim, Seq("user_id"), onMiss = "fail").collect()
    }
  }

  test("dedupAppendSink: overlapping micro-batches append each key once") {
    val base = java.nio.file.Files.createTempDirectory("graft-sink-base").toString + "/news.parquet"
    val chk = java.nio.file.Files.createTempDirectory("graft-sink-chk").toString
    val input = MemoryStream[Event](spark)
    val query = Streams.dedupAppendSink(input.toDF(), Seq("event_id"), base, chk)
    try {
      input.addData(
        Event(1L, ts("2025-01-01 10:00:00"), 1L, "click", 1.0),
        Event(2L, ts("2025-01-01 10:01:00"), 1L, "view", 2.0))
      query.processAllAvailable()
      // second batch overlaps the first on event_id 2
      input.addData(
        Event(2L, ts("2025-01-01 10:01:00"), 1L, "view", 2.0),
        Event(3L, ts("2025-01-01 10:02:00"), 2L, "click", 3.0))
      query.processAllAvailable()
      val out = spark.read.parquet(base)
      assert(out.count() === 3)
      assert(out.select("event_id").distinct().count() === 3)
    } finally query.stop()
  }

  test("dedupAppendSinkCommitted: snapshot appends, overlap-safe, zero-fresh commits nothing") {
    val root = java.nio.file.Files.createTempDirectory("graft-sinkc-base").toString + "/news"
    val chk = java.nio.file.Files.createTempDirectory("graft-sinkc-chk").toString
    val input = MemoryStream[Event](spark)
    val query = Streams.dedupAppendSinkCommitted(input.toDF(), Seq("event_id"), root, chk)
    try {
      input.addData(
        Event(1L, ts("2025-01-01 10:00:00"), 1L, "click", 1.0),
        Event(2L, ts("2025-01-01 10:01:00"), 1L, "view", 2.0))
      query.processAllAvailable()
      assert(graft.sources.Lake.readCommitted(spark, root).count() === 2)
      // overlapping batch: only the genuinely new key lands
      input.addData(
        Event(2L, ts("2025-01-01 10:01:00"), 1L, "view", 2.0),
        Event(3L, ts("2025-01-01 10:02:00"), 2L, "click", 3.0))
      query.processAllAvailable()
      val afterOverlap = graft.sources.Lake.currentVersion(spark, root)
      assert(graft.sources.Lake.readCommitted(spark, root).count() === 3)
      // a fully-duplicate batch appends nothing AND commits no
      // snapshot — no churn under replay, and no orphan staged dir
      val listing = dirListing(root)
      input.addData(Event(3L, ts("2025-01-01 10:02:00"), 2L, "click", 3.0))
      query.processAllAvailable()
      assert(graft.sources.Lake.currentVersion(spark, root) === afterOverlap)
      assert(dirListing(root) === listing)
      assert(graft.sources.Lake.readCommitted(spark, root)
        .select("event_id").distinct().count() === 3)
    } finally query.stop()
  }

  test("statRefreshSink: micro-batch folds equal the batch recompute; replay is a no-op") {
    val statPath = java.nio.file.Files.createTempDirectory("graft-stat").toString + "/stats.parquet"
    val chk = java.nio.file.Files.createTempDirectory("graft-stat-chk").toString
    val input = MemoryStream[Event](spark)
    val query = Streams.statRefreshSink(input.toDF(), Seq("event_type"), "value",
      statPath, chk)
    val allEvents = scala.collection.mutable.ArrayBuffer[Event]()
    try {
      val b1 = Seq(
        Event(1L, ts("2025-01-01 10:00:00"), 1L, "click", 1.5),
        Event(2L, ts("2025-01-01 10:01:00"), 1L, "view", 2.0))
      val b2 = Seq(
        Event(3L, ts("2025-01-01 10:02:00"), 2L, "click", 4.0),
        Event(4L, ts("2025-01-01 10:03:00"), 2L, "scroll", 0.5))
      for (b <- Seq(b1, b2)) {
        input.addData(b: _*); allEvents ++= b
        query.processAllAvailable()
        // the maintained stat table == a from-scratch recompute over
        // everything streamed so far, after every micro-batch
        val expect = graft.operators.Incremental.partials(
          allEvents.toSeq.toDF(), Seq("event_type"), "value")
        assert(rows(graft.sources.Lake.readCommitted(spark, statPath)) === rows(expect))
      }
    } finally query.stop()
    // crash-replay: re-applying an already-applied batchId must skip —
    // this is what makes the NON-idempotent fold effectively-once.
    // The skip is a HIGH-WATER MARK: batchId 0's marker did not
    // survive batch 1's swap, yet replaying it must still skip
    // replays must run under the SINK'S lineage (derived from the
    // checkpoint's query id) — a different lineage is a new stream,
    // which bootstraps rather than skips
    val lin = Streams.checkpointLineage(spark, chk)
    val replay = Seq(Event(9L, ts("2025-01-01 11:00:00"), 9L, "click", 99.0)).toDF()
    val before = rows(graft.sources.Lake.readCommitted(spark, statPath))
    assert(!Streams.applyStatBatch(replay, 0L, Seq("event_type"), "value", statPath, lin))
    assert(!Streams.applyStatBatch(replay, 1L, Seq("event_type"), "value", statPath, lin))
    assert(rows(graft.sources.Lake.readCommitted(spark, statPath)) === before)
    // ...while a NEW batchId applies normally
    assert(Streams.applyStatBatch(replay, 2L, Seq("event_type"), "value", statPath, lin))
    assert(rows(graft.sources.Lake.readCommitted(spark, statPath)) !== before)
  }

  test("statRefreshSink: crash at every manifest protocol point leaves the table readable") {
    import org.apache.hadoop.fs.Path
    val dir = java.nio.file.Files.createTempDirectory("graft-crash").toString
    val statPath = dir + "/stats.parquet"
    val b1 = Seq(Event(1L, ts("2025-01-01 10:00:00"), 1L, "click", 1.0)).toDF()
    val b2 = Seq(Event(2L, ts("2025-01-01 10:01:00"), 1L, "view", 2.0)).toDF()
    assert(Streams.applyStatBatch(b1, 0L, Seq("event_type"), "value", statPath))
    assert(Streams.applyStatBatch(b2, 1L, Seq("event_type"), "value", statPath))
    val healthy = rows(graft.sources.Lake.readCommitted(spark, statPath))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(statPath), spark.sparkContext.hadoopConfiguration)
    val b3 = Seq(Event(3L, ts("2025-01-01 10:02:00"), 2L, "click", 4.0)).toDF()
    val after = rows(graft.operators.Incremental.merge(
      graft.sources.Lake.readCommitted(spark, statPath),
      graft.operators.Incremental.partials(b3, Seq("event_type"), "value"),
      Seq("event_type")))
    // crash window A: batch 2's version dir fully written, marker
    // included, but the manifest rename never happened — readers stay
    // on the old snapshot, and the replay RE-FOLDS (the orphan dir is
    // overwritten; deterministic next() makes the redo identical)
    graft.operators.Incremental.merge(
        graft.sources.Lake.readCommitted(spark, statPath),
        graft.operators.Incremental.partials(b3, Seq("event_type"), "value"),
        Seq("event_type"))
      .write.mode("overwrite").parquet(statPath + "/v2")
    fs.create(new Path(statPath + "/v2", "_applied_2_manual")).close()
    assert(rows(graft.sources.Lake.readCommitted(spark, statPath)) === healthy)
    assert(Streams.applyStatBatch(b3, 2L, Seq("event_type"), "value", statPath))
    assert(rows(graft.sources.Lake.readCommitted(spark, statPath)) === after)
    // ...and the replay of the now-committed batch skips
    assert(!Streams.applyStatBatch(b3, 2L, Seq("event_type"), "value", statPath))
    assert(rows(graft.sources.Lake.readCommitted(spark, statPath)) === after)
    // crash window B: half-written version dir, no marker, no
    // manifest — invisible to readers, replay folds on top normally
    fs.mkdirs(new Path(statPath + "/v3"))
    fs.create(new Path(statPath + "/v3/part-00000.parquet.tmp")).close()
    assert(rows(graft.sources.Lake.readCommitted(spark, statPath)) === after)
    assert(Streams.applyStatBatch(
      Seq(Event(4L, ts("2025-01-01 10:03:00"), 2L, "view", 8.0)).toDF(),
      3L, Seq("event_type"), "value", statPath))
    assert(graft.sources.Lake.readCommitted(spark, statPath).agg(sum(col("cnt"))).collect()
      .head.getLong(0) === 4L)
    // at NO point in this sweep was the table root missing or partial
    // (every readCommitted above succeeded)
  }

  test("cdcApplySink: streamed upserts+deletes maintain the snapshot, replay is a no-op") {
    val snap = java.nio.file.Files.createTempDirectory("graft-cdc").toString + "/snapshot.parquet"
    val chk = java.nio.file.Files.createTempDirectory("graft-cdc-chk").toString
    val input = MemoryStream[Event](spark)
    // delete convention for the test stream: negative value retracts the user
    val incoming = input.toDF()
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
      .withColumn("is_delete", col("value") < 0)
    val query = Streams.cdcApplySink(incoming, Seq("user_id"),
      versionCol = "event_id", deleteCol = "is_delete",
      snapshotPath = snap, checkpointDir = chk)
    try {
      input.addData(
        Event(10L, ts("2025-01-01 10:00:00"), 1L, "click", 1.0),
        Event(11L, ts("2025-01-01 10:01:00"), 2L, "view", 2.0))
      query.processAllAvailable()
      assert(rows(graft.sources.Lake.readCommitted(spark, snap).select("user_id", "event_id", "value")) ===
        Set(Seq(1L, 10L, 1.0), Seq(2L, 11L, 2.0)))
      // update user 1, retract user 2, insert user 3
      input.addData(
        Event(12L, ts("2025-01-01 10:02:00"), 1L, "click", 5.0),
        Event(13L, ts("2025-01-01 10:03:00"), 2L, "gone", -1.0),
        Event(14L, ts("2025-01-01 10:04:00"), 3L, "view", 7.0))
      query.processAllAvailable()
      assert(rows(graft.sources.Lake.readCommitted(spark, snap).select("user_id", "event_id", "value")) ===
        Set(Seq(1L, 12L, 5.0), Seq(3L, 14L, 7.0)))
    } finally query.stop()
    // replaying an applied batchId must skip; a fresh one applies —
    // both under the sink's checkpoint-derived lineage
    val lin = Streams.checkpointLineage(spark, chk)
    val replay = Seq((9L, 99L, "click", 9.0, false))
      .toDF("user_id", "event_id", "event_type", "value", "is_delete")
    val before = rows(graft.sources.Lake.readCommitted(spark, snap))
    assert(!Streams.applyCdcBatch(replay, 1L, Seq("user_id"), "event_id",
      "is_delete", snap, lin))
    assert(rows(graft.sources.Lake.readCommitted(spark, snap)) === before)
    assert(Streams.applyCdcBatch(replay, 2L, Seq("user_id"), "event_id",
      "is_delete", snap, lin))
    assert(graft.sources.Lake.readCommitted(spark, snap).where(col("user_id") === 9L).count() === 1)
  }

  test("scd2Sink: streamed changes maintain full history == replay; skip is effective") {
    val hist = java.nio.file.Files.createTempDirectory("graft-scd2").toString + "/history.parquet"
    val chk = java.nio.file.Files.createTempDirectory("graft-scd2-chk").toString
    val input = MemoryStream[Event](spark)
    def shape(df: org.apache.spark.sql.DataFrame) = df
      .select(col("user_id"), col("event_id"), col("value"))
      .withColumn("is_delete", col("value") < 0)
    val query = Streams.scd2Sink(shape(input.toDF()), Seq("user_id"),
      versionCol = "event_id", deleteCol = "is_delete",
      historyPath = hist, checkpointDir = chk)
    val allEvents = scala.collection.mutable.ArrayBuffer[Event]()
    try {
      val b1 = Seq(
        Event(10L, ts("2025-01-01 10:00:00"), 1L, "a", 1.0),
        Event(11L, ts("2025-01-01 10:01:00"), 2L, "a", 2.0),
        Event(12L, ts("2025-01-01 10:02:00"), 1L, "a", 3.0))
      val b2 = Seq( // update 1, DELETE 2, fresh key 3
        Event(13L, ts("2025-01-01 10:03:00"), 1L, "a", 4.0),
        Event(14L, ts("2025-01-01 10:04:00"), 2L, "a", -1.0),
        Event(15L, ts("2025-01-01 10:05:00"), 3L, "a", 7.0))
      for (b <- Seq(b1, b2)) {
        input.addData(b: _*); allEvents ++= b
        query.processAllAvailable()
        // the maintained history == full-log replay after every batch
        val expect = graft.operators.Cdc.history(
          shape(allEvents.toSeq.toDF()), Seq("user_id"), "event_id", "is_delete")
        assert(rows(graft.sources.Lake.readCommitted(spark, hist)) === rows(expect))
      }
    } finally query.stop()
    // the delete closed key 2's interval and left no current row
    val stored = graft.sources.Lake.readCommitted(spark, hist)
    assert(stored.where(col("user_id") === 2L && col("is_current")).count() === 0)
    assert(rows(stored.where(col("user_id") === 2L)
      .select("valid_from", "valid_to")) === Set(Seq(11L, 14L)))
    // replay skip under the sink's lineage; a fresh batchId applies
    val lin = Streams.checkpointLineage(spark, chk)
    val replay = Seq((9L, 99L, 9.0, false))
      .toDF("user_id", "event_id", "value", "is_delete")
    val before = rows(graft.sources.Lake.readCommitted(spark, hist))
    assert(!Streams.applyScd2Batch(replay, 1L, Seq("user_id"), "event_id",
      "is_delete", hist, lin))
    assert(rows(graft.sources.Lake.readCommitted(spark, hist)) === before)
    assert(Streams.applyScd2Batch(replay, 2L, Seq("user_id"), "event_id",
      "is_delete", hist, lin))
    assert(graft.sources.Lake.readCommitted(spark, hist)
      .where(col("user_id") === 9L && col("is_current")).count() === 1)
  }

  test("checkpoint recreation mints a new lineage: the stat table rebuilds, not double-counts") {
    val statPath = java.nio.file.Files.createTempDirectory("graft-lin").toString + "/stats.parquet"
    val chk1 = java.nio.file.Files.createTempDirectory("graft-lin-chk1").toString
    val events = Seq(
      Event(1L, ts("2025-01-01 10:00:00"), 1L, "click", 1.5),
      Event(2L, ts("2025-01-01 10:01:00"), 1L, "view", 2.0))
    val input1 = MemoryStream[Event](spark)
    val q1 = Streams.statRefreshSink(input1.toDF(), Seq("event_type"), "value",
      statPath, chk1)
    try { input1.addData(events: _*); q1.processAllAvailable() } finally q1.stop()
    val expect = rows(graft.operators.Incremental.partials(
      events.toDF(), Seq("event_type"), "value"))
    assert(rows(graft.sources.Lake.readCommitted(spark, statPath)) === expect)
    // the user deletes the checkpoint; a NEW stream replays the same
    // source from its own batch 0. Pre-fix, batchId 0 <= the old
    // high-water mark silently swallowed the batch (stale table) —
    // and without the lineage-scoped mark every replayed batch would
    // fold ON TOP of stored state, double-counting history. Post-fix
    // the sink derives a fresh lineage from the recreated checkpoint
    // and the first apply REBUILDS the table from the new stream.
    val chk2 = java.nio.file.Files.createTempDirectory("graft-lin-chk2").toString
    val input2 = MemoryStream[Event](spark)
    val q2 = Streams.statRefreshSink(input2.toDF(), Seq("event_type"), "value",
      statPath, chk2)
    try { input2.addData(events: _*); q2.processAllAvailable() } finally q2.stop()
    assert(Streams.checkpointLineage(spark, chk1) !==
      Streams.checkpointLineage(spark, chk2))
    // identical replayed source => identical table; a double-count
    // would have doubled cnt/sums
    assert(rows(graft.sources.Lake.readCommitted(spark, statPath)) === expect)
  }

  test("legacy pre-manifest tables: bare markers keep replay-skip, contents migrate in place") {
    import org.apache.hadoop.fs.Path
    val statPath = java.nio.file.Files.createTempDirectory("graft-bare").toString + "/stats.parquet"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(statPath), spark.sparkContext.hadoopConfiguration)
    // a table as the pre-manifest rename-based fold left it: parquet
    // files at the top level plus a bare pre-lineage marker
    graft.operators.Incremental.partials(
        Seq(Event(1L, ts("2025-01-01 10:00:00"), 1L, "click", 1.0)).toDF(),
        Seq("event_type"), "value")
      .write.mode("overwrite").parquet(statPath)
    fs.rename(new Path(statPath, "_SUCCESS"), new Path(statPath, "_applied_5"))
    val before = rows(spark.read.parquet(statPath))
    // an at-upgrade crash replay of batchId 5 must SKIP (the bare
    // marker maps to the default lineage), not re-fold on top
    assert(!Streams.applyStatBatch(
      Seq(Event(1L, ts("2025-01-01 10:00:00"), 1L, "click", 1.0)).toDF(),
      5L, Seq("event_type"), "value", statPath))
    assert(rows(spark.read.parquet(statPath)) === before)
    // the SINK-UPGRADE path: the surviving checkpoint's sink now
    // derives a query-id lineage. Bare markers are wildcards, so the
    // replay still skips under the NEW lineage...
    assert(!Streams.applyStatBatch(
      Seq(Event(1L, ts("2025-01-01 10:00:00"), 1L, "click", 1.0)).toDF(),
      5L, Seq("event_type"), "value", statPath,
      lineage = "0f0f0f0f-cafe-cafe-cafe-0123456789ab"))
    assert(rows(spark.read.parquet(statPath)) === before)
    // ...and the next batch FOLDS ON TOP of the legacy contents (a
    // foreign-lineage bootstrap here would wipe all folded history),
    // migrating the table to the manifest layout and sweeping the
    // superseded files
    assert(Streams.applyStatBatch(
      Seq(Event(2L, ts("2025-01-01 10:01:00"), 1L, "click", 3.0)).toDF(),
      6L, Seq("event_type"), "value", statPath,
      lineage = "0f0f0f0f-cafe-cafe-cafe-0123456789ab"))
    val migrated = graft.sources.Lake.readCommitted(spark, statPath)
    assert(migrated.where(col("event_type") === "click")
      .select("cnt").collect().head.getLong(0) === 2L)
    // legacy top-level parquet files are gone; the manifest owns the root
    assert(!fs.listStatus(new Path(statPath)).exists(f =>
      f.isFile && f.getPath.getName.endsWith(".parquet")))
  }

  test("statRefreshSink E2E: a RECREATED checkpoint at the same path rebuilds, never double-counts") {
    val statPath = java.nio.file.Files.createTempDirectory("graft-e2e").toString + "/stats.parquet"
    val chk = java.nio.file.Files.createTempDirectory("graft-e2e-chk").toString
    val events = Seq(
      Event(1L, ts("2025-01-01 10:00:00"), 1L, "click", 1.5),
      Event(2L, ts("2025-01-01 10:01:00"), 1L, "view", 2.0),
      Event(3L, ts("2025-01-01 10:02:00"), 2L, "click", 4.0))
    val expect = rows(graft.operators.Incremental.partials(
      events.toDF(), Seq("event_type"), "value"))
    val input1 = MemoryStream[Event](spark)
    val q1 = Streams.statRefreshSink(input1.toDF(), Seq("event_type"), "value",
      statPath, chk)
    try { input1.addData(events: _*); q1.processAllAvailable() } finally q1.stop()
    assert(rows(graft.sources.Lake.readCommitted(spark, statPath)) === expect)
    // the user deletes the checkpoint DIRECTORY ITSELF and restarts at
    // the SAME path — Spark mints a new query id, batchIds restart at
    // 0, and the source replays from the beginning. The fold must
    // detect the lineage change and REBUILD the table from the new
    // stream (equality with a fresh recompute), not fold the replayed
    // batches on top of the already-folded state (double-count) nor
    // swallow them under the old high-water mark (stale table).
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(chk), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(chk), true)
    val input2 = MemoryStream[Event](spark)
    val q2 = Streams.statRefreshSink(input2.toDF(), Seq("event_type"), "value",
      statPath, chk)
    try { input2.addData(events: _*); q2.processAllAvailable() } finally q2.stop()
    assert(rows(graft.sources.Lake.readCommitted(spark, statPath)) === expect)
  }

  test("scd2Sink E2E: a RECREATED checkpoint rebuilds the history, never double-splices") {
    val hist = java.nio.file.Files.createTempDirectory("graft-scd2-e2e").toString + "/history.parquet"
    val chk = java.nio.file.Files.createTempDirectory("graft-scd2-e2e-chk").toString
    def shape(df: org.apache.spark.sql.DataFrame) = df
      .select(col("user_id"), col("event_id"), col("value"))
      .withColumn("is_delete", col("value") < 0)
    val events = Seq(
      Event(10L, ts("2025-01-01 10:00:00"), 1L, "a", 1.0),
      Event(11L, ts("2025-01-01 10:01:00"), 1L, "a", 2.0),
      Event(12L, ts("2025-01-01 10:02:00"), 2L, "a", -1.0))
    val expect = rows(graft.operators.Cdc.history(
      shape(events.toDF()), Seq("user_id"), "event_id", "is_delete"))
    val input1 = MemoryStream[Event](spark)
    val q1 = Streams.scd2Sink(shape(input1.toDF()), Seq("user_id"),
      "event_id", "is_delete", hist, chk)
    try { input1.addData(events: _*); q1.processAllAvailable() } finally q1.stop()
    assert(rows(graft.sources.Lake.readCommitted(spark, hist)) === expect)
    // checkpoint deleted, source replays from the beginning under a
    // new query id: the replayed versions are NOT after the stored
    // ones, so folding on top would either double-splice or trip the
    // monotone guard — the lineage change must trigger a REBUILD from
    // the new stream instead, landing on the identical history
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(chk), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(chk), true)
    val input2 = MemoryStream[Event](spark)
    val q2 = Streams.scd2Sink(shape(input2.toDF()), Seq("user_id"),
      "event_id", "is_delete", hist, chk)
    try { input2.addData(events: _*); q2.processAllAvailable() } finally q2.stop()
    assert(rows(graft.sources.Lake.readCommitted(spark, hist)) === expect)
  }

  test("statRefreshSink E2E: restart over a pre-lineage-marker table folds on top, keeps data") {
    import org.apache.hadoop.fs.Path
    val statPath = java.nio.file.Files.createTempDirectory("graft-e2e-up").toString + "/stats.parquet"
    val chk = java.nio.file.Files.createTempDirectory("graft-e2e-up-chk").toString
    val b1 = Seq(
      Event(1L, ts("2025-01-01 10:00:00"), 1L, "click", 1.5),
      Event(2L, ts("2025-01-01 10:01:00"), 1L, "view", 2.0))
    val b2 = Seq(Event(3L, ts("2025-01-01 10:02:00"), 2L, "click", 4.0))
    val input = MemoryStream[Event](spark)
    val q1 = Streams.statRefreshSink(input.toDF(), Seq("event_type"), "value",
      statPath, chk)
    try { input.addData(b1: _*); q1.processAllAvailable() } finally q1.stop()
    // simulate a table written BEFORE markers carried lineages: strip
    // the lineage suffix off the stored marker (bare `_applied_<id>`)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(statPath), spark.sparkContext.hadoopConfiguration)
    val vdir = new Path(graft.sources.Lake.resolve(spark, statPath).head)
    fs.listStatus(vdir).map(_.getPath).filter(_.getName.startsWith("_applied_"))
      .foreach { p =>
        val bare = "_applied_" + p.getName.stripPrefix("_applied_").split("_")(0)
        assert(fs.rename(p, new Path(vdir, bare)))
      }
    // restart from the SURVIVING checkpoint (batchIds continue at 1):
    // bare markers wildcard-match the derived lineage, so the sink
    // folds the new batch ON TOP of the pre-lineage contents — an
    // upgrade must never bootstrap away existing data
    val q2 = Streams.statRefreshSink(input.toDF(), Seq("event_type"), "value",
      statPath, chk)
    try { input.addData(b2: _*); q2.processAllAvailable() } finally q2.stop()
    assert(rows(graft.sources.Lake.readCommitted(spark, statPath)) ===
      rows(graft.operators.Incremental.partials(
        (b1 ++ b2).toDF(), Seq("event_type"), "value")))
  }

  test("dedupAppendSinkCommitted refuses a legacy plain-parquet table at root") {
    val root = java.nio.file.Files.createTempDirectory("graft-sink-legacy").toString + "/news.parquet"
    val chk = java.nio.file.Files.createTempDirectory("graft-sink-legacy-chk").toString
    // a dedupAppendSink target being migrated: plain parquet, no manifest
    Seq(Event(1L, ts("2025-01-01 10:00:00"), 1L, "click", 1.0)).toDF()
      .write.mode("overwrite").parquet(root)
    val legacyRows = rows(spark.read.parquet(root))
    val input = MemoryStream[Event](spark)
    val query = Streams.dedupAppendSinkCommitted(input.toDF(), Seq("event_id"), root, chk)
    try {
      input.addData(Event(1L, ts("2025-01-01 10:00:00"), 1L, "click", 9.9))
      // the guard fails the first micro-batch with migration
      // instructions, instead of re-appending key 1 into v0 and
      // hiding the legacy rows from readCommitted
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        query.processAllAvailable()
      }
      def msgs(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
      assert(msgs(e).exists(_.contains("plain parquet table")))
    } finally query.stop()
    // the legacy table is untouched — no partial v0, no lost rows
    assert(rows(spark.read.parquet(root)) === legacyRows)
    assert(graft.sources.Lake.currentVersion(spark, root).isEmpty)
  }

  test("a manual fold against a checkpointed sink's table refuses instead of wiping it") {
    val statPath = java.nio.file.Files.createTempDirectory("graft-manual").toString + "/stats.parquet"
    val chk = java.nio.file.Files.createTempDirectory("graft-manual-chk").toString
    val events = Seq(
      Event(1L, ts("2025-01-01 10:00:00"), 1L, "click", 1.5),
      Event(2L, ts("2025-01-01 10:01:00"), 1L, "view", 2.0))
    val input = MemoryStream[Event](spark)
    val q = Streams.statRefreshSink(input.toDF(), Seq("event_type"), "value", statPath, chk)
    try { input.addData(events: _*); q.processAllAvailable() } finally q.stop()
    val before = rows(graft.sources.Lake.readCommitted(spark, statPath))
    // the table's markers all carry the sink's query-id lineage; a
    // direct applyStatBatch (default lineage "manual") would have
    // bootstrapped — discarding ALL stored state and committing just
    // this one batch. It must throw instead.
    val stray = Seq(Event(9L, ts("2025-01-01 11:00:00"), 9L, "click", 99.0)).toDF()
    val e = intercept[IllegalStateException] {
      Streams.applyStatBatch(stray, 0L, Seq("event_type"), "value", statPath)
    }
    assert(e.getMessage.contains("checkpointed sink"))
    assert(rows(graft.sources.Lake.readCommitted(spark, statPath)) === before)
    // the owning sink's lineage still folds on top normally
    val lin = Streams.checkpointLineage(spark, chk)
    assert(Streams.applyStatBatch(stray, 99L, Seq("event_type"), "value", statPath, lin))
    assert(rows(graft.sources.Lake.readCommitted(spark, statPath)) !== before)
  }

  test("fold version allocation skips past defensively-ignored manifests (no wedged sink)") {
    import org.apache.hadoop.fs.Path
    val statPath = java.nio.file.Files.createTempDirectory("graft-wedge").toString + "/stats.parquet"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(statPath), spark.sparkContext.hadoopConfiguration)
    assert(Streams.applyStatBatch(
      Seq(Event(1L, ts("2025-01-01 10:00:00"), 1L, "click", 1.0)).toDF(),
      0L, Seq("event_type"), "value", statPath))
    assert(Streams.applyStatBatch(
      Seq(Event(2L, ts("2025-01-01 10:01:00"), 1L, "view", 2.0)).toDF(),
      1L, Seq("event_type"), "value", statPath))
    // half-vacuumed root: the HIGHEST manifest's data dirs are lost,
    // so reads resolve the older snapshot — but _commit_1 still owns
    // its number. Pre-fix, the next fold allocated currentVersion+1 =
    // 1 and renamed onto the existing marker — fatal on HDFS on every
    // replay (a permanently wedged sink).
    fs.delete(new Path(statPath + "/v1"), true)
    assert(graft.sources.Lake.currentVersion(spark, statPath) === Some(0L))
    assert(Streams.applyStatBatch(
      Seq(Event(3L, ts("2025-01-01 10:02:00"), 2L, "click", 4.0)).toDF(),
      2L, Seq("event_type"), "value", statPath))
    // the fold allocated PAST the dead marker: version 2, not 1
    assert(graft.sources.Lake.currentVersion(spark, statPath) === Some(2L))
    assert(fs.exists(new Path(statPath, "_commit_2")))
    // and the fold applied on top of the RESOLVED (v0) snapshot
    assert(graft.sources.Lake.readCommitted(spark, statPath)
      .agg(sum(col("cnt"))).collect().head.getLong(0) === 2L)
  }

  test("cdcMergeSinkCommitted: copy-on-write merges per micro-batch; replay is version-stable") {
    val root = java.nio.file.Files.createTempDirectory("graft-cow").toString + "/snapshot"
    val chk = java.nio.file.Files.createTempDirectory("graft-cow-chk").toString
    val input = MemoryStream[Event](spark)
    val incoming = input.toDF()
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
      .withColumn("is_delete", col("value") < 0)
    val query = Streams.cdcMergeSinkCommitted(incoming, Seq("user_id"),
      versionCol = "event_id", deleteCol = "is_delete",
      root = root, checkpointDir = chk)
    try {
      // bootstrap batch
      input.addData(
        Event(10L, ts("2025-01-01 10:00:00"), 1L, "click", 1.0),
        Event(11L, ts("2025-01-01 10:01:00"), 2L, "view", 2.0))
      query.processAllAvailable()
      assert(rows(graft.sources.Lake.readCommitted(spark, root)
        .select("user_id", "event_id", "value")) ===
        Set(Seq(1L, 10L, 1.0), Seq(2L, 11L, 2.0)))
      // update user 1, retract user 2, insert user 3
      input.addData(
        Event(12L, ts("2025-01-01 10:02:00"), 1L, "click", 5.0),
        Event(13L, ts("2025-01-01 10:03:00"), 2L, "gone", -1.0),
        Event(14L, ts("2025-01-01 10:04:00"), 3L, "view", 7.0))
      query.processAllAvailable()
      assert(rows(graft.sources.Lake.readCommitted(spark, root)
        .select("user_id", "event_id", "value")) ===
        Set(Seq(1L, 12L, 5.0), Seq(3L, 14L, 7.0)))
    } finally query.stop()
    val vAfter = graft.sources.Lake.currentVersion(spark, root)
    val before = rows(graft.sources.Lake.readCommitted(spark, root))
    // crash-replay of batch 2, directly through the merge: every
    // upsert is stale against the row it already wrote, the delete's
    // key is already gone — version-guarded CDC apply is IDEMPOTENT,
    // so the replay commits nothing and the version doesn't churn
    // (effectively-once with NO applied-batch marker)
    val replay = Seq(
      (1L, 12L, "click", 5.0, false),
      (2L, 13L, "gone", -1.0, true),
      (3L, 14L, "view", 7.0, false)
    ).toDF("user_id", "event_id", "event_type", "value", "is_delete")
    graft.sources.Lake.mergeCommitted(spark, root, replay, Seq("user_id"),
      "event_id", "is_delete", guardVersions = true)
    assert(graft.sources.Lake.currentVersion(spark, root) === vAfter)
    assert(rows(graft.sources.Lake.readCommitted(spark, root)) === before)
    // and a genuinely new change still applies on top
    graft.sources.Lake.mergeCommitted(spark, root,
      Seq((3L, 15L, "view", 8.0, false))
        .toDF("user_id", "event_id", "event_type", "value", "is_delete"),
      Seq("user_id"), "event_id", "is_delete", guardVersions = true)
    assert(rows(graft.sources.Lake.readCommitted(spark, root)
      .select("user_id", "event_id", "value")) ===
      Set(Seq(1L, 12L, 5.0), Seq(3L, 15L, 8.0)))
  }

  test("lake maintenance on a fold table preserves the effectively-once markers") {
    val statPath = java.nio.file.Files.createTempDirectory("graft-compact-fold").toString + "/stats.parquet"
    assert(Streams.applyStatBatch(
      Seq(Event(1L, ts("2025-01-01 10:00:00"), 1L, "click", 1.0)).toDF(),
      0L, Seq("event_type"), "value", statPath))
    assert(Streams.applyStatBatch(
      Seq(Event(2L, ts("2025-01-01 10:01:00"), 1L, "view", 2.0)).toDF(),
      1L, Seq("event_type"), "value", statPath))
    val before = rows(graft.sources.Lake.readCommitted(spark, statPath))
    // compaction replaces the fold's version dir — the replay marker
    // must ride along, or the table silently re-opens to double-folds
    graft.sources.Lake.compactCommitted(spark, statPath)
    assert(rows(graft.sources.Lake.readCommitted(spark, statPath)) === before)
    // crash-replay of the already-applied batch still SKIPS...
    assert(!Streams.applyStatBatch(
      Seq(Event(2L, ts("2025-01-01 10:01:00"), 1L, "view", 2.0)).toDF(),
      1L, Seq("event_type"), "value", statPath))
    assert(rows(graft.sources.Lake.readCommitted(spark, statPath)) === before)
    // ...and a genuinely new batch folds on top
    assert(Streams.applyStatBatch(
      Seq(Event(3L, ts("2025-01-01 10:02:00"), 2L, "click", 4.0)).toDF(),
      2L, Seq("event_type"), "value", statPath))
    assert(rows(graft.sources.Lake.readCommitted(spark, statPath)) !== before)
  }

  test("dedupWithinWatermark drops key repeats inside the horizon") {
    val input = MemoryStream[Event](spark)
    val query = Streams.dedupWithinWatermark(input.toDF(), Seq("event_id"), "2 hours")
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode(OutputMode.Append()).start()
    try {
      input.addData(
        Event(1L, ts("2025-01-01 10:00:00"), 1L, "click", 1.0),
        Event(1L, ts("2025-01-01 10:01:00"), 1L, "click", 1.0), // dup key
        Event(2L, ts("2025-01-01 10:02:00"), 1L, "view", 2.0))
      query.processAllAvailable()
      assert(spark.table("dedup_out").select("event_id").as[Long].collect().sorted
        === Array(1L, 2L))
    } finally query.stop()
  }
}
