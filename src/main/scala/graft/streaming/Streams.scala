package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Structured Streaming surface of the engine.
  *
  * The reference's "streaming" is a whole-pipeline re-run every 20
  * minutes with `catchup=False` (/root/reference/dags/Main.py:23-24) —
  * no watermarks, no late data, no incremental state. This package is
  * the idiomatic upgrade (SURVEY.md §2.8): the same operators as the
  * batch catalog, expressed over an unbounded source so a 100 TB/day
  * feed is processed incrementally instead of rescanned.
  *
  * Every transform here takes a plain DataFrame, so it composes with
  * BOTH `spark.readStream` (incremental) and `spark.read` (batch) —
  * which is how the harness oracle checks the semantics (batch twins in
  * [[graft.queries.Events]]) while StreamingSpec drives the incremental
  * path through a MemoryStream.
  */
object Streams {

  /** `events` table schema (ts already converted to TIMESTAMP; the
    * parquet NANOS→LONG quirk is handled in [[graft.sources.Tables]]). */
  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Unbounded file source over an events directory: new parquet files
    * are discovered per micro-batch. `maxFilesPerTrigger` bounds batch
    * size so executor memory is independent of backlog depth. */
  def readEventStream(spark: SparkSession, dir: String, maxFilesPerTrigger: Int = 16): DataFrame =
    spark.readStream
      .schema(eventSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(dir)

  /** Tumbling-window counts/sums per event type with a watermark: state
    * for windows older than `watermark` is dropped, so state size is
    * O(active windows), not O(stream length). Batch twin: q22.
    *
    * The sum accumulates as DECIMAL(18,2), not raw double: incremental
    * state-merge order (partial per micro-batch) differs from the batch
    * twin's one-pass order, and double addition is non-associative —
    * DECIMAL makes the stream result bit-equal to the batch twin
    * regardless of how files split into micro-batches (same policy as
    * the q22 oracle). */
  def tumblingAgg(events: DataFrame, windowDur: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast(DecimalType(18, 2))).cast("double").as("total_value"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n"), col("total_value"))

  /** Sliding-window variant (overlapping windows; each event lands in
    * windowDur/slide windows — state cost scales with the overlap). */
  def slidingAgg(events: DataFrame, windowDur: String = "1 hour",
      slide: String = "15 minutes", watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowDur, slide), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(
        col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n"))

  /** Streaming dedup on the natural key, state bounded by the
    * watermark — the incremental form of the reference's anti-join
    * load dedup (/root/reference/dags/Load.py:21-25): instead of
    * rescanning the whole `news` base every 20 minutes, each key is
    * held in state only for the watermark horizon. */
  def dedupWithinWatermark(events: DataFrame, keys: Seq[String],
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  // ------------------------------------------------- custom state (typed)

  case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)
  case class SessionState(startUs: Long, endUs: Long, n: Long)
  case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long)
  case class FunnelState(stepUs: Seq[Long])
  case class FunnelOut(user_id: Long, step_us: Seq[Long], steps_reached: Int)

  /** Gap-based sessionization via flatMapGroupsWithState — the custom
    * arbitrary-state operator (KeyValueGroupedDataset surface) for
    * session semantics `session_window` can't express (e.g. carrying
    * per-session aggregates or emitting on custom close rules).
    *
    * Batch semantics (how the spec checks it): each key's full iterator
    * arrives in one call, is sorted in-memory per group, and split on
    * the gap — equivalent to [[graft.operators.Sessionize.sessions]].
    * Streaming semantics: open sessions persist in GroupState and close
    * via event-time timeout once the watermark passes the gap horizon.
    */
  def statefulSessions(events: Dataset[Event], gapSeconds: Long,
      watermark: String = "2 hours"): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val gapUs = gapSeconds * 1000000L
    // plain Boolean captured by the closure — never the Dataset itself
    val streaming = events.isStreaming

    // full-microsecond Timestamp⇄Long conversion (Timestamp.getTime is
    // millis-truncated; the events table has µs-resolution timestamps)
    def toUs(t: java.sql.Timestamp): Long = {
      val i = t.toInstant
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    }
    def toTs(us: Long): java.sql.Timestamp = {
      val sec = Math.floorDiv(us, 1000000L)
      val micro = Math.floorMod(us, 1000000L)
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(sec, micro * 1000L))
    }

    def emit(userId: Long, s: SessionState): SessionOut =
      SessionOut(userId, toTs(s.startUs), toTs(s.endUs), s.n)

    def flush(userId: Long, sorted: Seq[Long], state: GroupState[SessionState]): Iterator[SessionOut] = {
      var open = state.getOption
      val out = Seq.newBuilder[SessionOut]
      sorted.foreach { us =>
        open match {
          case Some(s) if us - s.endUs <= gapUs =>
            // min/max, not assignment: a LATE event (>= watermark but
            // older than the open session's end) arriving in a later
            // micro-batch must extend the bounds, never move the end
            // backwards — endUs = us would emit end < start and
            // wrongly split the next on-time event into a new session
            open = Some(SessionState(
              math.min(s.startUs, us), math.max(s.endUs, us), s.n + 1))
          case Some(s) =>
            out += emit(userId, s)
            open = Some(SessionState(us, us, 1))
          case None =>
            open = Some(SessionState(us, us, 1))
        }
      }
      open.foreach { s =>
        if (streaming) {
          // keep the tail session open; event-time timeout closes it
          // once the watermark passes endTs + gap
          state.update(s)
          state.setTimeoutTimestamp(s.endUs / 1000 + gapSeconds * 1000)
        } else {
          // batch: no further input can extend it — close now
          out += emit(userId, s)
          if (state.exists) state.remove()
        }
      }
      out.result().iterator
    }

    // EventTimeTimeout requires a watermark on the streaming input
    val src = if (streaming) events.withWatermark("ts", watermark) else events
    src
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId, it, state) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(emit(userId, s))
          } else {
            flush(userId, it.map(e => toUs(e.ts)).toSeq.sorted, state)
          }
      }
  }

  /** Multi-step funnel via flatMapGroupsWithState — the streaming twin
    * of [[graft.operators.Funnel.funnel]] (whose batch form is q80's
    * oracle-checked catalog entry).
    *
    * Batch semantics: each key's events arrive as ONE (ts, event_id)-
    * sorted fold, and the first-qualifying-event rule equals the window
    * formulation's min-over-qualifying — FunnelSpec asserts equality
    * against [[graft.operators.Funnel.funnel]] on the same input.
    *
    * Streaming semantics (Update mode): state is the per-step earliest
    * qualifying event-time — one fixed-width Seq[Long] per user,
    * O(steps) not O(events). Each micro-batch folds its sorted slice
    * into the state and emits the refined snapshot. Qualification
    * compares EVENT time (`state(i-1) <= ts`), so a late-arriving event
    * is still ordered correctly against already-reached steps; the one
    * deviation from batch is that an event processed in an EARLIER
    * micro-batch is not re-qualified retroactively when a late
    * predecessor lands (that would need the full per-user event history
    * in state — unbounded, unlike the gap-bounded session state). For
    * in-order delivery the incremental result equals the batch result
    * exactly. */
  def statefulFunnel(
      events: Dataset[Event], steps: Seq[String]): Dataset[FunnelOut] = {
    import events.sparkSession.implicits._
    require(steps.nonEmpty, "steps must be non-empty")
    require(steps.distinct.size == steps.size, s"duplicate step types: $steps")
    val UNSET = Long.MinValue
    val stepIdx = steps.zipWithIndex.toMap
    def toUs(t: java.sql.Timestamp): Long = {
      val i = t.toInstant
      i.getEpochSecond * 1000000L + i.getNano / 1000L
    }
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelState, FunnelOut](
        OutputMode.Update(), GroupStateTimeout.NoTimeout()) {
        (userId, it, state) =>
          val cur = state.getOption.map(_.stepUs.toArray)
            .getOrElse(Array.fill(steps.size)(UNSET))
          it.toSeq
            .filter(e => stepIdx.contains(e.event_type))
            .sortBy(e => (toUs(e.ts), e.event_id))
            .foreach { e =>
              val i = stepIdx(e.event_type)
              val us = toUs(e.ts)
              val qualifies = i == 0 || (cur(i - 1) != UNSET && cur(i - 1) <= us)
              if (qualifies && (cur(i) == UNSET || us < cur(i))) cur(i) = us
            }
          state.update(FunnelState(cur.toSeq))
          val prefix = cur.takeWhile(_ != UNSET).toSeq
          Iterator(FunnelOut(userId, prefix, prefix.size))
      }
  }

  /** Stream-static enrichment: join the unbounded stream with a
    * static dimension — the incremental form of the reference's
    * per-run dim lookups (/root/reference/dags/Transform.py:36-47).
    * The static side is planned per micro-batch (so a refreshed dim
    * table is picked up) and broadcast to the stream side; no stream
    * state is kept.
    *
    * Miss semantics are EXPLICIT because the batch path fails loudly on
    * a dim miss (Transform.py:44-46 raise → [[graft.newsmaper.Newsmaper.load]]'s
    * raise_error) and a streaming inner join would silently drop the
    * row instead:
    *  - "drop" — inner join; a stale dim silently loses events
    *  - "keep" — left join; missed rows carry NULL dim columns for a
    *    downstream quarantine
    *  - "fail" — left join + raise_error; the batch-faithful semantic
    *    (the query stops, the checkpoint replays the batch after the
    *    dim is fixed — no data loss). The guard rides the first non-key
    *    dim column, so it fires in any plan that reads dim columns
    *    (i.e. every real enrichment consumer); a plan that prunes ALL
    *    dim columns skips it — same laziness as the batch load guard. */
  def enrich(stream: DataFrame, dim: DataFrame, keys: Seq[String],
      onMiss: String = "drop"): DataFrame = {
    require(Set("drop", "keep", "fail")(onMiss), s"onMiss must be drop|keep|fail, got $onMiss")
    onMiss match {
      case "drop" => stream.join(broadcast(dim), keys)
      case "keep" => stream.join(broadcast(dim), keys, "left_outer")
      case "fail" =>
        val probe = dim.columns.filterNot(keys.contains).headOption.getOrElse(
          throw new IllegalArgumentException("dim needs a non-key column to probe misses"))
        stream.join(broadcast(dim), keys, "left_outer")
          .withColumn(probe, coalesce(col(probe),
            raise_error(concat(lit("enrich miss for keys "),
              concat_ws(",", keys.map(col): _*))).cast(dim.schema(probe).dataType)))
    }
  }

  /** Watermarked stream-STREAM interval join: pair each left event
    * with the right-side events of the same key whose event time falls
    * in `[left.ts − within, left.ts]` — the attribution shape
    * (click ⋈ recent impressions, span ⋈ preceding trace events).
    *
    * Both sides carry a watermark and the join condition bounds the
    * two event times against each other, so the state store retains
    * each side only for `watermark + within` — bounded state, the
    * requirement for an unbounded 100 TB/day pair of feeds. Without
    * the time bound Spark rightly refuses the join (state would be
    * infinite).
    *
    * Works unchanged on BATCH frames (the watermark node is eliminated
    * in batch planning), where Catalyst executes it as a sort-merge
    * join on the key with the range as a join predicate — which is how
    * the catalog's batch twin hash-checks the semantics against the
    * DuckDB oracle while StreamingSpec drives the incremental path.
    *
    * Column contract: key columns must share names across the sides;
    * all other columns (including the two ts columns) must be
    * disjoint. Output = key columns once, then both sides' payloads.
    *
    * @param within right.ts may trail left.ts by at most this interval
    *               (e.g. "30 minutes") */
  def intervalJoin(
      left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTsCol: String, rightTsCol: String, within: String,
      watermark: String, joinType: String = "inner"): DataFrame = {
    require(keys.nonEmpty, "intervalJoin needs at least one equality key")
    // outer variants are legal for stream-stream joins precisely
    // because both sides carry a watermark AND the condition bounds
    // the time range: Spark can prove when an unmatched row will never
    // match and emit it with NULLs at watermark passage — without
    // both, an outer row could never be finalized
    val allowed = Set("inner", "left_outer", "right_outer", "full_outer")
    require(allowed(joinType),
      s"joinType must be one of ${allowed.mkString(", ")}, got '$joinType'")
    val overlap = (left.columns.toSet -- keys)
      .intersect(right.columns.toSet -- keys)
    require(overlap.isEmpty,
      s"non-key columns must be disjoint across sides, clash: ${overlap.mkString(", ")}")
    val l = left.withWatermark(leftTsCol, watermark)
    val r = keys.foldLeft(right.withWatermark(rightTsCol, watermark)) {
      (d, k) => d.withColumnRenamed(k, s"__r_$k")
    }
    val cond = keys.map(k => col(k) === col(s"__r_$k")).reduce(_ && _) &&
      col(rightTsCol) >= col(leftTsCol) - expr(s"INTERVAL $within") &&
      col(rightTsCol) <= col(leftTsCol)
    // on outer sides the key columns come back NULL for unmatched
    // rows of the OTHER side — coalesce each key pair so the caller
    // sees ONE key column populated from whichever side has the row
    val joined = l.join(r, cond, joinType)
    keys.foldLeft(joined) { (d, k) =>
      d.withColumn(k, coalesce(col(k), col(s"__r_$k")))
    }.drop(keys.map(k => s"__r_$k"): _*)
  }

  /** Dedup-append sink via foreachBatch — the incremental form of the
    * reference's load (/root/reference/dags/Load.py:21-28): each
    * micro-batch anti-joins on the natural key against the CURRENT
    * on-disk base and appends only unseen rows. Combined with the
    * checkpoint, a restarted query reprocessing a batch appends
    * nothing (the base already holds those keys) — effectively-once
    * without rescanning the base on a schedule like the reference
    * does. State lives in the base table itself, so unlike
    * `dropDuplicatesWithinWatermark` the key horizon is unbounded.
    * Each micro-batch is also deduplicated WITHIN itself, so "each key
    * appears once in the base" holds even when one batch carries the
    * same natural key twice (the kept row per duplicated key is
    * arbitrary, matching the at-least-once source contract).
    * @return the started query; caller manages lifecycle */
  def dedupAppendSink(
      incoming: DataFrame, keys: Seq[String], path: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    incoming.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.operators.Dedup.newRowsVsBase(batch, path, keys)
          .write.mode("append").parquet(path)
        ()
      }
      .start()

  /** [[dedupAppendSink]] against a manifest-committed table ROOT
    * ([[graft.sources.Lake]]): each micro-batch's unseen rows commit
    * as a new snapshot via [[graft.sources.Lake.commitAppend]] —
    * O(batch) data written, base never rewritten, and readers never
    * see a partially-appended batch (the plain sink's parquet append
    * exposes part-files as they land; here the batch flips in with
    * one atomic manifest rename). Effectively-once needs no marker:
    * the anti-join against the live snapshot makes a replayed batch
    * commit nothing. Read the table with `Lake.readCommitted`.
    *
    * Each micro-batch is one call to the lake's insert-if-absent
    * append (the body `Newsmaper.loadToCommitted` uses): dedup,
    * anti-join, count and staging write run as one execution, with
    * nothing cached, on an unpartitioned table without CHECK
    * constraints, generated columns, identity or row tracking. A
    * zero-fresh batch commits nothing.
    *
    * A plain-parquet table at `root` (a [[dedupAppendSink]] target
    * being migrated) is REFUSED, not treated as empty: silently
    * ignoring it would re-append its keys into v0 and hide its rows
    * from `readCommitted`. The check runs in each micro-batch before
    * the manifest exists (cheap: one listStatus) and fails the query
    * with the migration instructions.
    * @return the started query; caller manages lifecycle */
  def dedupAppendSinkCommitted(
      incoming: DataFrame, keys: Seq[String], root: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    incoming.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.sources.Lake.appendAbsent(batch, keys, root)
        ()
      }
      .start()

  /** One stat-refresh round, factored out of [[statRefreshSink]] so
    * idempotence is directly testable: fold `batch`'s partials into
    * the stat table at `statPath` UNLESS `batchId` was already
    * applied. The applied-batch marker (`_applied_<id>`) is written
    * into the STAGING dir before the swap, so the fold and its marker
    * become visible in the same rename — a replayed micro-batch after
    * a crash sees its own marker and skips, which is what upgrades
    * foreachBatch's at-least-once contract to effectively-once for a
    * NON-idempotent fold (the dedup-append sink above doesn't need
    * this because an anti-join replay appends nothing; a stat fold
    * replay would double-count).
    * @return true if the batch was applied, false if skipped */
  def applyStatBatch(batch: DataFrame, batchId: Long, groupCols: Seq[String],
      valueCol: String, statPath: String,
      lineage: String = "manual"): Boolean =
    foldWithMarker(batch.sparkSession, statPath, batchId, lineage) { stored =>
      val partials = graft.operators.Incremental.partials(batch, groupCols, valueCol)
      stored.map(graft.operators.Incremental.merge(_, partials, groupCols))
        .getOrElse(partials)
    }

  /** Same contract for the q99 CDC merge: fold a versioned
    * upsert+delete batch into the stored snapshot, skipping already-
    * applied batchIds. `changes` = snapshot schema + `deleteCol`; a
    * first batch against a missing snapshot applies to an empty base
    * (pure upserts survive). */
  def applyCdcBatch(changes: DataFrame, batchId: Long, keyCols: Seq[String],
      versionCol: String, deleteCol: String, snapshotPath: String,
      lineage: String = "manual"): Boolean =
    foldWithMarker(changes.sparkSession, snapshotPath, batchId, lineage) { stored =>
      val base = stored.getOrElse(changes.drop(deleteCol).where(lit(false)))
      graft.operators.Cdc.applyChanges(base, changes, keyCols, versionCol, deleteCol)
    }

  /** Same contract for SCD2 historization (q126's incremental fold):
    * each batch of versioned changes extends the stored history table
    * — affected keys' open intervals close, the batch historizes over
    * its own window, the stored side never re-sorts. A first batch
    * against a missing table historizes itself from scratch. The
    * [[graft.operators.Cdc.applyHistoryBatch]] monotone-version
    * contract is exactly what checkpoint order delivers.
    * @return true if the batch was applied, false if skipped */
  def applyScd2Batch(changes: DataFrame, batchId: Long, keyCols: Seq[String],
      versionCol: String, deleteCol: String, historyPath: String,
      lineage: String = "manual"): Boolean =
    foldWithMarker(changes.sparkSession, historyPath, batchId, lineage) {
      case Some(stored) => graft.operators.Cdc.applyHistoryBatch(
        stored, changes, keyCols, versionCol, deleteCol)
      case None => graft.operators.Cdc.history(
        changes, keyCols, versionCol, deleteCol)
    }

  /** Shared effectively-once fold: compute the table's next contents
    * from its current ones (None when nothing is stored yet) and
    * commit the result as a new [[graft.sources.Lake]] snapshot, with
    * the applied-batch marker written INSIDE the new version dir so
    * data and marker become visible in the same atomic manifest
    * rename. `path` is a manifest-committed table ROOT — read it with
    * `Lake.readCommitted(spark, path)`.
    *
    * Unlike the K3 `Newsmaper.overwriteRetained` (a directory-rename
    * swap with a documented momentary gap), this fold is replayed
    * AUTOMATICALLY by the streaming checkpoint AND may be read
    * concurrently, so it rides the manifest protocol end to end: a
    * crash mid data write or before the manifest rename leaves an
    * orphan version dir the replay overwrites (readers stay on the
    * old snapshot); a crash after the rename is a completed fold the
    * replay skips via its marker. There is NO crash point at which
    * the table is missing or partial — no recovery dance needed.
    *
    * Skip uses a HIGH-WATER MARK, not marker presence: each snapshot
    * carries only its own marker (the version dir is written fresh),
    * but foreachBatch batchIds are monotone WITHIN one checkpoint
    * lineage, so any replay satisfies `batchId <= max applied id`.
    * Markers carry the lineage (`_applied_<batchId>_<lineage>`) and
    * the high-water mark only counts markers of the CURRENT lineage:
    * if the user deletes the checkpoint (batchIds restart at 0) the
    * sinks derive a NEW lineage from the recreated checkpoint's query
    * id ([[checkpointLineage]]) so the old mark cannot silently
    * swallow the new stream's batches — and because the old lineage's
    * batches are already folded into the stored table, the first
    * apply of a new lineage REBUILDS the table from scratch rather
    * than double-counting on top (so the result equals the new
    * stream's batches alone: sources must replay from the beginning
    * for the rebuilt table to cover full history).
    *
    * BOOTSTRAP AND MIGRATION: a plain parquet dir at `path` (no
    * manifest) is folded in place as the stored state — that covers
    * both a caller-provided bootstrap base (no markers: accepts any
    * first batch against its contents) and a table written by the
    * pre-manifest rename-based fold (its top-level `_applied_*`
    * markers keep their replay-skip). Bare pre-lineage markers parse
    * as "manual", which matches EVERY lineage: the table may belong
    * to a still-surviving checkpoint whose sink only now derives a
    * query-id lineage, and treating its markers as foreign would
    * bootstrap away all folded history on the first post-upgrade
    * batch. After the first manifest commit the superseded top-level
    * files are swept.
    *
    * DURABILITY CONTRACT: the commit point is a SINGLE-FILE rename,
    * atomic on HDFS and POSIX filesystems; object stores (S3A and
    * friends) emulate rename as copy+delete, so use a real table
    * format there. One writer per `path` is assumed (Spark enforces
    * one query per checkpoint; two queries must not share a
    * statPath/snapshotPath). */
  private def foldWithMarker(spark: SparkSession, path: String, batchId: Long,
      lineage: String = "manual")(
      next: Option[DataFrame] => DataFrame): Boolean = {
    require(lineage.nonEmpty && lineage.forall(c => c.isLetterOrDigit || c == '-'),
      s"lineage must be [A-Za-z0-9-]+, got '$lineage'")
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path), conf)
    val root = new org.apache.hadoop.fs.Path(path)
    // `_applied_<batchId>_<lineage>`; parsed defensively — a foreign
    // `_applied_*` file must be ignored, never throw.
    def parseMarker(name: String): Option[(Long, String)] =
      if (!name.startsWith("_applied_")) None
      else name.stripPrefix("_applied_").split("_", 2) match {
        case Array(id, lin) => id.toLongOption.map((_, lin))
        case Array(id)      => id.toLongOption.map((_, "manual"))
        case _              => None
      }
    def markersIn(dirs: Seq[org.apache.hadoop.fs.Path]): Seq[(Long, String)] =
      dirs.filter(fs.exists).flatMap(d => fs.listStatus(d).iterator
        .flatMap(f => parseMarker(f.getPath.getName)).toSeq)
    val manifestV = graft.sources.Lake.currentVersion(spark, path)
    // pre-manifest layout: top-level parquet files (+ markers) at the
    // root. Read via the EXPLICIT file list — a crashed first
    // migration may have left an orphan v0 subdir that a recursive
    // directory read would double-count.
    val legacyFiles: Seq[String] =
      if (manifestV.isDefined || !fs.exists(root)) Nil
      else fs.listStatus(root).iterator
        .filter { f =>
          val n = f.getPath.getName
          f.isFile && !n.startsWith("_") && !n.startsWith(".")
        }
        .map(_.getPath.toString).toSeq
    val storedMarkers: Seq[(Long, String)] = manifestV match {
      case Some(_) => markersIn(
        graft.sources.Lake.resolve(spark, path)
          .map(new org.apache.hadoop.fs.Path(_)))
      case None => markersIn(Seq(root))
    }
    // Pre-lineage "manual" markers match EVERY lineage: a table
    // written before markers carried lineages may belong to a STILL-
    // SURVIVING checkpoint whose sink only now derives a query-id
    // lineage — treating its markers as foreign would bootstrap away
    // all folded history on the first post-upgrade batch. The wildcard
    // keeps replay-skip and fold-on-top across the upgrade; the
    // lineage-change bootstrap stays exact for tables written after
    // markers carried lineages (the recreated-checkpoint case the
    // bootstrap exists for). Residual legacy ambiguity — checkpoint
    // DELETED while a pre-lineage table survives — resolves to the
    // data-preserving side (skip, table goes stale) rather than a
    // silent wipe.
    def ownMarker(lin: String): Boolean = lin == lineage || lin == "manual"
    // skip only on THIS lineage's high-water mark (see scaladoc)
    if (storedMarkers.collect { case (id, lin) if ownMarker(lin) => id }
        .maxOption.exists(batchId <= _)) return false
    // LINEAGE CHANGE = BOOTSTRAP: the table carries markers, but none
    // from this lineage — a new checkpoint is replaying the source
    // from its own offset zero, so folding its batches INTO the
    // already-populated table would double-count everything the old
    // lineage applied. Treat the stored state as gone and rebuild
    // from this lineage's batches alone (the scaladoc contract). A
    // table with NO markers was not written by this fold; it is a
    // caller-provided bootstrap base and accepts any first batch.
    val foreignOnly = storedMarkers.nonEmpty &&
      !storedMarkers.exists(m => ownMarker(m._2))
    // The silent bootstrap is reserved for the recreated-checkpoint
    // path it was designed for (a DERIVED query-id lineage replaying
    // the source from zero). A direct applyStatBatch/applyCdcBatch
    // call defaults to lineage "manual"; pointing one at a table whose
    // markers all carry query-id lineages means the table belongs to a
    // checkpointed sink — rebuilding would silently discard ALL its
    // accumulated state and commit just this one batch. Refuse loudly.
    if (foreignOnly && lineage == "manual")
      throw new IllegalStateException(
        s"$path is maintained by a checkpointed sink (stored markers carry " +
          s"query-id lineages ${storedMarkers.map(_._2).distinct.mkString(", ")}); " +
          "a manual fold would discard its stored state and rebuild from this one " +
          "batch. Use the owning sink, or pass its lineage explicitly to fold on top.")
    val stored: Option[DataFrame] =
      if (foreignOnly) None
      else if (manifestV.isDefined)
        Some(graft.sources.Lake.readCommitted(spark, path))
      else if (legacyFiles.nonEmpty)
        Some(spark.read.parquet(legacyFiles: _*))
      else None
    val merged = next(stored)
    // allocate past EVERY committed marker (Lake.nextVersion), not
    // just the live snapshot: a defectively-ignored manifest whose
    // data dirs are lost still owns its number, and commitManifest's
    // rename onto the existing marker would fail on every replay — a
    // permanently wedged sink. Matches commitOverwrite's allocation.
    val nextV = graft.sources.Lake.nextVersion(spark, path)
    val vdir = new org.apache.hadoop.fs.Path(root, s"v$nextV")
    // the (lazy) merged plan reads the LIVE snapshot or legacy files,
    // never the fresh version dir — no self-overwrite hazard
    merged.write.mode("overwrite").parquet(vdir.toString)
    fs.create(new org.apache.hadoop.fs.Path(
      vdir, s"_applied_${batchId}_$lineage")).close()
    graft.sources.Lake.commitVersion(spark, path, nextV, Seq(s"v$nextV"),
      retain = 1, schema = Some(merged.schema))
    // sweep superseded pre-manifest files (and their markers) once the
    // manifest owns the table; idempotent, usually a no-op
    if (legacyFiles.nonEmpty)
      fs.listStatus(root).iterator
        .filter(f => f.isFile && !f.getPath.getName.startsWith("_commit_"))
        .foreach(f => fs.delete(f.getPath, false))
    true
  }

  /** The marker lineage that identifies one checkpoint's batchId
    * sequence: the streaming query id Spark persists in
    * `<checkpointDir>/metadata` at first start. It SURVIVES restarts
    * from the same checkpoint (batchIds keep climbing — replay
    * skipping must keep working) but is re-minted when the checkpoint
    * dir is deleted (batchIds restart at 0 — the old high-water mark
    * must NOT swallow the new stream's batches). Read lazily on the
    * first micro-batch, by which point StreamExecution has written
    * the file; deliberately NOT per-`start()`, which would defeat
    * replay skipping. */
  private[graft] def checkpointLineage(spark: SparkSession, checkpointDir: String): String = {
    val p = new org.apache.hadoop.fs.Path(checkpointDir, "metadata")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    """"id"\s*:\s*"([0-9a-fA-F-]+)"""".r.findFirstMatchIn(txt)
      .map(_.group(1))
      .getOrElse(throw new IllegalStateException(
        s"no query id in checkpoint metadata at $p: $txt"))
  }

  /** Streaming incremental aggregate maintenance — the §2.8 twin of
    * [[graft.operators.Incremental]] (q98): each micro-batch folds
    * into the stored per-group stat table at O(batch) cost; the fact
    * history is never re-read. The stat table is |groups| fixed-width
    * rows, so the per-batch staged swap is cheap at any fact scale.
    * Effectively-once across restarts AND across checkpoint
    * recreation: markers carry the checkpoint's query id as lineage
    * (see [[checkpointLineage]]), so a deleted checkpoint bootstraps
    * the stat table from the new stream instead of double-counting.
    * @return the started query; caller manages lifecycle */
  def statRefreshSink(incoming: DataFrame, groupCols: Seq[String],
      valueCol: String, statPath: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    lazy val lineage =
      checkpointLineage(incoming.sparkSession, checkpointDir)
    incoming.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyStatBatch(batch, batchId, groupCols, valueCol, statPath, lineage)
        ()
      }
      .start()
  }

  /** Streaming COPY-ON-WRITE CDC merge into a manifest-committed
    * table — the at-scale sibling of [[cdcApplySink]]: where the
    * marker-based fold rewrites the WHOLE snapshot every micro-batch
    * (O(table) writes — fine for a stat table, wrong for a 100 TB
    * fact), this sink runs [[graft.sources.Lake.mergeCommitted]] per
    * batch, rewriting only the dirs that hold touched keys (O(touched
    * dirs) + O(batch) per commit; a pure-insert batch writes only
    * itself).
    *
    * Effectively-once needs NO applied-batch marker here: the merge
    * always runs `guardVersions = true`, and version-guarded CDC
    * apply is IDEMPOTENT under replay — a replayed upsert is stale
    * against the row it already wrote (rejected), a replayed delete
    * finds its key absent and deletes nothing, so a crash-replayed
    * micro-batch commits no effective winners and the table version
    * doesn't even churn. The same monotone-version contract as
    * [[applyCdcBatch]] (checkpoint order), enforced rather than
    * assumed. A first batch against an empty root bootstraps the
    * table with its own winning upserts.
    * @return the started query; caller manages lifecycle */
  def cdcMergeSinkCommitted(incoming: DataFrame, keyCols: Seq[String],
      versionCol: String, deleteCol: String, root: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    incoming.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val spark = batch.sparkSession
        if (graft.sources.Lake.currentVersion(spark, root).isEmpty) {
          // bootstrap: the batch's own per-key winners, upserts only.
          // An empty winner set commits nothing (no empty v0 whose
          // schema could conflict with a later real bootstrap).
          val empty = batch.drop(deleteCol).where(lit(false))
          val winners = graft.operators.Cdc.applyChanges(
            empty, batch, keyCols, versionCol, deleteCol)
          if (!winners.isEmpty) {
            graft.sources.Lake.commitOverwrite(winners, root)
            ()
          }
        } else {
          graft.sources.Lake.mergeCommitted(spark, root, batch, keyCols,
            versionCol, deleteCol, guardVersions = true)
          ()
        }
      }
      .start()

  /** Streaming CDC apply — the §2.8 twin of the q99 snapshot merge:
    * each micro-batch of versioned upserts+deletes folds into the
    * stored snapshot (base never shuffles — the q99 broadcast
    * anti-join shape runs per batch), effectively-once via the same
    * applied-batch marker as [[statRefreshSink]]. For a LARGE
    * committed fact table prefer [[cdcMergeSinkCommitted]], which
    * writes O(touched dirs) per batch instead of rewriting the
    * snapshot.
    * @return the started query; caller manages lifecycle */
  def cdcApplySink(incoming: DataFrame, keyCols: Seq[String],
      versionCol: String, deleteCol: String, snapshotPath: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    lazy val lineage =
      checkpointLineage(incoming.sparkSession, checkpointDir)
    incoming.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyCdcBatch(batch, batchId, keyCols, versionCol, deleteCol,
          snapshotPath, lineage)
        ()
      }
      .start()
  }

  /** Streaming SCD2 historization — the §2.8 twin of q126: each
    * micro-batch of versioned changes extends the stored history
    * table at O(batch + affected keys) cost (the q126 fold per
    * batch), effectively-once via the same applied-batch marker and
    * checkpoint-derived lineage as [[statRefreshSink]]. Completes the
    * streaming maintenance trio: current-state snapshot
    * ([[cdcApplySink]]), aggregates ([[statRefreshSink]]), and full
    * history (here) all follow one CDC stream.
    * @return the started query; caller manages lifecycle */
  def scd2Sink(incoming: DataFrame, keyCols: Seq[String],
      versionCol: String, deleteCol: String, historyPath: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery = {
    lazy val lineage =
      checkpointLineage(incoming.sparkSession, checkpointDir)
    incoming.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyScd2Batch(batch, batchId, keyCols, versionCol, deleteCol,
          historyPath, lineage)
        ()
      }
      .start()
  }

  /** End-to-end incremental pipeline: stream → windowed agg → parquet
    * sink with checkpointing (exactly-once file sink). Returns the
    * started query; caller manages lifecycle. */
  def runWindowedPipeline(spark: SparkSession, srcDir: String, outDir: String,
      checkpointDir: String): org.apache.spark.sql.streaming.StreamingQuery =
    tumblingAgg(readEventStream(spark, srcDir))
      .writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .format("parquet")
      .option("path", outDir)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
}
