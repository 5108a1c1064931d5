package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SQLContext}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSourceProvider}
import org.apache.spark.sql.types.StructType

/** Structured Streaming SOURCE over a manifest-committed [[Lake]]
  * table: `spark.readStream.format("graft-lake").option("root", …)`
  * turns every commit into a micro-batch, which closes the loop the
  * engine's sinks opened — a lake table maintained by one pipeline
  * (`loadToCommitted`, `dedupAppendSinkCommitted`, `cdcApplySink`)
  * now FEEDS the next pipeline's fold with no hand-rolled cursor.
  *
  * Offsets ARE lake versions (`LongOffset(version)`), so the
  * streaming checkpoint and the table's commit protocol share one
  * notion of progress: `getBatch(from, to]` reads exactly the data
  * dirs that appeared in that version range, version dirs are
  * immutable, and a replayed batch is therefore bit-identical —
  * effectively-once composition with the engine's marker-protected
  * sinks for free. The reference's closest analogue is the Airflow
  * task chain re-running the whole extract per cycle
  * (/root/reference/dags/Main.py:20-26); at 100 TB the difference is
  * O(new dirs) per trigger versus O(table).
  *
  * Contract: the DEFAULT mode follows APPEND commits (append/load/
  * stream sinks — dirs only ever added). A commit that REMOVES dirs
  * (overwrite, merge, compaction, delete/update) is refused with the
  * alternatives named — `ignoreDeletes=true` to skip rewritten-dir
  * history (emits only genuinely new dirs, Delta's
  * `ignoreChanges`-style escape hatch, duplicates possible), or
  * `readChangeFeed=true` + `keyCols` for the STREAMING CHANGE FEED
  * ([[cdfBatch]] — the Delta CDF read path): row-level insert /
  * delete / update pre+postimages per commit, so merge-heavy history
  * streams exactly and MV folds consume retractions end-to-end. Retention: append chains keep every dir
  * referenced by the live snapshot, so a lagging stream never loses
  * data — EXCEPT across layout-only maintenance (compact/z-order),
  * which this source skips as row-preserving but which un-references
  * the pre-rewrite dirs: a stream lagging across one races retention
  * for those dirs, and `getBatch` refuses with the retention fix named
  * if they were swept (run maintenance with `retain` covering the
  * slowest consumer's lag, the standard lakehouse contract).
  *
  * Schema is pinned at stream start (the live manifest's, fully
  * nullable): versions OLDER than the pinned schema read with NULL
  * backfill (deterministic under replay, same rule as every reader
  * here), and a mid-stream `mergeSchemas` widening REFUSES the batch
  * naming the restart path — the pinned plan cannot carry the new
  * column, and emitting rows without it would be silent column loss.
  * Restarting the query on the same checkpoint re-pins the widened
  * schema and continues from the checkpointed offset.
  */
final class LakeStreamSource(
    sqlContext: SQLContext, root: String,
    override val schema: StructType,
    startAfter: Option[Long], ignoreDeletes: Boolean,
    maxVersionsPerTrigger: Option[Long] = None,
    changeFeedKeys: Option[Seq[String]] = None,
    maxBytesPerTrigger: Option[Long] = None) extends Source
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  private def spark = sqlContext.sparkSession

  private def toVersion(o: Offset): Long = o match {
    case l: LongOffset => l.offset
    case s: SerializedOffset => s.json.trim.toLong
    case other => other.json.trim.toLong
  }

  /** Newest version visible to THIS source (start option applied). */
  private def visibleNow: Option[Long] =
    Lake.currentVersion(spark, root)
      .filter(v => startAfter.forall(v > _))

  override def getOffset: Option[Offset] = visibleNow.map(LongOffset(_))

  // ---- Trigger.AvailableNow (the FileStreamSource shape): freeze
  // "available" at prepare time so the run drains exactly the commits
  // that existed when it started, then terminates — no single-batch
  // fallback, no risk of stopping at a stale uncommitted batch ------
  private var prepared = false
  private var availableAtPrepare: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit = {
    prepared = true
    availableAtPrepare = visibleNow
  }

  override def getDefaultReadLimit:
      org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()

  override def latestOffset(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit):
      org.apache.spark.sql.connector.read.streaming.Offset = {
    val eff =
      if (prepared) for (a <- availableAtPrepare; v <- visibleNow)
        yield math.min(a, v)
      else visibleNow
    // maxVersionsPerTrigger: bound each micro-batch to N commits past
    // the start offset — the backfill throttle (a stream catching up
    // on months of commits drains them in bounded batches instead of
    // one giant read); AvailableNow then takes several batches to the
    // prepared offset and terminates
    val capped = maxVersionsPerTrigger match {
      case Some(n) =>
        val from = Option(start).map(o => o.json.trim.toLong)
          .orElse(startAfter).getOrElse(-1L)
        // from+n is a version NUMBER, not necessarily a committed
        // version: on a table whose early markers were retention-pruned
        // (exactly the backlog case this throttle targets) checkpointing
        // an uncommitted offset wedges the stream permanently on the
        // start-version guard in getBatch. Anchor the cap at a
        // reconstructible boundary: the largest committed version
        // <= from+n, else the SMALLEST committed version > from (the
        // minimal step the surviving markers can express), else eff.
        eff.map { v =>
          if (v <= from + n) v
          else {
            val committed =
              Lake.committedVersionList(spark, root).filter(_ > from)
            committed.filter(_ <= from + n).maxOption
              .orElse(committed.minOption)
              .getOrElse(v)
          }
        }
      case None => eff
    }
    // maxBytesPerTrigger (Delta's byte-based admission): walk the
    // committed versions past the start offset ACCUMULATING each
    // version's NEW-dir bytes and stop before the budget overflows —
    // a history holding one month-sized overwrite no longer lands as
    // one giant micro-batch beside the version-count throttle. The
    // FIRST version past the offset always admits (a single version
    // larger than the budget must still make progress — Delta's
    // at-least-one rule), offsets stay exact committed versions, and
    // the batch-twin semantics are untouched (the same rows arrive,
    // split differently).
    val byteCapped = maxBytesPerTrigger match {
      case Some(budget) =>
        val from = Option(start).map(o => o.json.trim.toLong)
          .orElse(startAfter).getOrElse(-1L)
        capped.map { v =>
          if (v <= from) v
          else {
            val all = Lake.committedVersionList(spark, root)
            val committed = all.filter(c => c > from && c <= v)
            // ONE pass over the candidate versions, CARRYING the
            // previous dir set — a per-version predecessor re-read
            // would make planning O(versions²) manifest expansions on
            // a long history, dominating the micro-batch
            var prevDirs = committed.headOption
              .flatMap(first => all.filter(_ < first).maxOption)
              .map(p => Lake.snapshotDirNames(spark, root, p).toSet)
              .getOrElse(Set.empty[String])
            var acc = 0L
            var last = from
            var done = false
            committed.foreach { c =>
              if (!done) {
                val dirs = Lake.snapshotDirNames(spark, root, c).toSet
                val sz = versionNewBytes(c, dirs -- prevDirs)
                if (last == from || acc + sz <= budget) {
                  acc += sz; last = c; prevDirs = dirs
                } else done = true
              }
            }
            if (last == from) v else last
          }
        }
      case None => capped
    }
    byteCapped.map(LongOffset(_)).orNull
  }

  /** Bytes version `c` ADDED to the table: the parquet lengths of the
    * dirs its manifest references that the previous committed manifest
    * did not (first retained version: the whole snapshot). One driver
    * listing per new dir at PLANNING time — O(new dirs), the admission
    * controller's price, never a data read — MEMOIZED across triggers
    * (version dirs are immutable, so a version's added-bytes figure
    * never changes once computed). */
  // access-order LRU, not a wholesale clear-at-cap: the admission
  // controller probes a sliding window near the live tail, so on a
  // >4096-version history eviction should shed the COLD head — a full
  // clear would briefly re-list every dir of the hot tail on the next
  // trigger
  private[graft] val newBytesCacheMax = 4096
  // boxed value type: a primitive-Long map would unbox an absent
  // entry's null to 0L and silently cache-hit every miss at 0 bytes
  private[graft] val newBytesCache =
    new java.util.LinkedHashMap[Long, java.lang.Long](64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[Long, java.lang.Long]): Boolean =
        size() > newBytesCacheMax
    }
  private def versionNewBytes(c: Long, newDirs: Set[String]): Long =
    newBytesCache.synchronized(Option(newBytesCache.get(c)))
      .map(_.longValue).getOrElse {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
      val sz = newDirs.iterator.map { d =>
        val p = new Path(new Path(root), d)
        if (!fs.exists(p)) 0L
        else fs.listStatus(p).iterator
          .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
          .map(_.getLen).sum
      }.sum
      newBytesCache.synchronized(newBytesCache.put(c, java.lang.Long.valueOf(sz)))
      sz
    }

  override def reportLatestOffset():
      org.apache.spark.sql.connector.read.streaming.Offset =
    visibleNow.map(LongOffset(_)).orNull

  /** CHANGE-FEED mode (`readChangeFeed=true`): the Delta CDF read
    * path — each micro-batch carries the ROW-LEVEL changes of its
    * version range, tagged `change_type` (insert / delete /
    * update_preimage / update_postimage) + `commit_version`, so a
    * downstream MV fold consumes exact retractions instead of
    * refusing dir-removing commits. Changes derive per committed
    * version via [[Lake.changesBetween]] (O(changed dirs) each, a
    * key-diff on `changeFeedKeys`); layout-only maintenance
    * contributes nothing, exactly like the append mode. The batch is
    * computed through the batch API and wrapped as a streaming
    * LogicalRDD (the MemoryStream move) — its diff joins must not
    * meet the streaming unsupported-operations checker. */
  private def cdfBatch(all: Seq[Long], fromV: Option[Long], endV: Long):
      DataFrame = {
    import org.apache.spark.sql.functions.{col, lit}
    val versions = all.filter(v => v <= endV && fromV.forall(v > _))
    val baseFields = schema.fields
      .filterNot(f => f.name == "change_type" || f.name == "commit_version")
    // align every per-version diff to the PINNED stream schema: later
    // evolved columns invisible, older versions read NULL-backfilled —
    // the same rule as the append mode
    def aligned(df: DataFrame, v: Long): DataFrame =
      df.select(baseFields.toSeq.map(f =>
        (if (df.columns.contains(f.name)) col(f.name)
         else lit(null).cast(f.dataType)).as(f.name)) :+
        col("change_type") :+ lit(v).as("commit_version"): _*)
    var prev = fromV.flatMap(f => all.filter(_ <= f).maxOption)
    val parts = Seq.newBuilder[DataFrame]
    versions.foreach { v =>
      val layoutOnly = Lake.snapshotOp(spark, root, v)
        .exists(op => op == "compact" || op == "zorder")
      if (!layoutOnly) {
        val diff = prev match {
          // table birth (or pre-horizon start): the snapshot IS the
          // change set — every row an insert, Delta's CDF bootstrap
          case None => Lake.readCommittedAt(spark, root, v)
            .withColumn("change_type", lit("insert"))
          case Some(p) =>
            Lake.changesBetween(spark, root, p, v,
              changeFeedKeys.getOrElse(Nil))
        }
        parts += aligned(diff, v)
      }
      prev = Some(v)
    }
    val batch = parts.result() match {
      case Nil =>
        spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
      case seq => seq.reduce(_.unionByName(_))
    }
    org.apache.spark.sql.graft.Shim.ofRows(spark,
      org.apache.spark.sql.graft.Shim.streamingPlanOf(
        batch.queryExecution.toRdd, batch))
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val endV = toVersion(end)
    val fromV = start.map(toVersion).orElse(startAfter)
    val all = Lake.committedVersionList(spark, root)
    // a real start version whose MARKER retention pruned cannot anchor
    // the batch boundary: resolving to an older snapshot would re-emit
    // every dir committed since it — silent duplicates. Refuse, the
    // Delta rule. (-1 is the explicit from-birth sentinel.)
    fromV.filter(_ >= 0).foreach { f =>
      if (!all.contains(f))
        throw new IllegalStateException(
          s"streaming source on $root: start version $f (checkpoint offset " +
            "or startingVersion) is no longer committed — its marker was " +
            "pruned past retention, so the batch boundary cannot be " +
            "reconstructed without duplicating data. Restart with a fresh " +
            "checkpoint, or commit with a larger `retain`")
    }
    // schema-evolution guard (Delta's rule): a mid-stream mergeSchemas
    // append widened the table past the stream's PINNED schema —
    // either a NEW COLUMN (the pinned plan physically cannot carry it,
    // and emitting rows without it would be silent column loss) or a
    // TYPE WIDENING (reading the new wider files under the pinned
    // narrower type is a lossy downcast the reader refuses with a raw
    // parquet error). Both evolutions are monotone, so checking the
    // range's end version covers every version in the batch. A
    // replayed batch whose end MARKER was retention-pruned skips the
    // check (that batch's dirs were already streamed; the other
    // guards own it).
    scala.util.Try(Lake.snapshotSchema(spark, root, endV))
      // compare PUBLIC schemas: the hidden row-tracking column is
      // engine state, not an evolution the stream's plan must carry
      .toOption.flatten.map(Lake.publicSchema).foreach { committed =>
      val pinned = schema.fieldNames.toSet
      val extra = committed.fieldNames.filterNot(pinned.contains).toSeq.sorted
      val widened = committed.fields.flatMap(cf =>
        schema.fields.find(_.name == cf.name)
          .filter(_.dataType != cf.dataType)
          .map(pf => s"${pf.name}: ${pf.dataType.simpleString} -> " +
            cf.dataType.simpleString)).toSeq.sorted
      if (extra.nonEmpty || widened.nonEmpty)
        throw new IllegalStateException(
          s"streaming source on $root: version $endV evolved past the " +
            "stream's pinned schema (" +
            (extra.map("new column " + _) ++ widened.map("widened " + _))
              .mkString("; ") +
            "). Restart the streaming query (same checkpoint: offsets " +
            "continue, the restarted source pins the evolved schema; " +
            "earlier versions read NULL-backfilled/upcast). Emitting " +
            "under the stale pinned schema would lose or corrupt " +
            "columns, which this source refuses.")
    }
    if (changeFeedKeys.isDefined) return cdfBatch(all, fromV, endV)
    val versions = all.filter(v => v <= endV && fromV.forall(v > _))
    // the snapshot the range extends: the greatest committed version
    // at or below the start offset (None = table birth, empty dirs)
    val anchor = fromV.flatMap(f => all.filter(_ <= f).maxOption)
    var prev: Set[String] = anchor
      .map(v => Lake.snapshotDirNames(spark, root, v).toSet)
      .getOrElse(Set.empty)
    // deletion-vector lines tracked alongside the dir set: a DV
    // delete changes a dir's LIVE rows without renaming it, so it is
    // a delete the removed-dirs test cannot see
    def dvsAt(v: Long) = DirMeta.dvs(
      Lake.dirMeta(Lake.fsFor(spark, root), new Path(root), v))
    var prevDvs: Map[String, String] = anchor.map(dvsAt).getOrElse(Map.empty)
    val fresh = Seq.newBuilder[String]
    versions.foreach { v =>
      val cur = Lake.snapshotDirNames(spark, root, v).toSet
      val curDvs = dvsAt(v)
      // row-PRESERVING maintenance (compaction, z-order) rewrites
      // layout, not contents: its added dirs carry exactly the rows
      // already streamed, so the step contributes NOTHING — the
      // source composes with table maintenance instead of refusing it.
      // (A maintenance rewrite MATERIALIZES deletion vectors — its DV
      // lines dropping with the rewritten dirs is still row-preserving
      // over LIVE rows, so the DV guard below skips it too.)
      val layoutOnly = Lake.snapshotOp(spark, root, v)
        .exists(op => op == "compact" || op == "zorder")
      if (!layoutOnly) {
        val removed = prev -- cur
        val dvChanged = curDvs != prevDvs
        if ((removed.nonEmpty || dvChanged) && !ignoreDeletes)
          throw new IllegalStateException(
            s"streaming source on $root: version $v " +
              (if (removed.nonEmpty)
                s"removes dirs ${removed.toSeq.sorted.mkString(", ")}"
               else "changes deletion vectors (soft row deletes)") +
              " (overwrite/merge/delete). " +
              "The version-offset source follows append commits only; set " +
              "option(\"ignoreDeletes\", \"true\") to stream just the added dirs, " +
              "or options readChangeFeed=true + keyCols for exact row-level " +
              "changes (insert/delete/update images per commit)")
        fresh ++= (cur -- prev).toSeq.sorted
      }
      prev = cur
      prevDvs = curDvs
    }
    val dirs = fresh.result().distinct
    // a stream lagging across a compaction: the compaction itself is
    // layout-only (skipped above), but once the live snapshot no longer
    // references the PRE-compaction dirs, retention may sweep them
    // before this lagging batch reads them. A raw path-not-found from
    // the parquet scan would hide the cause — check first and name the
    // retention fix, same style as the start-version guard.
    val hconf = spark.sparkContext.hadoopConfiguration
    val swept = dirs.filterNot { d =>
      val p = new Path(root, d); p.getFileSystem(hconf).exists(p)
    }
    if (swept.nonEmpty)
      throw new IllegalStateException(
        s"streaming source on $root: data dirs ${swept.sorted.mkString(", ")} " +
          s"named by versions (${fromV.getOrElse(-1L)}, $endV] no longer " +
          "exist — a layout rewrite (compact/z-order) superseded them and " +
          "retention swept them before this lagging stream read them. " +
          "Restart with a fresh checkpoint to read the current snapshot, " +
          "or run maintenance commits with a larger `retain`")
    // MicroBatchExecution asserts the returned frame is a STREAMING
    // one; re-tag the batch relation the way FileStreamSource does
    val plan =
      if (dirs.isEmpty)
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation(
          org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema),
          Nil, isStreaming = true)
      else {
        // files store PHYSICAL names (column mapping); the stream's
        // pinned schema is logical — read physical, alias back. A
        // mapping commit MID-stream changes schema names and trips
        // the evolution guard above; this covers tables mapped
        // BEFORE the stream pinned.
        val map = Lake.colMapAt(spark, root, endV)
        val df0 = spark.read.schema(Lake.physSchema(schema, map))
          .parquet(dirs.map(d => new Path(root, d).toString): _*)
        val df = if (map.isEmpty) df0
          else Lake.renameToLogical(df0, schema, map)
        df.queryExecution.analyzed.transform {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            lr.copy(isStreaming = true)
        }
      }
    org.apache.spark.sql.graft.Shim.ofRows(spark, plan)
  }

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
  override def toString: String = s"LakeStreamSource[$root]"
}

/** Structured Streaming SINK into a manifest-committed table:
  * `writeStream.format("graft-lake").option("root", …)` appends each
  * micro-batch as one O(batch) snapshot commit. EFFECTIVELY-ONCE by
  * riding the manifest: the commit's `#op=` line records (checkpoint
  * lineage = the persisted streaming query id, batch id) in the same
  * atomic marker rename as the data, so a replayed batch — crash
  * after commit, before the checkpoint advanced — sees its own
  * lineage already at that id and commits nothing. A RECREATED
  * checkpoint gets a new query id, so its restarted batch numbering
  * cannot be swallowed by the old lineage's high-water mark (an
  * append sink can't rebuild; for replace-on-new-lineage semantics
  * use the fold sinks in [[graft.streaming.Streams]]).
  *
  * Caveat, documented not hidden: the skip horizon is the marker
  * retention — `retain` non-stream commits (maintenance) after a
  * batch prune its `#op=` line, so run compaction with `retain` at
  * least the commits-per-trigger-gap, same contract as any
  * lakehouse txn-retention knob. Empty batches commit nothing. */
final class LakeStreamSink(root: String, retain: Int,
    statsCols: Seq[String], bloomCols: Seq[String])
    extends org.apache.spark.sql.execution.streaming.Sink {

  override def addBatch(batchId: Long, data: org.apache.spark.sql.Dataset[
      org.apache.spark.sql.Row]): Unit = {
    val spark = data.sparkSession
    // the engine-set per-query local property; persisted in the
    // checkpoint, so it IS the lineage across restarts. REFUSED when
    // absent: a shared fallback lineage would let two independent
    // manual writers silently swallow each other's batch ids — the
    // exact failure the lineage exists to prevent (same refusal
    // stance as the fold sinks' manual-lineage guard).
    val lineage = Option(
      spark.sparkContext.getLocalProperty("sql.streaming.queryId"))
      .getOrElse(throw new IllegalStateException(
        s"LakeStreamSink on $root: no streaming query id on this thread — " +
          "addBatch is meant to run inside a writeStream query. For a " +
          "direct call, set the local property sql.streaming.queryId to a " +
          "unique writer id first"))
    if (Lake.lastStreamBatch(spark, root, lineage).exists(_ >= batchId)) return
    // the incoming frame is the incremental execution — re-analyzing
    // it as a batch plan is refused ("streaming sources must be
    // executed with writeStream"). Rebuild over its planned rdd, the
    // same move Spark's own ForeachBatchSink makes; cached so the
    // emptiness probe and the commit share one execution and the
    // rows never visit the driver
    // .copy(): the incremental iterator REUSES its UnsafeRow buffer;
    // caching the references would alias every cached row to the last
    val rdd = data.queryExecution.toRdd.map(_.copy())
    rdd.persist()
    try {
      if (!rdd.isEmpty()) {
        val batch = org.apache.spark.sql.graft.Shim.ofRows(spark,
          org.apache.spark.sql.graft.Shim.batchPlanOf(rdd, data))
        Lake.commitAppend(batch, root,
          retain = retain, statsCols = statsCols, bloomCols = bloomCols,
          op = s"stream-append lineage=$lineage batch=$batchId")
        ()
      }
    } finally { rdd.unpersist(); () }
  }

  override def toString: String = s"LakeStreamSink[$root]"
}

/** `format("graft-lake")` registration, batch AND streaming:
  * `spark.read` gets the index-planned snapshot read ([[Lake
  * .sqlTable]] semantics — option `version` = time travel), and
  * `spark.readStream` gets [[LakeStreamSource]]. Options: `root`
  * (required, the committed table), `version` (batch), and for
  * streams `startingVersion` = `"latest"` (only commits after stream
  * start) or a version number N (changes from N on; default: the
  * full snapshot as the first batch), `startingTimestamp` (stream
  * what landed after the instant, resolved through the commit
  * markers' own times — Delta parity, mutually exclusive with
  * startingVersion) plus `ignoreDeletes`. */
final class GraftLakeProvider extends StreamSourceProvider
    with org.apache.spark.sql.sources.RelationProvider
    with org.apache.spark.sql.sources.CreatableRelationProvider
    with org.apache.spark.sql.sources.StreamSinkProvider
    with DataSourceRegister {

  override def shortName(): String = "graft-lake"

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): org.apache.spark.sql.sources.BaseRelation = {
    val root = rootOf(parameters)
    val version = parameters.get("version").map(v =>
      v.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"version must be a committed version number, got $v")))
    val (v, schema) = Lake.resolveSnapshot(sqlContext.sparkSession, root, version)
    LakeFileIndex.hadoopRelation(sqlContext.sparkSession, root, v, schema)
  }

  private def layoutOpts(parameters: Map[String, String]):
      (Int, Seq[String], Seq[String]) = (
    // absent option → -1 → inherit the table's graft.retain property
    parameters.get("retain").map(_.toInt).getOrElse(-1),
    parameters.get("statsCols").toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty),
    parameters.get("bloomCols").toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty))

  /** Writer-side layout options: `partitionBy=a,b` (manifest partition
    * layout — the DataFrameWriter's own partitionBy is hive-style and
    * not supported here), `bucketBy=n:a,b`, `generated=p:expr[;q:expr]`
    * (generated columns, `;`-separated since exprs may contain
    * commas), and `identity=col` (GENERATED ALWAYS AS IDENTITY,
    * established on the creating commit). */
  private def writeLayoutOpts(parameters: Map[String, String]):
      (Seq[String], Option[(Int, Seq[String])], Map[String, String]) = {
    val partBy = parameters.get("partitionBy").toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    val bucket = parameters.get("bucketBy").map { b =>
      val i = b.indexOf(':')
      require(i > 0, s"bucketBy option must be '<n>:<col>[,col…]', got '$b'")
      (b.take(i).trim.toInt,
        b.drop(i + 1).split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    }
    val gen = parameters.get("generated").toSeq
      .flatMap(_.split(";")).map(_.trim).filter(_.nonEmpty)
      .map { e =>
        val i = e.indexOf(':')
        require(i > 0, s"generated option entries must be '<col>:<expr>', got '$e'")
        e.take(i).trim -> e.drop(i + 1).trim
      }.toMap
    (partBy, bucket, gen)
  }

  /** `df.write.format("graft-lake").mode(…)` — batch writes as
    * manifest commits: Append extends the snapshot O(batch),
    * Overwrite replaces it, ErrorIfExists/Ignore follow their
    * SaveMode contracts against table EXISTENCE. */
  override def createRelation(sqlContext: SQLContext,
      mode: org.apache.spark.sql.SaveMode, parameters: Map[String, String],
      data: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row]):
      org.apache.spark.sql.sources.BaseRelation = {
    val spark = sqlContext.sparkSession
    val root = rootOf(parameters)
    val (retain, statsCols, bloomCols) = layoutOpts(parameters)
    val (partBy, bucket, gen) = writeLayoutOpts(parameters)
    // `identity 'id'` declares GENERATED ALWAYS AS IDENTITY at table
    // creation (CTAS spelling); appends only INHERIT the declaration
    val identity = parameters.get("identity").map(_.trim).filter(_.nonEmpty)
    // `rowTracking 'true'` enables stable row ids at table creation
    // (appends inherit, like every table property)
    val rowTrack = parameters.get("rowTracking").exists { v =>
      require(v == "true" || v == "false",
        s"rowTracking option must be 'true' or 'false', got '$v'")
      v.toBoolean
    }
    val exists = Lake.currentVersion(spark, root).isDefined
    import org.apache.spark.sql.SaveMode._
    def over(): Unit = {
      Lake.commitOverwrite(data, root, retain, None, statsCols, bloomCols,
        partitionBy = partBy, bucketBy = bucket, generatedColumns = gen,
        identity = identity, rowTracking = rowTrack)
      ()
    }
    mode match {
      case Append =>
        require(identity.isEmpty || Lake.identityColumn(spark, root)
            .exists(_._1 == identity.get),
          "the identity declaration is established by the table's " +
            "creating OVERWRITE commit; appends inherit it")
        Lake.commitAppend(data, root, retain, None, statsCols, bloomCols,
          partitionBy = partBy, bucketBy = bucket, generatedColumns = gen)
        ()
      case Overwrite => over()
      case ErrorIfExists if exists =>
        throw new IllegalStateException(
          s"committed table already exists at $root (SaveMode.ErrorIfExists)")
      case ErrorIfExists => over()
      case Ignore if exists => // SaveMode contract: leave it untouched
      case Ignore => over()
    }
    val (v, schema) = Lake.resolveSnapshot(spark, root, None)
    LakeFileIndex.hadoopRelation(spark, root, v, schema)
  }

  /** `writeStream.format("graft-lake")` — see [[LakeStreamSink]]. */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode):
      org.apache.spark.sql.execution.streaming.Sink = {
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"graft-lake sink is append-only (micro-batches become snapshot " +
        s"appends); got $outputMode — aggregating streams fold through " +
        "Streams.statRefreshSink/cdcApplySink instead")
    require(partitionColumns.isEmpty,
      "graft-lake tables lay out by manifest (stats/bloom/z-order), not " +
        "hive partitions; partitionBy is not supported")
    val (retain, statsCols, bloomCols) = layoutOpts(parameters)
    new LakeStreamSink(rootOf(parameters), retain, statsCols, bloomCols)
  }

  private def rootOf(parameters: Map[String, String]): String =
    parameters.getOrElse("root", throw new IllegalArgumentException(
      "graft-lake source requires option(\"root\", <committed table root>)"))

  private def liveSchema(sqlContext: SQLContext, root: String): StructType = {
    val spark = sqlContext.sparkSession
    val v = Lake.currentVersion(spark, root).getOrElse(
      throw new java.util.NoSuchElementException(
        s"no committed table at $root — the streaming source needs an " +
          "existing table for its schema; commit version 0 first"))
    // publicSchema: the hidden row-tracking column never reaches a
    // stream's user-facing schema (same rule as every batch read)
    Lake.publicSchema(org.apache.spark.sql.graft.Shim.asNullable(
      Lake.snapshotSchema(spark, root, v).getOrElse(
        Lake.readCommittedAt(spark, root, v).schema)))
  }

  /** `readChangeFeed=true` [+ `keyCols=a,b`] turns the stream into
    * the row-level change feed ([[LakeStreamSource.cdfBatch]]): table
    * columns + `change_type` + `commit_version`. The feed diffs
    * snapshots BY KEY ([[Lake.changesBetween]]'s contract) — keyCols
    * may be OMITTED only on a row-tracked table, where the hidden
    * stable row id pairs update images instead (the keyless feed).
    * None = not CDF mode; Some(Nil) = keyless CDF. */
  private def cdfKeysOf(spark: org.apache.spark.sql.SparkSession,
      root: String, parameters: Map[String, String]): Option[Seq[String]] =
    if (!parameters.get("readChangeFeed").exists(_.toBoolean)) None
    else {
      val keys = parameters.get("keyCols").toSeq
        .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
      require(keys.nonEmpty || Lake.rowTracking(spark, root).isDefined,
        "readChangeFeed=true requires option(\"keyCols\", \"k1,k2,…\") — " +
          "the change feed diffs snapshots by key; only a ROW-TRACKED " +
          "table (Lake.enableRowTracking / commitOverwrite(rowTracking " +
          "= true)) may omit keys and pair on the stable row id")
      Some(keys)
    }

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val base = schema.getOrElse(liveSchema(sqlContext, rootOf(parameters)))
    // same guard as createSource: a caller-supplied schema that already
    // carries the CDF columns must not get them appended twice
    val out =
      if (cdfKeysOf(sqlContext.sparkSession, rootOf(parameters),
            parameters).isEmpty ||
          base.fieldNames.contains("change_type")) base
      else StructType(base.fields.toSeq :+
        org.apache.spark.sql.types.StructField("change_type",
          org.apache.spark.sql.types.StringType) :+
        org.apache.spark.sql.types.StructField("commit_version",
          org.apache.spark.sql.types.LongType))
    (shortName(), out)
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): Source = {
    val root = rootOf(parameters)
    // createSource runs on EVERY (re)start; "latest" must mean latest
    // at FIRST start or a stop-before-first-batch restart silently
    // skips the gap. The resolution is persisted in the source's own
    // checkpoint dir (atomic tmp+rename, same primitive as the lake):
    // restarts read it back, a fresh checkpoint re-resolves.
    require(!(parameters.contains("startingVersion") &&
        parameters.contains("startingTimestamp")),
      "startingVersion and startingTimestamp are mutually exclusive")
    // `startingTimestamp` (Delta parity): stream the commits that
    // landed AFTER the given instant — resolved through the commit
    // markers' own timestamps (Lake.versionAsOf = latest at-or-before,
    // which is exactly the version to start AFTER); a timestamp
    // predating every retained commit streams from the full first
    // snapshot. Resolution persists in the checkpoint like
    // startingVersion="latest" does: retention moving the marker
    // horizon must not shift a restart's boundary.
    val requestedStart: Option[Long] =
      parameters.get("startingTimestamp").map { ts =>
        val micros = org.apache.spark.sql.catalyst.util.DateTimeUtils
          .stringToTimestampAnsi(
            org.apache.spark.unsafe.types.UTF8String.fromString(ts),
            java.time.ZoneId.of(sqlContext.sparkSession.sessionState.conf
              .sessionLocalTimeZone))
        scala.util.Try(
          Lake.versionAsOf(sqlContext.sparkSession, root, micros))
          .getOrElse(-1L)
      }.orElse(parameters.get("startingVersion").map {
        case "latest" => Lake.currentVersion(sqlContext.sparkSession, root)
          .getOrElse(-1L)
        case n => n.toLongOption.getOrElse(throw new IllegalArgumentException(
          s"startingVersion must be \"latest\" or a version number, got $n")) - 1L
      })
    val startAfter = requestedStart.map { resolved =>
      val p = new Path(metadataPath, "graft-lake-start")
      val fs = p.getFileSystem(
        sqlContext.sparkSession.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) {
        val in = fs.open(p)
        val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        txt.trim.toLong
      } else {
        fs.mkdirs(p.getParent)
        val tmp = new Path(metadataPath, "graft-lake-start.tmp")
        val out = fs.create(tmp, true)
        try out.write(resolved.toString.getBytes("UTF-8")) finally out.close()
        if (!fs.rename(tmp, p) && !fs.exists(p))
          throw new java.io.IOException(s"cannot persist start version at $p")
        resolved
      }
    }
    val ignoreDeletes = parameters.get("ignoreDeletes").exists(_.toBoolean)
    val maxVersions = parameters.get("maxVersionsPerTrigger").map { n =>
      val v = n.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"maxVersionsPerTrigger must be a positive number, got $n"))
      require(v > 0, s"maxVersionsPerTrigger must be positive, got $v")
      v
    }
    val maxBytes = parameters.get("maxBytesPerTrigger").map { n =>
      val v = n.toLongOption.getOrElse(throw new IllegalArgumentException(
        s"maxBytesPerTrigger must be a positive byte count, got $n"))
      require(v > 0, s"maxBytesPerTrigger must be positive, got $v")
      v
    }
    val keys = cdfKeysOf(sqlContext.sparkSession, root, parameters)
    require(keys.isEmpty || !ignoreDeletes,
      "readChangeFeed already carries deletes as retraction rows; " +
        "ignoreDeletes does not compose with it")
    val base = schema.getOrElse(liveSchema(sqlContext, root))
    keys.toSeq.flatten.foreach(k => require(base.fieldNames.contains(k),
      s"keyCols column '$k' not in the table schema " +
        base.fieldNames.mkString("[", ", ", "]")))
    val eff =
      if (keys.isEmpty || base.fieldNames.contains("change_type")) base
      else StructType(base.fields.toSeq :+
        org.apache.spark.sql.types.StructField("change_type",
          org.apache.spark.sql.types.StringType) :+
        org.apache.spark.sql.types.StructField("commit_version",
          org.apache.spark.sql.types.LongType))
    new LakeStreamSource(sqlContext, root, eff, startAfter, ignoreDeletes,
      maxVersions, keys, maxBytes)
  }
}
