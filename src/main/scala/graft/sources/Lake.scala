package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Table-maintenance operations for the parquet lake.
  *
  * The reference's only maintenance job is the dedup repair
  * (/root/reference/dags/Main.py:28-47, re-expressed as
  * `Newsmaper.maintenance` + `overwriteRetained`); at 100 TB the same
  * append-only sinks grow a second pathology the reference never
  * meets: SMALL FILES. Every `loadTo` batch appends its own files, so
  * a year of hourly loads leaves ~10⁴ files per table — each scan
  * then pays listing + open cost per file and the 128 MB split floor
  * stops mattering. Compaction rewrites the table into
  * size-targeted files through the same crash-safe staged swap the
  * dedup repair uses (write staging → keep `.bak` until live —
  * no crash point loses the table).
  *
  * The manifest-committed tables below additionally provide: TIME
  * TRAVEL ([[readCommittedAt]] — retention is the read horizon),
  * SCHEMA EVOLUTION (manifests carry the committed schema; appends
  * merge add-nullable-column changes), per-row copy-on-write MERGE
  * INTO ([[mergeCommitted]] — only dirs holding touched keys
  * rewrite), and committed-table compaction ([[compactCommitted]]).
  */
object Lake
    extends LakeStatsMeta with LakeTableMeta with LakeDvOps
    with LakeReads with LakeCommits with LakeMutations with LakeMaint {

  // ---- manifest-committed tables -----------------------------------
  //
  // The staged-swap family (`Newsmaper.overwriteRetained`, the
  // streaming fold) renames DIRECTORIES, which leaves a momentary
  // window where `path` is absent between the two renames — honest,
  // documented, but real for a concurrent reader. The lakehouse
  // answer is to never move data at all: a table ROOT holds immutable
  // versioned data dirs `v<N>` plus empty commit markers
  // `_commit_<N>`, and the COMMIT POINT is the atomic creation of one
  // new marker file. Readers resolve max committed N and read
  // `v<N>`; at every crash point of the write protocol that
  // resolution finds a complete, readable table:
  //
  //   1. crash mid-write of `v<N+1>`  -> no marker, readers stay on N
  //   2. crash after `v<N+1>` done, before marker -> same
  //   3. crash after marker, before prune -> readers see N+1; the
  //      stale version is pruned by the NEXT commit
  //
  // This is HDFSMetadataLog's protocol (public Spark), with the
  // marker BODY carrying the snapshot: the newline-separated list of
  // data dirs that compose version N. An OVERWRITE commit lists only
  // its own new dir; an APPEND commit lists the previous snapshot's
  // dirs plus its new one — so at 100 TB an append writes O(batch)
  // data and never rewrites the table, while readers still flip
  // between immutable snapshots atomically. Content-bearing markers
  // are committed by writing `_commit_<N>.tmp` and RENAMING it into
  // place — single-file rename is the atomic primitive on HDFS and
  // POSIX, so no reader ever sees a half-written manifest. (An empty
  // marker body is read as `[v<N>]` for back-compat with the
  // body-less overwrite-only protocol.)
  //
  // CONCURRENT WRITERS (optimistic concurrency, the Delta/Iceberg
  // shape): append and overwrite stage their batch ONCE under a
  // writer-unique `z<nonce>` dir that no other writer ever contests,
  // then claim a version by publishing the manifest put-if-absent
  // ([[publishIfAbsent]]). A loser re-reads the log: an APPEND
  // rebases on the new live snapshot and retries as long as every
  // intervening commit was itself append-shaped (no dirs removed) —
  // two interleaved appenders both commit, serialized, no lost dirs;
  // across a dir-removing commit (overwrite/merge/delete/compact) it
  // refuses with `ConcurrentModificationException` (the world the
  // caller derived the batch against is gone — re-derive and retry).
  // An OVERWRITE loser always gets that refusal, as do ROW-CHANGING
  // DML commits (merge/delete/update) — they read a snapshot, so any
  // concurrent commit invalidates them; their rewrites stage under
  // writer-unique dirs too, with the version slot pinned BEFORE the
  // rewrite so an interloper always forces the loud refusal, never a
  // silently dropped dir. LAYOUT-ONLY maintenance losers
  // (compact/cluster/REORG purge) instead REBASE across interlopers
  // that never touched their sources or frozen metadata
  // ([[maintenanceRebase]] — Delta's disjoint-file OPTIMIZE conflict
  // rule): an append landing mid-compaction costs the compaction one
  // manifest retry, not a re-run of a terabyte rewrite. Streaming folds keep version-named pre-written dirs
  // under their own single-writer checkpoint-lineage contract.
  // `retain` keeps that
  // many SUPERSEDED snapshots so an in-flight reader of the previous
  // version survives a concurrent commit — the same reader-retention
  // lever as any lakehouse VACUUM horizon — and pruning deletes only
  // data dirs no retained snapshot references.

  private[sources] def fsFor(spark: SparkSession, root: String) =
    org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)

  /** Writer-unique staged data dir name. Staged dirs are fully
    * written BEFORE any commit attempt and are never contested — the
    * version slot is claimed by the manifest publish alone. The `z`
    * prefix keeps them outside the `v<version>` sweep grammar (an
    * in-flight writer's dir must never be swept by a concurrent
    * commit's retention prune — it has no version yet) while staying
    * visible to readers (no `_`/`.` prefix, which Hadoop listings
    * treat as hidden). Once committed they are swept by reference
    * like any dir; crash-ABANDONED ones are invisible to
    * reference-based sweeping and are reclaimed by
    * [[vacuumCommitted]]'s staleness horizon. */
  private[sources] def stagedDirName(): String =
    "z" + java.util.UUID.randomUUID().toString.replace("-", "").take(12)

  /** The put-if-absent commit seam ([[LakeLogStore]] — Delta's
    * LogStore): local/HDFS default, swappable for an object store's
    * conditional put. `var` only as a TEST seam — specs inject
    * failure shapes (a contested slot) without racing real threads;
    * production always runs [[HadoopLogStore]]. */
  private[graft] var logStore: LakeLogStore = HadoopLogStore

  private[sources] def publishIfAbsent(fs: org.apache.hadoop.fs.FileSystem,
      tmp: Path, dest: Path): Boolean =
    logStore.publishIfAbsent(fs, tmp, dest)

  /** The table root as a java.nio path when the filesystem is local —
    * the fast-listing seam: Hadoop's RawLocalFileSystem materializes a
    * full FileStatus (owner/perm stat) per entry, ~20 µs each, which a
    * 10^5-dir root turns into seconds PER LISTING; a DirectoryStream
    * reads names only. Non-local filesystems keep the Hadoop path
    * (HDFS/S3 listings are server-side efficient). */
  private[sources] def localDirOf(fs: org.apache.hadoop.fs.FileSystem,
      r: Path): Option[java.nio.file.Path] =
    // getUri, NOT getScheme: the FileSystem base class's getScheme
    // default THROWS for implementations that never overrode it
    if (fs.getUri.getScheme != "file") None
    else Some(java.nio.file.Paths.get(fs.makeQualified(r).toUri.getPath))

  /** Root child NAMES as a membership set, one listing. */
  private[sources] def rootChildNames(fs: org.apache.hadoop.fs.FileSystem,
      r: Path): Set[String] =
    rootChildren(fs, r).iterator.map(_._1).toSet

  /** Root children as (name, isDirectory), one listing. */
  private[sources] def rootChildren(fs: org.apache.hadoop.fs.FileSystem,
      r: Path): Seq[(String, Boolean)] =
    localDirOf(fs, r) match {
      case Some(dir) =>
        if (!java.nio.file.Files.isDirectory(dir)) Nil
        else {
          val b = Seq.newBuilder[(String, Boolean)]
          val st = java.nio.file.Files.newDirectoryStream(dir)
          try st.forEach(p => b += ((p.getFileName.toString,
            java.nio.file.Files.isDirectory(p))))
          finally st.close()
          b.result()
        }
      case None =>
        if (!fs.exists(r)) Nil
        else fs.listStatus(r).iterator
          .map(st => (st.getPath.getName, st.isDirectory)).toSeq
    }

  private[sources] def committedVersions(fs: org.apache.hadoop.fs.FileSystem,
      r: Path): Seq[Long] =
    localDirOf(fs, r) match {
      case Some(dir) =>
        if (!java.nio.file.Files.isDirectory(dir)) Nil
        else {
          val out = Seq.newBuilder[Long]
          val st = java.nio.file.Files.newDirectoryStream(dir, "_commit_*")
          try st.forEach { p =>
            val n = p.getFileName.toString
            if (!n.endsWith(".tmp"))
              n.stripPrefix("_commit_").toLongOption.foreach(out += _)
          } finally st.close()
          out.result().sorted
        }
      case None =>
        if (!fs.exists(r)) Nil
        else fs.listStatus(r).iterator
          .map(_.getPath.getName)
          .collect { case n if n.startsWith("_commit_") && !n.endsWith(".tmp") =>
            n.stripPrefix("_commit_").toLongOption }
          .flatten.toSeq.sorted
    }

  /** Pin the OCC slot for a commit that carries state read from
    * snapshot `cur` — the version [[currentVersion]] actually
    * resolved. The slot is `cur + 1`, NOT `max(markers) + 1` from a
    * second listing: a commit landing between the snapshot read and
    * the listing would otherwise shift the pin past its own slot, and
    * the put-if-absent publish would SUCCEED while carrying dirs/props
    * read from the stale snapshot — silently dropping the interleaved
    * commit (the exact lost update the pin exists to prevent). Pinning
    * `cur + 1` makes that race collide at the interloper's marker and
    * refuse loudly instead.
    *
    * The only slots skipped are those owned by markers whose data dirs
    * are provably LOST (out-of-protocol damage: `currentVersion`
    * defensively ignored them, but their numbers are burned — a
    * publish there would conflict forever). A healthy newer marker is
    * an interleaved commit and the pin stops at it. A marker that
    * vanishes mid-check was retention-pruned; its slot is treated as
    * contested and the publish itself decides. */
  private[sources] def pinSlot(fs: org.apache.hadoop.fs.FileSystem, r: Path,
      cur: Long): Long = {
    var next = cur + 1
    val newer = committedVersions(fs, r).filter(_ > cur)
    var halted = false
    newer.foreach { v =>
      if (!halted && v == next) {
        val defective =
          try !manifestDirs(fs, r, v).forall(d => fs.exists(new Path(r, d)))
          catch { case _: java.io.FileNotFoundException => false }
        if (defective) next = v + 1 else halted = true
      }
    }
    next
  }

  // Manifest body = newline-separated data-dir names, plus optional
  // `#`-prefixed metadata lines: TABLE-LEVEL ones ([[TableMeta]] — the
  // committed schema, layout, constraints, properties, allocator
  // marks) and PER-DIR ones ([[DirMeta]] — stats, file stats, blooms,
  // partition values, DVs).
  //
  // A manifest (`_commit_<v>`) is IMMUTABLE once published — the
  // protocol renames it in atomically and only ever DELETES it — but
  // the accessors below each parse it independently, so one relation
  // assembly reads the same KB-sized file a dozen times: noise on a
  // local FS, a dozen GETs of planning latency per query on an object
  // store. This JVM-wide LRU collapses those to one read, VALIDATED by
  // (modTime, length) on every hit (one HEAD instead of one GET), so
  // even an out-of-protocol in-place rewrite (hand surgery, test
  // scenarios, a backup restored over a live root) reads correctly.
  //
  // Every metadata cache here is bounded by WEIGHT (retained lines /
  // derived-view entries), not just entry count: at 10^6 dirs one
  // expanded body is ~10^6 line strings, so a 64-ENTRY bound could
  // still pin tens of GB on a driver touching many large tables or
  // versions. The caps below bound worst-case retention to the order
  // of a few large snapshots (~10^2 MB), while typical bodies
  // (10^0-10^3 lines) never come near eviction.

  /** Access-order LRU bounded by entry count AND total entry weight
    * (line count for body caches, per-dir map entries for derived
    * views). Entries validate by the source file's (modTime, length)
    * on every hit. The just-inserted entry is never evicted — the
    * cache always admits the working snapshot, however large. */
  private[graft] final class MetaCache[V <: AnyRef](
      maxEntries: Int, maxWeight: Long, weigh: V => Long) {
    private val map =
      new java.util.LinkedHashMap[String, (Long, Long, V, Long)](64, 0.75f, true)
    private var weight = 0L
    def get(key: String, modTime: Long, len: Long): Option[V] = synchronized {
      val hit = map.get(key)
      if (hit != null && hit._1 == modTime && hit._2 == len) Some(hit._3)
      else None
    }
    def put(key: String, modTime: Long, len: Long, v: V): Unit = synchronized {
      val w = math.max(1L, weigh(v))
      val old = map.put(key, (modTime, len, v, w))
      weight += w - (if (old != null) old._4 else 0L)
      while ((map.size() > maxEntries || weight > maxWeight) && map.size() > 1) {
        val eldest = map.entrySet().iterator().next()
        if (eldest.getKey == key) return // newest survives; nothing colder left
        weight -= eldest.getValue._4
        map.remove(eldest.getKey); ()
      }
    }
    def clear(): Unit = synchronized { map.clear(); weight = 0L }
    /** Total retained weight — the bound the budget spec asserts. */
    def retainedWeight: Long = synchronized(weight)
    def entryCount: Int = synchronized(map.size())
  }

  // Budgets are sized so the FULL metadata of a few 10^6-dir
  // snapshots stays resident (a snapshot's segments ≈ 10^6 cached
  // lines, its expansion ≈ 10^6 lines, its two derived views — the
  // dir list and the per-dir [[DirMeta]] map, one weight unit per dir
  // entry however many of its five line kinds it holds — ≈ 2·10^6
  // entries): ~1-3 GB worst case, vs tens of GB unbounded. Budgets
  // that fit LESS than one working set thrash — probe-measured: a 2M
  // derived budget at 10^6 dirs rebuilt views every access and nearly
  // TRIPLED commit wall.
  private[sources] val manifestCacheMax = 256
  private[graft] val manifestCache =
    new MetaCache[Seq[String]](manifestCacheMax, 4000000L, _.size.toLong)

  // ---- protocol feature gates (Delta's table-features contract) ----
  //
  // A semantics-bearing manifest line changes WHICH ROWS a snapshot
  // contains or HOW its bytes map to columns — a reader that merely
  // skipped it (the default for unknown `#` lines) would return wrong
  // answers silently: a pre-DV build would resurrect soft-deleted
  // rows, a pre-colmap build would read dropped columns' bytes back.
  // So every commit that writes such a construct stamps a
  // `#require=<feature,…>` line naming EXACTLY the features its
  // snapshot carries, and every manifest parse REFUSES a `#require=`
  // naming a feature this build does not recognize — loudly, before
  // any interpretation happens (read, commit-on-top, vacuum, history
  // — they all parse through [[manifestBody]]). Unknown `#` lines
  // WITHOUT a `#require=` entry keep reading as before: that is the
  // forward-compat channel for OPTIONAL metadata (stats, blooms,
  // props — losing them degrades performance, never correctness).
  // Legacy manifests have no `#require=` line and read unchanged.

  /** Reader/writer features this build understands: merge-on-read
    * deletion vectors, column mapping (rename/drop as metadata),
    * identity columns, generated partition columns, hash-bucketed
    * layout, forward-only partition-spec evolution, the COPY INTO
    * `#ingested=` ledger, column DEFAULT backfill, general generated
    * columns, stable row tracking, and tiered manifests (`seg` — the
    * per-dir metadata lives in immutable side files the marker body
    * references; a build without it would read a PARTIAL dir list). */
  private[sources] val SupportedFeatures: Set[String] =
    Set("dv", "colmap", "colmap2", "identity", "idmode", "genpart",
      "bucket", "partevo", "ingest", "default", "gencol", "rowtracking",
      "seg")

  private[sources] def checkRequiredFeatures(p: Path, lines: Seq[String]): Unit = {
    val unknown = TableMeta.requiresOf(lines).filterNot(SupportedFeatures)
    if (unknown.nonEmpty) throw new UnsupportedOperationException(
      s"the manifest $p requires table feature(s) " +
        unknown.sorted.mkString("[", ", ", "]") +
        " this build does not support — reading (or committing on " +
        "top) would silently misinterpret the snapshot, e.g. " +
        "resurrect soft-deleted rows or misread remapped columns; " +
        "upgrade the engine to one that lists them in " +
        "Lake.SupportedFeatures")
  }

  // ---- tiered manifests (the Iceberg manifest-list shape) -----------
  //
  // Past ~10^3 dirs, rewriting every per-dir `#stats_`/`#fstats_`/
  // `#bloom_`/`#part_`/`#dv_` line (and the dir list itself) in each
  // marker makes a commit's manifest write O(table), not O(batch) —
  // the one cost that would still grow with table size at 100 TB. The
  // tiered form SEGMENTS that per-dir metadata into immutable side
  // files (`_seg_<nonce>`, same line grammar as the body: dir names +
  // their per-dir lines), referenced from the marker body as
  // `#seg=<name>:<ndirs>`. A commit then writes one new segment for
  // its own dirs and carries untouched segments BY REFERENCE — exactly
  // how data dirs already work — so commit bytes are O(batch) at any
  // table size. Mutation stays O(batch) too, without breaking segment
  // immutability:
  //   - `#segdrop=<dir>` inline: the dir (and all its per-dir lines)
  //     is removed from whatever segment lists it;
  //   - an inline per-dir line for a segment-listed dir REPLACES that
  //     dir's ENTIRE per-dir line set from the segment (writers emit
  //     the full effective set, so removal — a materialized-away DV —
  //     is expressible).
  // Drift (drops + overrides) folds away when a segment's waste
  // fraction crosses the rewrite threshold or the merge policy folds
  // small segments together — LSM-style, amortized O(batch · log n).
  // Readers see NONE of this: [[manifestBody]] expands references
  // transparently (and caches the expansion), so every accessor —
  // dirs, stats, parts, DVs, CDF, history — reads one logical body.
  // Semantics-bearing → `#require=seg`: a build without it would read
  // only the inline lines and silently serve a PARTIAL table.
  private[sources] val SegPrefix = "#seg="
  private[sources] val SegDropPrefix = "#segdrop="

  // `#segsum_<name>=<stats json>` — the SEGMENT SUMMARY (Iceberg's
  // manifest-list partition summaries): the fold of the segment's
  // dirs' stats ranges and partition values over every column ALL of
  // them bound ([[foldSegSummary]]'s soundness contract). Selective
  // scan planning evaluates the predicate tree against the summary
  // BEFORE opening the segment — a provably-excluded segment is
  // skipped without the object-store GET, so planning reads
  // O(matching segments) side files, not O(log n), at 10^5+ dirs.
  // OPTIONAL metadata, not a `#require=` feature: a build that skips
  // the line merely reads every segment (degraded planning, identical
  // answers), and a segment without one is simply never skipped.
  // Summaries are stamped at segment WRITE and carried by reference
  // with their segment; a carried summary is dropped the moment an
  // inline override rewrites a member dir's stats/partition lines
  // (DV-only overrides keep it — vectors don't move value ranges).
  private[sources] val SegSumPrefix = "#segsum_"

  /** `#segsum_` lines of a RAW body: segment name -> summary json. */
  private[sources] def segSumsOfRaw(raw: Seq[String]): Map[String, String] =
    raw.collect {
      case l if l.startsWith(SegSumPrefix) &&
          l.indexOf('=', SegSumPrefix.length) > SegSumPrefix.length =>
        val i = l.indexOf('=', SegSumPrefix.length)
        l.substring(SegSumPrefix.length, i) -> l.substring(i + 1)
    }.toMap

  /** Times the `graft.seg.max` backstop evicted a segment past the
    * binary-counter policy — observability only (probe-asserted zero
    * through 10^6-dir growth; see the commit engine's merge policy). */
  private[graft] val segBackstopFires =
    new java.util.concurrent.atomic.AtomicLong

  /** Planning ledger: segment side files READ vs SKIPPED-BY-SUMMARY
    * (and the dirs those skipped segments held) during scan planning.
    * Pure observability — probes and the q196 proof columns read it;
    * the engine never consults it. JVM-wide like the caches. */
  private[graft] object SegPlanLedger {
    val segsRead = new java.util.concurrent.atomic.AtomicLong
    val segsSkipped = new java.util.concurrent.atomic.AtomicLong
    val dirsSkippedUnread = new java.util.concurrent.atomic.AtomicLong
    def reset(): Unit = {
      segsRead.set(0); segsSkipped.set(0); dirsSkippedUnread.set(0)
    }
  }

  /** Parse one `#seg=<name>:<ndirs>` line — THE one place the ref
    * grammar is read (manifestSegRefs and the expansion both go
    * through here; a grammar change updated in one reader but not the
    * other would silently read a partial table). */
  private[sources] def parseSegRef(l: String): (String, Int) = {
    val body = l.stripPrefix(SegPrefix)
    val i = body.lastIndexOf(':')
    if (i <= 0) (body, 0)
    else (body.take(i), body.drop(i + 1).toIntOption.getOrElse(0))
  }

  /** The segment references of a manifest, in body order, RAW (no
    * expansion): (segment file name, recorded dir count). */
  private[graft] def manifestSegRefs(fs: org.apache.hadoop.fs.FileSystem,
      r: Path, v: Long): Seq[(String, Int)] =
    manifestBodyRaw(fs, r, v).collect {
      case l if l.startsWith(SegPrefix) => parseSegRef(l)
    }

  /** Immutable segment file contents (cached like manifests). */
  private[sources] def segmentLines(fs: org.apache.hadoop.fs.FileSystem,
      r: Path, name: String): Seq[String] =
    readCachedLines(fs, new Path(r, name))

  private def readCachedLines(fs: org.apache.hadoop.fs.FileSystem,
      p: Path): Seq[String] = {
    val st = fs.getFileStatus(p)
    val key = fs.getUri.toString + "::" + fs.makeQualified(p).toUri.getPath
    manifestCache.get(key, st.getModificationTime, st.getLen) match {
      case Some(hit) => return hit
      case None =>
    }
    val in = fs.open(p)
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val lines = body.split("\n").map(_.trim).filter(_.nonEmpty).toSeq
    manifestCache.put(key, st.getModificationTime, st.getLen, lines)
    lines
  }

  /** The manifest's OWN lines — segment references unexpanded. This is
    * what the commit engine diffs against (it must see the segment
    * STRUCTURE) and what retention/vacuum walk for segment liveness;
    * every PER-DIR accessor reads the expanded [[manifestBody]]. */
  private[sources] def manifestBodyRaw(fs: org.apache.hadoop.fs.FileSystem,
      r: Path, v: Long): Seq[String] = {
    val p = new Path(r, s"_commit_$v")
    val lines = readCachedLines(fs, p)
    checkRequiredFeatures(p, lines)
    lines
  }

  /** The table-level state of snapshot `v`: ONE [[TableMeta]] parse
    * of the RAW body per manifest (table-level lines live inline, so
    * tiered tables never pay the segment expansion for it), memoized
    * and validated like the derived views. The per-dir views
    * ([[dirMeta]], [[manifestDirs]]) MUST keep reading the expanded
    * body. */
  private[graft] def tableMeta(fs: org.apache.hadoop.fs.FileSystem,
      r: Path, v: Long): TableMeta =
    memoOf(tableMetaCache, fs, r, v, "meta")(
      TableMeta.parse(manifestBodyRaw(fs, r, v)))

  /** The LIVE (latest committed) snapshot's table-level state; empty
    * when the root holds no commit yet. */
  private[sources] def liveMeta(fs: org.apache.hadoop.fs.FileSystem,
      r: Path): TableMeta =
    committedVersions(fs, r).lastOption.map(tableMeta(fs, r, _))
      .getOrElse(TableMeta.empty)

  // expanded bodies cached separately: validated by the MANIFEST's
  // (modTime, length) — the segments it references are immutable.
  // Line-weighted (2M-line budget): expanded bodies are exactly the
  // entries that reach 10^6 lines each at probe scale.
  private[graft] val expandedCache =
    new MetaCache[Seq[String]](64, 4000000L, _.size.toLong)

  /** The one expansion walk (full and partial paths share it):
    * segment references expand through `keepSeg` — the full expansion
    * keeps every segment; the partial scan path skips summary-excluded
    * ones WITHOUT reading their files — with `#segdrop=` tombstones
    * and inline per-dir overrides applied, and the tiered bookkeeping
    * lines (`#seg=`/`#segdrop=`/`#segsum_`) erased so the result reads
    * like an untiered body. Returns (lines, dirs held by skipped
    * segments — their recorded live counts, maintained exactly by
    * every carrying commit). */
  private def expandRaw(fs: org.apache.hadoop.fs.FileSystem, r: Path,
      raw: Seq[String], keepSeg: ((String, Int)) => Boolean):
      (Seq[String], Long) = {
    val drops = raw.iterator.filter(_.startsWith(SegDropPrefix))
      .map(_.stripPrefix(SegDropPrefix)).toSet
    // inline per-dir lines REPLACE the listed dir's whole segment set
    val overridden = raw.iterator.flatMap(DirMeta.perDirKey).toSet
    var unread = 0L
    val out = Seq.newBuilder[String]
    raw.foreach { l =>
      if (l.startsWith(SegPrefix)) {
        val ref = parseSegRef(l)
        if (!keepSeg(ref)) unread += ref._2
        else segmentLines(fs, r, ref._1).foreach { sl =>
          if (!sl.startsWith("#")) { if (!drops(sl)) out += sl }
          else DirMeta.perDirKey(sl) match {
            case Some(d) => if (!drops(d) && !overridden(d)) out += sl
            case None => // segments carry only per-dir lines; skip junk
          }
        }
      } else if (!l.startsWith(SegDropPrefix) && !l.startsWith(SegSumPrefix))
        out += l
    }
    (out.result(), unread)
  }

  private[sources] def manifestBody(fs: org.apache.hadoop.fs.FileSystem, r: Path,
      v: Long): Seq[String] = {
    val raw = manifestBodyRaw(fs, r, v)
    if (!raw.exists(_.startsWith(SegPrefix))) return raw // untiered fast path
    val p = new Path(r, s"_commit_$v")
    val st = fs.getFileStatus(p)
    val key = fs.getUri.toString + "::" +
      fs.makeQualified(p).toUri.getPath + "::expanded"
    expandedCache.get(key, st.getModificationTime, st.getLen) match {
      case Some(hit) => return hit
      case None =>
    }
    val lines = expandRaw(fs, r, raw, _ => true)._1
    expandedCache.put(key, st.getModificationTime, st.getLen, lines)
    lines
  }

  /** PARTIAL expansion for predicate scan planning (the Iceberg
    * manifest-list read path): a segment whose `#segsum_` summary lets
    * `segExcludes` prove no member dir can match is skipped WITHOUT
    * READING the segment file — its dirs are excluded wholesale, and
    * on an object store the planning GET never happens. Summaries are
    * evidence in the same grammar as per-dir stats, and
    * [[foldSegSummary]]'s contract makes summary-level exclusion IMPLY
    * per-dir exclusion for every member (the partial≡full agreement
    * LakeSegSpec's property scenario pins with random predicates).
    * Returns (partial body lines, dirs excluded unread). NOT cached —
    * the survivors vary per predicate; the segment files themselves
    * ride the line cache, so repeated local queries re-concatenate
    * cached lines rather than re-reading files. */
  private[sources] def manifestBodyPartial(fs: org.apache.hadoop.fs.FileSystem,
      r: Path, v: Long,
      segExcludes: Map[String, (NormVal, NormVal)] => Boolean):
      (Seq[String], Long) = {
    val raw = manifestBodyRaw(fs, r, v)
    if (!raw.exists(_.startsWith(SegPrefix))) return (raw, 0L)
    val sums = segSumsOfRaw(raw)
    val res = expandRaw(fs, r, raw, { case (name, _) =>
      val skip = sums.get(name).exists(j => segExcludes(parseStatsJson(j)))
      if (skip) SegPlanLedger.segsSkipped.incrementAndGet()
      else SegPlanLedger.segsRead.incrementAndGet()
      !skip
    })
    if (res._2 > 0) { SegPlanLedger.dirsSkippedUnread.addAndGet(res._2); () }
    res
  }

  // Derived-view memo: the per-dir views (the dir list and the
  // [[DirMeta]] map) each rebuild an O(dirs) structure from the body
  // lines on EVERY call, and one relation assembly calls both many
  // times — at probe scale (10^5-10^6 dirs)
  // those rebuilds dominate planning. Keyed like the body caches and
  // validated by the manifest's (modTime, length); entries are derived
  // purely from the (immutable once published) body, so a hit is
  // always exact.
  // weighed by collection size: a derived view of a 10^6-dir snapshot
  // holds ~10^6 map entries (each keying line-sized strings)
  private[graft] val derivedCache =
    new MetaCache[AnyRef](128, 16000000L, {
      case m: scala.collection.Map[_, _] => m.size.toLong
      case s: Seq[_] => s.size.toLong
      case _ => 1L
    })

  private def derivedKey(fs: org.apache.hadoop.fs.FileSystem, p: Path,
      kind: String): String =
    fs.getUri.toString + "::" + fs.makeQualified(p).toUri.getPath + "::" + kind

  // parsed table-level state, one small entry per manifest — kept
  // apart from the derived views so it never competes with their
  // O(dirs) budget
  private[graft] val tableMetaCache =
    new MetaCache[AnyRef](manifestCacheMax, manifestCacheMax.toLong, _ => 1L)

  private def memoOf[T <: AnyRef](cache: MetaCache[AnyRef],
      fs: org.apache.hadoop.fs.FileSystem, r: Path, v: Long, kind: String)(
      build: => T): T = {
    val p = new Path(r, s"_commit_$v")
    val st = fs.getFileStatus(p)
    val key = derivedKey(fs, p, kind)
    cache.get(key, st.getModificationTime, st.getLen) match {
      case Some(hit) => return hit.asInstanceOf[T]
      case None =>
    }
    val out = build
    cache.put(key, st.getModificationTime, st.getLen, out)
    out
  }

  private[sources] def derivedOf[T <: AnyRef](
      fs: org.apache.hadoop.fs.FileSystem, r: Path, v: Long, kind: String)(
      build: Seq[String] => T): T =
    memoOf(derivedCache, fs, r, v, kind)(build(manifestBody(fs, r, v)))

  /** Seed the derived-view memo for a version the COMMIT path just
    * published, with views derived INCREMENTALLY from the previous
    * snapshot's (persistent structure-sharing maps, O(removed + batch)
    * update ops) — so the writer's next commit, and every read on this
    * driver, never pays the O(dirs) expansion-and-parse rebuild the
    * cold path costs at 10^5+ dirs. The seeded value MUST equal what
    * `build(manifestBody(...))` would produce for a cold reader —
    * LakeSegSpec's seeding-agreement scenario clears the caches,
    * re-parses, and compares after every commit shape. */
  private[sources] def seedDerived(fs: org.apache.hadoop.fs.FileSystem,
      r: Path, v: Long, kind: String, value: AnyRef): Unit = {
    val p = new Path(r, s"_commit_$v")
    val st = try fs.getFileStatus(p)
      catch { case _: java.io.FileNotFoundException => return } // raced away
    derivedCache.put(derivedKey(fs, p, kind),
      st.getModificationTime, st.getLen, value)
  }

  /** TEST SEAM: drop every metadata cache so a spec can compare the
    * COMMIT path's seeded derived views against a cold re-parse (the
    * seeding-agreement invariant — a cross-JVM reader sees exactly the
    * cold parse). */
  private[graft] def clearMetaCaches(): Unit = {
    manifestCache.clear()
    expandedCache.clear()
    derivedCache.clear()
    tableMetaCache.clear()
  }

  /** TEST SEAM: the two derived views of one snapshot, as the
    * accessors serve them (seeded by the commit path when warm, parsed
    * cold otherwise) — (dirs, per-dir metadata). */
  private[graft] def derivedViewsForTest(spark: SparkSession, root: String,
      v: Long): (Seq[String], Map[String, DirMeta]) = {
    val fs = fsFor(spark, root); val r = new Path(root)
    (manifestDirs(fs, r, v), dirMeta(fs, r, v))
  }

  /** The per-dir metadata of snapshot `v`, keyed by dir: ONE
    * [[DirMeta]] parse of the expanded body, memoized like the dir
    * list (and seeded by the commit path). */
  private[sources] def dirMeta(fs: org.apache.hadoop.fs.FileSystem, r: Path,
      v: Long): Map[String, DirMeta] =
    derivedOf(fs, r, v, "dirMeta")(DirMeta.parse(_))

  private[sources] def manifestDirs(fs: org.apache.hadoop.fs.FileSystem, r: Path,
      v: Long): Seq[String] =
    derivedOf(fs, r, v, "dirs") { body =>
      val dirs = body.filterNot(_.startsWith("#"))
      if (dirs.isEmpty) Seq(s"v$v") else dirs // body-less back-compat
    }
}
