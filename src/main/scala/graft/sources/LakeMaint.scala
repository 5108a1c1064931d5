package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import graft.operators.ShuffleWidth

/** Maintenance: VACUUM, compaction, z-order clustering, REORG purge, in-place parquet adoption, and layout reports.
  *
  * Mechanically split from the [[Lake]] object (one object, many
  * files): every member keeps its semantics and its package-private
  * reach; [[Lake]] mixes the traits back into the single public
  * surface. See Lake.scala for the protocol overview. */
private[graft] trait LakeMaint { this: Lake.type =>

  /** VACUUM: enforce a retention horizon on a committed table WITHOUT
    * a data commit — every commit already prunes with its own
    * `retain`, but a table that stopped being WRITTEN never gets
    * another chance to reclaim its history; this is that chance (the
    * lakehouse VACUUM command). Keeps the live snapshot plus the
    * newest `retain` superseded readable versions; narrows the
    * [[readCommittedAt]] time-travel horizon accordingly (readers of
    * pruned versions fail fast naming the remaining horizon). Also
    * reclaims orphan dirs from past crashed writers below the live
    * version; an in-progress writer dir (above it) is never touched.
    *
    * `staleStagedMs` additionally reclaims crash-ABANDONED optimistic
    * writes: staged `z<nonce>` dirs referenced by no manifest, and
    * orphaned `_commit_*.tmp` marker files, older than the horizon.
    * Delta's VACUUM contract applies verbatim — never set the horizon
    * below your longest-running writer's staging time, or an
    * in-flight commit's data is swept from under it (the 7-day
    * default is Delta's own).
    * @return (pruned manifest versions, swept data dir names) */
  /** @param dryRun report what WOULD be reclaimed (pruned versions,
    *   swept dirs/markers) without deleting anything — Delta's
    *   `VACUUM … DRY RUN`, the audit step before enforcing a horizon. */
  def vacuumCommitted(spark: SparkSession, root: String,
      retain: Int = -1,
      staleStagedMs: Long = 7L * 24 * 60 * 60 * 1000,
      dryRun: Boolean = false): (Seq[Long], Seq[String]) = {
    require(retain >= -1,
      s"retain must be >= 0 (or -1 = inherit $PropRetain), got $retain")
    require(staleStagedMs >= 0, s"staleStagedMs must be >= 0, got $staleStagedMs")
    val fs = fsFor(spark, root)
    val r = new Path(root)
    if (committedVersions(fs, r).isEmpty)
      throw new java.util.NoSuchElementException(s"no committed table at $root")
    // VACUUM prunes with the table's own horizon unless overridden —
    // the raw -1 sentinel must never reach the splitAt arithmetic
    val retainEff =
      if (retain >= 0) retain
      else liveMeta(fs, r).props.get(PropRetain).flatMap(_.toIntOption)
        .filter(_ >= 0).getOrElse(1)
    val (pruned, swept) = pruneRetention(fs, r, retainEff, dryRun)
    val live = committedVersions(fs, r)
      .flatMap(v => manifestDirs(fs, r, v)).toSet
    val liveSegs = committedVersions(fs, r)
      .flatMap(v => manifestSegRefs(fs, r, v).map(_._1)).toSet
    val cutoff = System.currentTimeMillis() - staleStagedMs
    val aged = Seq.newBuilder[String]
    // one name-only listing, then a modification-time stat for the
    // (few) abandoned-looking CANDIDATES only — a full FileStatus
    // listing pays ~20 µs/entry on local filesystems, seconds at
    // probe scale (the same cost the commit path shed this round)
    rootChildren(fs, r).foreach { case (n, isDir) =>
      val abandoned =
        (isDir && n.startsWith("z") && !live.contains(n)) ||
          (!isDir && n.startsWith("_commit_") && n.endsWith(".tmp")) ||
          // a segment no committed manifest references is a crash-
          // abandoned loser's — reclaimable once stale (an in-flight
          // writer's fresh segment is younger than any sane horizon)
          (!isDir && n.startsWith("_seg_") && !liveSegs.contains(n))
      if (abandoned) {
        val p = new Path(r, n)
        val old = try fs.getFileStatus(p).getModificationTime < cutoff
          catch { case _: java.io.FileNotFoundException => false }
        if (old) {
          if (!dryRun) fs.delete(p, true)
          aged += n
        }
      }
    }
    (pruned, swept ++ aged.result())
  }

  /** DYNAMIC dir pruning for star joins — the lakehouse
    * dynamic-partition-pruning pattern as an explicit two-phase read:
    * the dimension side's distinct join keys (metadata-scale when the
    * join key is the fact's partition/date column — a filtered
    * calendar dim is a handful of rows) collect first, then the fact
    * reads through [[readCommittedWhere]] with the keys as an IN
    * predicate, so partition values, stats and blooms all prune dirs
    * BEFORE the join plans. At 100 TB this turns `fact ⋈ (filtered
    * dim)` from a full fact scan into O(matching partitions) I/O —
    * what Spark's built-in DPP does for hive-layout tables, expressed
    * through the manifest instead.
    *
    * The collected key set is capped: a dim whose filtered keys
    * exceed the cap would not have pruned meaningfully anyway — read
    * the full fact and let the join do the work.
    * @param dimKeys single-column DataFrame of join-key values
    * @return fact rows whose `factKeyCol` is in `dimKeys` (NULL keys
    *   never match, standard join semantics) */
  def readCommittedDimPruned(spark: SparkSession, root: String,
      factKeyCol: String, dimKeys: org.apache.spark.sql.DataFrame,
      maxKeys: Int = 10000): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    require(dimKeys.columns.length == 1,
      s"dimKeys must be a single-column key set, got " +
        dimKeys.columns.mkString("[", ", ", "]"))
    require(maxKeys > 0, s"maxKeys must be positive, got $maxKeys")
    val keys = dimKeys.distinct().limit(maxKeys + 1).collect()
      .map(_.get(0)).filter(_ != null)
    require(keys.length <= maxKeys,
      s"dim side carries more than $maxKeys distinct join keys — a key " +
        "set that large would not prune; read the fact with " +
        "readCommitted and join directly (or raise maxKeys)")
    if (keys.isEmpty) {
      val s = readCommitted(spark, root).schema
      return spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](), s)
    }
    readCommittedWhere(spark, root, col(factKeyCol).isin(keys.toSeq: _*))
  }

  /** `SHOW PARTITIONS` for a committed table: the live snapshot's
    * partition-value tuples with their dir counts, answered from ONE
    * manifest read — no data I/O, no listing (the values are exact
    * per-dir metadata, so this is how an operator inspects a 100 TB
    * fact's layout for free). Values decode to the committed schema's
    * column types; a NULL partition reports NULL. Dirs carrying no
    * recorded values (a z-ordered snapshot's global dir, pre-layout
    * legacy dirs) are not partitions and are not listed — the table's
    * declared layout is what this reports.
    * @return one row per distinct tuple: (partition cols…, n_dirs) */
  def partitionValues(spark: SparkSession, root: String,
      version: Option[Long] = None): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types._
    val fs = fsFor(spark, root)
    val r = new Path(root)
    val v = version.getOrElse(currentVersion(spark, root).getOrElse(
      throw new java.util.NoSuchElementException(s"no committed table at $root")))
    val meta = tableMeta(fs, r, v)
    val partCols = meta.partCols
    require(partCols.nonEmpty,
      s"table at $root declares no partition columns — partitionValues " +
        "reports the #partcols layout; commit with partitionBy to establish one")
    val schema = meta.schema.getOrElse(
      throw new java.util.NoSuchElementException(
        s"version $v at $root carries no schema line (legacy manifest) — " +
          "partition values cannot be typed"))
    // #partcols and #part_ keys are PHYSICAL; the schema (and this
    // function's output columns) use the LOGICAL names
    val inv = meta.colMap.map(_.swap)
    def logical(c: String): String = inv.getOrElse(c, c)
    def fieldOf(c: String) = schema(logical(c))
    def decode(c: String, nv: Option[NormVal]): Any = nv match {
      case None => null
      case Some(x) =>
        import org.apache.spark.sql.catalyst.util.DateTimeUtils
        (x, fieldOf(c).dataType) match {
          case (NumV(n), ByteType)    => n.toByte
          case (NumV(n), ShortType)   => n.toShort
          case (NumV(n), IntegerType) => n.toInt
          case (NumV(n), LongType)    => n.toLong
          case (NumV(n), FloatType)   => n.toFloat
          case (NumV(n), DoubleType)  => n.toDouble
          case (NumV(n), dt: DecimalType) =>
            new java.math.BigDecimal(n.bigDecimal.toPlainString)
              .setScale(dt.scale)
          case (NumV(n), DateType) => DateTimeUtils.toJavaDate(n.toInt)
          case (NumV(n), TimestampType) =>
            DateTimeUtils.toJavaTimestamp(n.toLong)
          // NTZ rows convert from LocalDateTime, not java.sql.Timestamp
          // — createDataFrame would refuse the latter at runtime
          case (NumV(n), TimestampNTZType) =>
            DateTimeUtils.microsToLocalDateTime(n.toLong)
          case (StrV(s), StringType) => s.toString
          case (other, dt) => throw new IllegalStateException(
            s"partition value $other of '$c' does not decode to " +
              dt.simpleString)
        }
    }
    val live = manifestDirs(fs, r, v).toSet
    val tuples = dirMeta(fs, r, v).toSeq
      .flatMap { case (d, m) => m.part.filter(_ => live.contains(d)) }
      .map { json =>
        val m = parsePartJson(json)
        partCols.map(c => decode(c, m.get(c).flatten))
      }
      .groupBy(identity).toSeq
      .map { case (vals, dirs) =>
        org.apache.spark.sql.Row.fromSeq(vals :+ dirs.size.toLong)
      }
    val outSchema = StructType(
      partCols.map(c => fieldOf(c).copy(nullable = true)) :+
        StructField("n_dirs", LongType, nullable = false))
    spark.createDataFrame(
      scala.jdk.CollectionConverters.SeqHasAsJava(tuples).asJava, outSchema)
  }

  /** `REORG TABLE … APPLY (PURGE)` (Delta parity): rewrite EXACTLY
    * the dirs carrying deletion vectors — regardless of size —
    * materializing the soft-deleted rows away, so the per-read row
    * filter stops and the `#dv_` position JSON stops being carried in
    * every subsequent manifest. Round 18: ALSO rewrites dirs whose
    * files still store a TOMBSTONED physical column (a dropped
    * top-level or nested field) — Delta's dropped-column purge — so
    * the dead bytes leave disk; the tombstone bookkeeping itself
    * stays, because re-mint safety is id-based, not byte-based. This is the explicit payoff lever for
    * DV debt: `compactCommitted(minBytes)` never selects a LARGE dir,
    * so without REORG a big dir's vector lives forever (the debt is
    * visible as `dv_dirs`/`dv_rows` in DESCRIBE HISTORY/DETAIL).
    * `where` scopes the rewrite to DV-carrying dirs the manifest
    * cannot prove clean of matching rows (the OPTIMIZE WHERE
    * discipline); vector-free dirs ALWAYS carry by reference. Row
    * multiset, schema, layout and bucketing are all preserved
    * (re-staged through stageBatch under the declared partition
    * columns), and the answer is byte-for-byte unchanged — only the
    * physical representation pays down. Returns the committed version
    * (unchanged when no vector is in scope). */
  def reorgCommitted(spark: SparkSession, root: String,
      where: Option[org.apache.spark.sql.Column] = None,
      retain: Int = -1): Long = {
    require(retain >= -1,
      s"retain must be >= 0 (or -1 = inherit $PropRetain), got $retain")
    val fs = fsFor(spark, root)
    val r = new Path(root)
    val (cur, curMeta) = liveSnapshot(spark, root)
    val snapDirs = manifestDirs(fs, r, cur)
    // maintenance OCC: slot pinned before any job (see deleteWhere)
    val next = pinSlot(fs, r, cur)
    afterSlotPin()
    val dvs = DirMeta.dvs(dirMeta(fs, r, cur))
    val cmap = curMeta.colMap
    // the predicate SHAPE gate runs even on a vector-free table (a
    // statement that would silently widen must refuse consistently):
    // an un-prunable predicate scopes NOTHING out and purges every
    // vector — that is the where-less spelling (OPTIMIZE WHERE rule)
    val wherePreds = where.map { p =>
      val preds = extractPreds(org.apache.spark.sql.graft.Shim.catalystTree(p))
      require(preds.nonEmpty,
        "REORG WHERE predicate has no prunable conjunct " +
          "(column-vs-literal =, <, <=, >, >=, IN, IS [NOT] NULL, AND) " +
          "— omit WHERE to purge every deletion vector")
      preds
    }
    // tombstoned PHYSICAL columns (Delta's dropped-column purge):
    // dropped fields' bytes are unreachable by construction but still
    // STORED — PURGE strips them by rewriting exactly the dirs whose
    // files still carry a dead physical path. Top-level drops retire
    // names (#colretired); nested drops tombstone (container id, phys)
    // in the id tree — both resolve to full dotted physical paths, and
    // a one-footer-per-candidate-dir probe (maintenance-priced) finds
    // the dirs that predate the drop. The rewrite reads the CURRENT
    // logical schema, so re-staged files omit the dead columns
    // automatically; the tombstone BOOKKEEPING stays (re-mint safety
    // is id-based, not byte-based).
    val deadPhys: Seq[Seq[String]] = {
      val top = curMeta.retired.map(Seq(_))
      val nested = curMeta.colMap2.toSeq.flatMap { v2 =>
        val pp = scala.collection.mutable.Map(0 -> Seq.empty[String])
        v2.fields.foreach(f =>
          pp(f.id) = pp.getOrElse(f.container, Seq.empty) :+ f.phys)
        v2.dead.flatMap { case (c, p) => pp.get(c).map(_ :+ p) }
      }
      top ++ nested
    }
    def hasPath(st: org.apache.spark.sql.types.StructType,
        path: Seq[String]): Boolean = path match {
      case Seq() => false
      case h +: t => st.fields.find(_.name == h).exists { f =>
        if (t.isEmpty) true
        else f.dataType match {
          case s: org.apache.spark.sql.types.StructType => hasPath(s, t)
          case _ => false
        }
      }
    }
    def dirHasDead(d: String): Boolean = {
      // dirs are staged by ONE commit each, so one footer speaks for
      // the dir; unreadable/empty dirs conservatively rewrite
      val first = scala.util.Try(fs.listStatus(new Path(r, d)).iterator
        .map(_.getPath).find(_.getName.endsWith(".parquet"))).toOption.flatten
      first.forall(f => scala.util.Try(
        spark.read.parquet(f.toString).schema).toOption
        .forall(sc => deadPhys.exists(hasPath(sc, _))))
    }
    if (dvs.isEmpty && deadPhys.isEmpty) return cur // nothing to purge
    val dvDirs = snapDirs.filter(dvs.contains)
    val deadDirs =
      if (deadPhys.isEmpty) Nil
      else snapDirs.filterNot(dvs.contains).filter(dirHasDead)
    val candidates = dvDirs ++ deadDirs
    val scoped = wherePreds match {
      case None => candidates
      case Some(preds) =>
        val (mayMatch, _) = pruneDirsAt(spark, root, cur,
          predsToPhysical(preds ++ deriveGenPreds(spark, fs, r, cur, preds),
            cmap))
        val in = mayMatch.toSet
        candidates.filter(in)
    }
    if (scoped.isEmpty) return cur
    val carried = curMeta.schema
    // DV-aware read: the rewrite MATERIALIZES the vectors (this is
    // the whole point) and re-stages layout-preserving
    val base = readDirsWithDv(spark, fs, r, cur, scoped, carried)
    val effStats = curMeta.statsCols
    val effBloom = curMeta.bloomCols
    val effPart = curMeta.partCols
    val (newDirs, stagedMeta, _) =
      stageBatch(spark, fs, r, base, curMeta, effStats, effBloom, effPart,
        maintenance = true, bucketBy = curMeta.bucketBy,
        colMap = cmap)
    preserveMarkers(fs, r, scoped, newDirs)
    // the purged dirs leave the dirs list, so their `#dv_` lines stop
    // carrying automatically; unscoped vectors keep theirs. Rows are
    // unchanged: the DV commit already decremented the count. Slot
    // loss rebases across disjoint interlopers (maintenanceRebase).
    val srcSet = scoped.toSet
    maintenanceRebase(fs, r, root, cur, next, srcSet,
      snapDirs.filterNot(srcSet), newDirs, retain, carried,
      curMeta.rows, stagedMeta, _.declaring(effStats, effBloom),
      "reorg purge", "REORG purge")
  }

  /** `CONVERT TO GRAFT` (Delta's CONVERT TO DELTA): adopt a plain
    * directory of parquet files as a committed lake table IN PLACE —
    * no data rewrite. The files MOVE (same-filesystem renames, pure
    * metadata) into the deterministic bootstrap dir `v0` and one
    * manifest publishes them as version 0 with the inferred schema
    * and optional stats/bloom lines; every lake capability (time
    * travel, DML, OCC, properties, maintenance) applies from that
    * moment. Crash-safe by CONVERGENCE: until the manifest publishes
    * nothing is a lake table, and a rerun moves whatever files remain
    * at the root into the same `v0` dir before committing — the
    * rename set only shrinks. Hive-partitioned layouts (subdirs)
    * refuse: convert flat parquet dirs, or read+commitOverwrite with
    * `partitionBy` to adopt the layout as manifest partitions. */
  def convertParquet(spark: SparkSession, root: String,
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil,
      retain: Int = -1): Long = {
    require(retain >= -1,
      s"retain must be >= 0 (or -1 = inherit $PropRetain), got $retain")
    val fs = fsFor(spark, root)
    val r = new Path(root)
    require(committedVersions(fs, r).isEmpty,
      s"a committed lake table already exists at $root — CONVERT " +
        "bootstraps; this table needs no conversion")
    require(fs.exists(r), s"no directory at $root")
    val entries = fs.listStatus(r).toSeq
    val subdirs = entries.filter(e => e.isDirectory && e.getPath.getName != "v0")
    require(subdirs.isEmpty,
      s"directory at $root contains subdirectories " +
        subdirs.map(_.getPath.getName).sorted.mkString("[", ", ", "]") +
        " — CONVERT adopts FLAT parquet dirs only (for a hive-partitioned " +
        "layout, read it and commitOverwrite with partitionBy)")
    val loose = entries.filter(e =>
      e.isFile && e.getPath.getName.endsWith(".parquet"))
    val dir = new Path(r, "v0")
    val resumed = fs.exists(dir)
    require(loose.nonEmpty || resumed,
      s"no parquet files at $root — nothing to convert")
    if (!resumed) fs.mkdirs(dir)
    loose.foreach { f =>
      if (!fs.rename(f.getPath, new Path(dir, f.getPath.getName)))
        throw new java.io.IOException(
          s"CONVERT could not move ${f.getPath.getName} into $dir")
    }
    val df = spark.read.parquet(dir.toString)
    val schema = org.apache.spark.sql.graft.Shim.asNullable(df.schema)
    val effStats = statsCols.map(_.trim).filter(_.nonEmpty)
    val effBloom = bloomCols.map(_.trim).filter(_.nonEmpty)
    val (dirJson, fileJsons, _) = dirFileStats(spark, r, Seq("v0"), effStats)
      .getOrElse("v0", ("{}", Map.empty[String, String], -1L))
    if (!commitManifest(fs, r, 0L, Seq("v0"), retain, Some(schema),
        None, Map("v0" -> DirMeta(stats = Some(dirJson), files = fileJsons,
          bloom = dirBloomJson(spark, dir.toString, effBloom))),
        meta = _.declaring(effStats, effBloom), op = "convert"))
      throw new java.util.ConcurrentModificationException(
        s"CONVERT of $root lost version 0 to a concurrent bootstrap — " +
          "the directory is already becoming a lake table; re-check it")
    0L
  }

  /** [[compact]] for a manifest-committed table: collapse the live
    * snapshot (append commits accumulate one dir per batch — the
    * small-files pathology in manifest form: readers pay listing +
    * open cost per dir) into ONE dir of size-targeted files,
    * committed through the same atomic rename. Row multiset and
    * carried schema unchanged; concurrent readers keep the pre-
    * compaction snapshot until retention passes. Converges like
    * [[compact]]: sizing uses current on-disk bytes. For a SCOPED
    * small-files cleanup (only the hot partition, cold history
    * untouched) use [[clusterCommitted]] with `where` — its
    * lexicographic fallback over the partition columns is a compact
    * that also records per-file ranges. Returns the committed
    * version. */
  /** @param minBytes INCREMENTAL compaction (Delta's OPTIMIZE
    *   bin-packing rule): only dirs SMALLER than `minBytes` collapse —
    *   already-compacted dirs carry into the new snapshot BY
    *   REFERENCE, untouched. At 100 TB this is the standing
    *   maintenance cadence: hourly appendlets fold into one
    *   size-targeted dir while the compacted history is never read.
    *   0 (the default) keeps the whole-snapshot collapse. Fewer than
    *   two small dirs is a version-stable no-op (collapsing one dir
    *   into one dir moves bytes for nothing). */
  def compactCommitted(spark: SparkSession, root: String,
      targetBytes: Long = 128L * 1024 * 1024, retain: Int = -1,
      minBytes: Long = 0L): Long = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    require(retain >= -1,
      s"retain must be >= 0 (or -1 = inherit $PropRetain), got $retain")
    require(minBytes >= 0, s"minBytes must be >= 0, got $minBytes")
    val fs = fsFor(spark, root)
    val r = new Path(root)
    val (cur, curMeta) = liveSnapshot(spark, root)
    val liveDirs = manifestDirs(fs, r, cur)
    def dirBytes(d: String): Long =
      fs.listStatus(new Path(r, d)).toSeq
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .map(_.getLen).sum
    val (smallDirs, carriedDirs) =
      if (minBytes <= 0L) (liveDirs, Seq.empty[String])
      else liveDirs.partition(d => dirBytes(d) < minBytes)
    if (minBytes > 0L && smallDirs.lengthCompare(2) < 0)
      return cur // nothing to bin-pack: already compact
    val total = smallDirs.map(dirBytes).sum
    require(total > 0 || minBytes > 0L,
      s"no parquet data in the live snapshot at $root")
    if (total == 0L) return cur // only empty dirs in scope
    // internal jobs plan at the compacted bytes' width
    val narrow = ShuffleWidth.narrowed(spark, ShuffleWidth.bytesWidth(BigInt(total)))
    val n = Math.max(1L, (total + targetBytes - 1) / targetBytes).toInt
    val carried = curMeta.schema
    val base =
      // RAW read: a layout rewrite must carry the hidden row-id
      // through (the stability contract the keyless feed pairs on)
      if (carriedDirs.isEmpty) readCommittedAtRaw(narrow, root, cur)
      // DV-aware: compaction materializes the collapsed dirs' vectors
      else readDirsWithDv(narrow, fs, r, cur, smallDirs, carried)
    val df = base.repartition(n)
    val next = pinSlot(fs, r, cur)
    val effStats = curMeta.statsCols
    val effBloom = curMeta.bloomCols
    // compaction PRESERVES the declared partition layout: on a
    // partitioned table the collapse is per-value-tuple (small-files
    // cleanup within each partition; a partition hotter than
    // targetBytes stays one dir — split it by re-partitioning the
    // table key, not by breaking the layout), so partition pruning
    // survives maintenance instead of degrading to a full scan
    val effPart = curMeta.partCols
    val (newDirs, stagedMeta, _) =
      stageBatch(narrow, fs, r, df, curMeta, effStats, effBloom, effPart,
        maintenance = true, bucketBy = curMeta.bucketBy,
        colMap = curMeta.colMap)
    // the collapsed dirs hand their streaming-fold replay markers to
    // their replacements; carried dirs keep their own in place
    preserveMarkers(fs, r, smallDirs, newDirs)
    // compaction is row-preserving: the previous count carries over;
    // the collapsed dirs get fresh stats (footer-pushdown read of
    // what was just written) and carried dirs keep their lines.
    // Losing the slot REBASES across disjoint interlopers (appends,
    // other maintenance) instead of discarding the rewrite — see
    // maintenanceRebase; only a race that touched the collapsed dirs
    // (or table metadata) refuses.
    maintenanceRebase(fs, r, root, cur, next, smallDirs.toSet, carriedDirs,
      newDirs, retain, carried.orElse(Some(df.schema)), curMeta.rows,
      stagedMeta, _.declaring(effStats, effBloom), "compact", "compaction")
  }

  /** CLUSTER the live snapshot for data skipping: rewrite it into one
    * dir of `ceil(bytes/targetBytes)` size-targeted files laid out so
    * that every file covers a TIGHT range of `cols`, then commit with
    * per-file min/max stats — after which [[readCommittedWhere]]
    * prunes at file granularity. This is the lakehouse
    * OPTIMIZE-ZORDER step: compaction alone round-robins rows (no
    * locality, stats ranges all overlap, nothing prunes); clustering
    * is what makes the stats BITE.
    *
    * Layout: 2–4 numeric columns get a true Z-ORDER — each value
    * scales to a 16-bit rank in its [min,max] span and the bits
    * interleave into one long, so range locality is shared across ALL
    * the columns instead of only the leading one (a query on either
    * column alone, or both, prunes; integer arithmetic, pure Column
    * ops, whole-stage codegen). One column, or any non-numeric mix,
    * falls back to lexicographic multi-column range layout (leading-
    * column pruning — exactly what ORDER BY gives, honestly less for
    * trailing columns). Like all maintenance commits: row multiset
    * and schema unchanged, same atomic manifest rename, retention
    * keeps the pre-cluster snapshot, markers carried. The cluster
    * columns join the table's established stat columns so later
    * appends stat them too. Returns the committed version. */
  /** @param where scope the rewrite (`OPTIMIZE … WHERE`): dirs the
    *   manifest PROVES can hold no matching row (partition values,
    *   stats, blooms — the readCommittedWhere pruner) carry into the
    *   new snapshot BY REFERENCE, untouched; every other dir rewrites
    *   clustered with ALL its rows (the predicate selects which FILES
    *   get optimized, never which rows survive — row multiset is
    *   always preserved). At 100 TB this is how OPTIMIZE actually
    *   runs: yesterday's fragmented partition rewrites, the cold
    *   history is never read. None = the whole snapshot. */
  def clusterCommitted(spark: SparkSession, root: String, cols: Seq[String],
      targetBytes: Long = 128L * 1024 * 1024, retain: Int = -1,
      where: Option[org.apache.spark.sql.Column] = None): Long = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    // on a PARTITIONED table, clustering is PER PARTITION (Delta's
    // OPTIMIZE ZORDER BY semantics): each partition-value tuple
    // rewrites into its own size-targeted clustered dir carrying its
    // exact #part_ values, so partition-dir pruning SURVIVES the
    // rewrite and the cluster columns' per-file ranges prune INSIDE
    // kept dirs — both mechanisms on one scan, nothing traded away.
    // Per-slice z-spans are computed within each partition (tighter
    // ranks than a global span). A table whose accumulated tuples
    // exceed the stage cap falls back to ONE globally-clustered dir
    // (the maintenance-fallback discipline: pruning degrades, the op
    // succeeds).
    require(cols.nonEmpty, "cluster columns must be non-empty")
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    require(retain >= -1,
      s"retain must be >= 0 (or -1 = inherit $PropRetain), got $retain")
    val fs = fsFor(spark, root)
    val r = new Path(root)
    val (cur, curMeta) = liveSnapshot(spark, root)
    require(curMeta.bucketBy.isEmpty,
      s"table at $root is hash-bucketed — a clustered rewrite would " +
        "destroy the bucket placement and file naming the co-located-join " +
        "contract depends on; bucketed tables compact with " +
        "compactCommitted (layout-preserving) instead of z-ordering")
    val liveDirs = manifestDirs(fs, r, cur)
    // predicate scope: dirs the manifest proves hold no matching row
    // carry by reference; the rest rewrite (with ALL their rows)
    val cmap = curMeta.colMap
    val (rewriteDirs, carriedDirs) = where match {
      case None => (liveDirs, Seq.empty[String])
      case Some(p) =>
        val preds = extractPreds(org.apache.spark.sql.graft.Shim.catalystTree(p))
        // a typo'd column or an un-prunable predicate shape would
        // carry NOTHING and silently rewrite the whole table — refuse
        // loudly; whole-table optimize is the where-less spelling
        require(preds.nonEmpty,
          "OPTIMIZE WHERE predicate has no prunable conjunct " +
            "(column-vs-literal =, <, <=, >, >=, IN, IS [NOT] NULL, " +
            "AND) — it would rewrite the whole table; omit `where` for " +
            "a full rewrite")
        curMeta.schema.map(_.fieldNames.toSet).foreach { sc =>
          preds.map(_.col).distinct.foreach(c => require(sc.contains(c),
            s"OPTIMIZE WHERE references column '$c' which is not in the " +
              "committed schema — nothing would be excluded and the whole " +
              "table would rewrite"))
        }
        pruneDirsAt(spark, root, cur,
          predsToPhysical(preds ++ deriveGenPreds(spark, fs, r, cur, preds),
            cmap))
    }
    def dirBytes(d: String): Long =
      fs.listStatus(new Path(r, d)).toSeq
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .map(_.getLen).sum
    val bytesByDir = rewriteDirs.map(d => d -> dirBytes(d)).toMap
    val total = bytesByDir.values.sum
    if (where.isDefined && (rewriteDirs.isEmpty || total == 0))
      return cur // nothing in scope: the snapshot is already optimal
    require(total > 0, s"no parquet data in the live snapshot at $root")
    // internal jobs (tuple/span collect, clustered writes, batched
    // stats, blooms) plan at the rewritten bytes' width
    val narrow = ShuffleWidth.narrowed(spark, ShuffleWidth.bytesWidth(BigInt(total)))
    val carried = curMeta.schema
    val dfLogical =
      // RAW read: the rewrite must carry the hidden row-id through
      if (carriedDirs.isEmpty) readCommittedAtRaw(narrow, root, cur)
      // DV-aware: z-order materializes the rewritten dirs' vectors
      else readDirsWithDv(narrow, fs, r, cur, rewriteDirs, carried)
    cols.foreach(c => require(dfLogical.columns.contains(c),
      s"cluster column '$c' not in the table schema"))
    // this function writes its clustered dirs DIRECTLY (not through
    // stageBatch), so the physical rename happens here: the df, the
    // user's cluster columns, and the committed schema it re-commits
    // all translate once, and everything below is physical
    val logicalSchema = dfLogical.schema
    val df = toPhysicalDf(dfLogical, cmap)
    val cols0 = colsToPhysical(cols, cmap)
    def isNumeric(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType | DateType | TimestampType | TimestampNTZType => true
      case _: DecimalType => true
      case _ => false
    }
    val zOrderable = cols0.lengthCompare(2) >= 0 && cols0.lengthCompare(4) <= 0 &&
      cols0.forall(c => isNumeric(df.schema(c).dataType))
    /** `slice` laid out into `n` files tight on `cols` (z-order when
      * the column mix supports it, lexicographic range otherwise);
      * spans computed over THIS slice — pre-computed by the caller when
      * its tuple-collect job already aggregated them (the per-tuple
      * grouped collect below), else one tiny agg here. */
    def clusterLayout(slice: org.apache.spark.sql.DataFrame, n: Int,
        spans: Option[IndexedSeq[(Double, Double)]]):
        org.apache.spark.sql.DataFrame =
      if (!zOrderable)
        slice.repartitionByRange(n, cols0.map(col): _*)
          .sortWithinPartitions(cols0.map(col): _*)
      else {
        val sp = spans.getOrElse {
          // per-column spans for the 16-bit rank scaling — one tiny agg
          val mm = slice.agg(
            cols0.flatMap(c => Seq(min(col(c)).cast("double"),
              max(col(c)).cast("double"))).head,
            cols0.flatMap(c => Seq(min(col(c)).cast("double"),
              max(col(c)).cast("double"))).drop(1): _*).collect().head
          cols0.indices.map(j =>
            (mm.getDouble(2 * j), mm.getDouble(2 * j + 1))).toIndexedSeq
        }
        val k = cols0.length
        val buckets = cols0.zipWithIndex.map { case (c, j) =>
          val (lo, hi) = sp(j)
          if (lo >= hi || lo.isNaN || hi.isNaN || hi.isInfinite || lo.isInfinite)
            lit(0L)
          else least(greatest(
            floor((col(c).cast("double") - lit(lo)) / lit(hi - lo) * 65535.0)
              .cast("long"), lit(0L)), lit(65535L))
        }.map(coalesce(_, lit(0L))) // NULLs cluster low
        // interleave: bit i of column j lands at position i*k + j
        val z = (0 until 16).flatMap(i => buckets.zipWithIndex.map { case (b, j) =>
          shiftleft(shiftrightunsigned(b, i).bitwiseAND(lit(1L)), i * k + j)
        }).reduce(_ bitwiseOR _)
        slice.withColumn("__graft_z", z)
          .repartitionByRange(n, col("__graft_z"))
          .sortWithinPartitions(col("__graft_z"))
          .drop("__graft_z")
      }
    val next = pinSlot(fs, r, cur)
    val effStats = (curMeta.statsCols ++ cols0).distinct
    val effBloom = curMeta.bloomCols
    val effPart = curMeta.partCols
    /** Write one clustered dir for `slice`; returns it and its
      * [[DirMeta]]. ONE column-pruned pass over the fresh dir yields
      * per-file AND dir ranges — the whole point of the rewrite. */
    def stageClustered(slice: org.apache.spark.sql.DataFrame, n: Int):
        (String, DirMeta) = {
      val dir = stagedDirName() // writer-unique, see mergeCommitted
      clusterLayout(slice, n, None).write.mode("overwrite")
        .parquet(new Path(r, dir).toString)
      // one pass yields per-file + dir ranges AND the row count the
      // bloom builder needs — no separate count job per rewritten dir
      val (dirJson, fileJsons, nRows) =
        dirFileStats(narrow, r, Seq(dir), effStats)
          .getOrElse(dir, ("{}", Map.empty[String, String], -1L))
      (dir, DirMeta(stats = Some(dirJson), files = fileJsons,
        bloom = dirBloomJson(narrow, new Path(r, dir).toString, effBloom,
          Some(nRows).filter(_ >= 0))))
    }
    def filesFor(bytes: Long): Int =
      Math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    val cached = df.persist()
    val staged = scala.collection.mutable.ArrayBuffer.empty[String]
    try {
      // the tuple collect doubles as the span aggregation: per-tuple
      // z-spans are exactly the grouped min/max, so ONE job yields the
      // tuple list AND every tuple's spans (was: one distinct job plus
      // one agg job per tuple inside the staging loop). Row layout:
      // partition values at 0..P-1, span pairs appended after.
      val spanAggs =
        if (!zOrderable) Nil
        else cols0.flatMap(c => Seq(min(col(c)).cast("double"),
          max(col(c)).cast("double")))
      val tuples =
        if (effPart.isEmpty) Array.empty[org.apache.spark.sql.Row]
        else if (spanAggs.isEmpty)
          cached.select(effPart.map(col): _*)
            .distinct().limit(stageTupleCap + 1).collect()
        else cached.groupBy(effPart.map(col): _*)
          .agg(spanAggs.head, spanAggs.tail: _*)
          .limit(stageTupleCap + 1).collect()
      val (newDirs, newMeta) =
        if (effPart.isEmpty || tuples.isEmpty || tuples.length > stageTupleCap) {
          // unpartitioned table, or over-cap fallback: one global dir
          val (d, m) = stageClustered(cached, filesFor(total))
          staged += d
          (Seq(d), Map(d -> m))
        } else {
          // per-partition clustering: byte budget per tuple = its own
          // recorded dirs' bytes + an even share of value-less dirs
          // (legacy/global dirs whose rows re-home to their tuples here)
          val curDirMeta = dirMeta(fs, r, cur)
          def partOf(d: String) = curDirMeta.get(d).flatMap(_.part)
          val valueless = rewriteDirs.filter(partOf(_).isEmpty)
            .map(bytesByDir).sum / tuples.length
          val bytesByJson = rewriteDirs.flatMap(d =>
            partOf(d).map(_ -> bytesByDir(d)))
            .groupBy(_._1).map { case (j, xs) => j -> xs.map(_._2).sum }
          // validate every tuple BEFORE the first write (the
          // stageBatch discipline: a value that does not normalize
          // refuses with zero dirs staged)
          val jsons = tuples.map { row =>
            partJson(effPart.zipWithIndex.map { case (c, i) =>
              c -> (if (row.isNullAt(i)) None
                else normExternal(row.get(i)) match {
                  case some @ Some(_) => some
                  case None => throw new IllegalArgumentException(
                    s"partition value ${row.get(i)} of column '$c' does " +
                      "not normalize — unsupported runtime type")
                })
            })
          }
          // per-tuple clustered rewrites are independent jobs against
          // the persisted snapshot — run them concurrently (same
          // overlap + ordered-results contract as stageBatch's
          // partitioned loop; see stageConcurrently). Phase split: the
          // concurrent loop only WRITES (spans already rode the tuple
          // collect above); per-file stats for every fresh dir then
          // batch into ONE column-pruned pass (dirFileStats — was one
          // scan job per dir), and the per-dir blooms reuse its row
          // counts concurrently.
          val writeRes = stageConcurrently(tuples.length) { i =>
            val row = tuples(i)
            val slice = effPart.zipWithIndex.foldLeft(cached) {
              case (d0, (c, ci)) => d0.where(col(c) <=> lit(row.get(ci)))
            }
            val spans =
              if (!zOrderable) None
              else Some(cols0.indices.map(j =>
                (row.getDouble(effPart.length + 2 * j),
                 row.getDouble(effPart.length + 2 * j + 1))).toIndexedSeq)
            val dir = stagedDirName() // writer-unique, see mergeCommitted
            clusterLayout(slice,
              filesFor(bytesByJson.getOrElse(jsons(i), 0L) + valueless),
              spans).write.mode("overwrite")
              .parquet(new Path(r, dir).toString)
            dir
          }
          writeRes.foreach { // every written dir is cleanup-visible
            case Right(d) => staged += d
            case _ => ()
          }
          writeRes.collectFirst { case Left(t) => t }.foreach(throw _)
          val newDirsSeq = writeRes.map(_.toOption.get)
          val statsByDir = dirFileStats(narrow, r, newDirsSeq, effStats)
          val bloomRes = stageConcurrently(newDirsSeq.length) { i =>
            val n = statsByDir.get(newDirsSeq(i)).map(_._3).getOrElse(-1L)
            dirBloomJson(narrow, new Path(r, newDirsSeq(i)).toString,
              effBloom, Some(n).filter(_ >= 0))
          }
          bloomRes.collectFirst { case Left(t) => t }.foreach(throw _)
          (newDirsSeq, newDirsSeq.zip(jsons).zipWithIndex.map {
            case ((d, json), i) =>
              val (dj, fj) = statsByDir.get(d)
                .map(s => (s._1, s._2)).getOrElse(("{}", Map.empty[String, String]))
              d -> DirMeta(stats = Some(dj), files = fj,
                bloom = bloomRes(i).toOption.get, part = Some(json))
          }.toMap)
        }
      preserveMarkers(fs, r, rewriteDirs, newDirs)
      // slot loss rebases across disjoint interlopers instead of
      // discarding the clustered rewrite — see maintenanceRebase
      maintenanceRebase(fs, r, root, cur, next, rewriteDirs.toSet,
        carriedDirs, newDirs, retain, Some(logicalSchema), curMeta.rows,
        newMeta, _.declaring(effStats, effBloom), "zorder", "clustering")
    } catch {
      case t: Throwable if !t.isInstanceOf[java.util.ConcurrentModificationException] =>
        staged.foreach(d => scala.util.Try(fs.delete(new Path(r, d), true)))
        throw t
    } finally { cached.unpersist(); () }
  }

  /** Number of parquet data files currently under `path`. */
  def dataFileCount(spark: SparkSession, path: String): Int =
    listDataFiles(spark, path).length

  private[sources] def listDataFiles(spark: SparkSession, path: String) = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    val p = new Path(path)
    if (!fs.exists(p)) Array.empty[org.apache.hadoop.fs.FileStatus]
    else fs.listStatus(p).filter(f =>
      f.isFile && f.getPath.getName.endsWith(".parquet"))
  }

  /** Rewrite the table at `path` into `ceil(totalBytes / targetBytes)`
    * files (min 1) and swap the rewrite in. Row multiset is unchanged
    * — this is a layout-only operation. Returns the new file count.
    *
    * Sizing uses the CURRENT on-disk bytes, so compaction converges:
    * re-running on an already-compacted table plans the same file
    * count and rewrites nothing surprising. The repartition is
    * round-robin (no key): compaction must not assume a partition
    * column exists; co-location layouts belong to the bucketed-write
    * path, not the compactor. */
  def compact(spark: SparkSession, path: String,
      targetBytes: Long = 128L * 1024 * 1024): Int = {
    require(targetBytes > 0, s"targetBytes must be positive, got $targetBytes")
    val files = listDataFiles(spark, path)
    require(files.nonEmpty, s"no parquet table at $path")
    val total = files.map(_.getLen).sum
    val n = Math.max(1L, (total + targetBytes - 1) / targetBytes).toInt
    // the swap (staging write + .bak rename dance) is the SAME
    // crash-safety path the dedup repair uses — one definition
    graft.newsmaper.Newsmaper.overwriteRetained(
      spark.read.parquet(path).repartition(n), path)
    dataFileCount(spark, path)
  }
}
