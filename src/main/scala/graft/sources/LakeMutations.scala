package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.Shim
import graft.operators.ShuffleWidth

/** Row-level mutation engines: CDC merge, MERGE INTO, DELETE and UPDATE — copy-on-write with the deletion-vector fast path.
  *
  * Mechanically split from the [[Lake]] object (one object, many
  * files): every member keeps its semantics and its package-private
  * reach; [[Lake]] mixes the traits back into the single public
  * surface. See Lake.scala for the protocol overview. */
private[graft] trait LakeMutations { this: Lake.type =>

  /** Per-row MERGE INTO a committed table — the copy-on-write form of
    * [[graft.operators.Cdc.applyChanges]] (q99's oracle-checked
    * semantics), closing the reference's row-level DELETE/update gap
    * (/root/reference/dags/Main.py:44-47) at lake scale. Instead of
    * rewriting the whole table, the merge PROBES which snapshot dirs
    * actually hold touched keys (one map-only broadcast semi-join
    * over the base with `input_file_name` — the "find touched files"
    * pass every lakehouse MERGE runs) and rewrites ONLY those:
    *
    *   new snapshot = untouched dirs, REUSED BY REFERENCE
    *               + one new dir holding (touched dirs' surviving
    *                 rows) ∪ (the batch's winning upserts)
    *
    * At 100 TB under hourly append commits, a CDC batch touching
    * recent keys rewrites O(touched dirs), not the table; a
    * pure-insert batch touches nothing and degenerates to the
    * O(batch) append shape. Commit is the same one atomic manifest
    * rename — readers never see a half-merged table, retention keeps
    * the pre-merge snapshot for in-flight readers/time travel, and a
    * crash before the rename leaves only an orphan dir the retry
    * overwrites.
    *
    * `changes` = base schema + `deleteCol`; `guardVersions` as in
    * [[graft.operators.Cdc.applyChanges]]. Returns the committed
    * version (unchanged when the batch has no effective winners). */
  def mergeCommitted(spark: SparkSession, root: String,
      changes: org.apache.spark.sql.DataFrame, keyCols: Seq[String],
      versionCol: String, deleteCol: String,
      guardVersions: Boolean = false, retain: Int = -1,
      allowSchemaEvolution: Boolean = false,
      dvMaxRows: Long = -1L): Long = {
    import org.apache.spark.sql.functions._
    require(retain >= -1,
      s"retain must be >= 0 (or -1 = inherit $PropRetain), got $retain")
    val fs = fsFor(spark, root)
    val r = new Path(root)
    val cur = currentVersion(spark, root).getOrElse(
      throw new java.util.NoSuchElementException(
        s"no committed table at $root — bootstrap with commitOverwrite/commitAppend"))
    val curMeta = tableMeta(fs, r, cur)
    val snapDirs = manifestDirs(fs, r, cur)
    // a CDC batch never carries the hidden row-id: survivors keep
    // theirs (read from the stored files) and winners allocate fresh —
    // a batch smuggling the column in would either refuse as drift or
    // be silently replaced, so refuse it by name up front
    require(!changes.columns.contains(RowIdCol),
      s"'$RowIdCol' is engine-owned under row tracking — the merge " +
        "batch must omit it")
    // slot pinned before the probe/hits/staging jobs run (the COW
    // invariant, shared by the DV fast path): a concurrent commit
    // landing during those jobs takes this number and our publish —
    // which would otherwise republish the stale snapDirs over the
    // interloper's dirs and vectors — fails loudly instead
    val next = pinSlot(fs, r, cur)
    afterSlotPin()
    val dvEff = effDvMaxRows(curMeta, dvMaxRows)
    val base0 = readCommittedAt(spark, root, cur)
    // the merge's internal jobs (empty/key probes, CDC fold, rewrite
    // staging) plan at the base+batch estimate's width; a 100 TB base
    // estimates past the session width and keeps it
    val narrow = ShuffleWidth.narrowed(spark,
      ShuffleWidth.bytesWidth(Seq(base0, changes)))
    val base = Shim.rebind(narrow, base0)
    var latestOpt: Option[org.apache.spark.sql.DataFrame] = None
    try {
      val latest = graft.operators.Cdc.lastChanges(base,
        Shim.rebind(narrow, changes), keyCols, versionCol, deleteCol,
        guardVersions).persist()
      latestOpt = Some(latest)
      if (latest.isEmpty) return cur
      val touchedKeys = broadcast(latest.select(keyCols.map(col): _*))
      // one map-only probe: which files (→ dirs) hold touched keys.
      // Aggregated to dir granularity executor-side, so the collected
      // set is bounded by the snapshot's DIR count — an uncompacted
      // million-file table still probes at dir scale.
      val touchedDirNames: Set[String] = probeDirNames(base
        .withColumn("__file", input_file_name())
        .join(touchedKeys, keyCols, "left_semi")
        .select(col("__file")))
      val untouched = snapDirs.filterNot(touchedDirNames)
      val touchedDirs = snapDirs.filter(touchedDirNames)
      // no stored rows touched and nothing to insert → the table is
      // unchanged; skip the commit entirely. This is what makes a
      // crash-REPLAYED guarded batch version-stable: its upserts are
      // stale (guard-rejected) and its deletes find their keys
      // already gone (a delete of an absent key reaches here).
      if (touchedDirs.isEmpty &&
          latest.where(!coalesce(col(deleteCol), lit(false))).isEmpty)
        return cur
      val carried = curMeta.schema
      val touchedBase =
        if (touchedDirs.isEmpty) base.limit(0)
        // DV-aware: the rewrite materializes any existing vector
        else readDirsWithDv(narrow, fs, r, cur, touchedDirs, carried)
      val upserts = latest.where(!coalesce(col(deleteCol), lit(false)))
        .drop(deleteCol)
      // CDC SCHEMA DRIFT (Delta's merge autoMerge, opt-in): a batch
      // carrying columns the table lacks evolves the committed schema
      // by the SAME rule appends use — add-nullable + lossless
      // widening, lossy changes refused loudly. Untouched dirs carry
      // by reference and read NULL-backfilled under the carried
      // schema, exactly like an evolving append. Without the opt-in a
      // drifted batch refuses (unionByName names the columns).
      val baseSchema = carried.getOrElse(touchedBase.schema)
      val evolved =
        if (allowSchemaEvolution) mergeSchemas(baseSchema, upserts.schema)
        else baseSchema
      def aligned(df: org.apache.spark.sql.DataFrame) =
        df.select(evolved.fields.toSeq.map(f =>
          (if (df.columns.contains(f.name)) col(f.name).cast(f.dataType)
           else lit(null).cast(f.dataType)).as(f.name)): _*)
      // MERGE-ON-READ fast path (deletion vectors): when the matched
      // base-row count stays under the bound, the touched dirs are NOT
      // rewritten — matched rows soft-delete via `#dv_` position lines
      // and the batch's winners append as one O(batch) dir. A CDC
      // batch touching one row per hot dir costs a small append + a
      // manifest write instead of rewriting every hot dir — the
      // at-scale shape of the continuous-upsert workload. Over-bound
      // (or dvMaxRows = 0) falls through to the dir rewrite.
      if (dvEff > 0 && touchedDirs.nonEmpty) {
        // metadata columns do not survive a join — materialize first
        val hits = readDirsWithDv(narrow, fs, r, cur, touchedDirs, carried)
          .withColumn("__dv_key",
            substring_index(col("_metadata.file_path"), "/", -2))
          .withColumn("__dv_pos", col("_metadata.row_index"))
          .join(touchedKeys, keyCols, "left_semi")
          .select(col("__dv_key"), col("__dv_pos"))
          .limit(dvEff.toInt + 1).collect()
        if (hits.length <= dvEff) {
          val fresh = withDvHits(dirMeta(fs, r, cur), touchedDirs, hits.toSeq)
          // strict mode keeps the COW contract: a drifted batch
          // refuses by name instead of aligned() silently dropping it
          // (the hidden row-id is engine-owned — never part of the
          // batch contract)
          if (!allowSchemaEvolution) {
            val publicBase = publicSchema(baseSchema).fieldNames.toSet
            val drift = upserts.columns.toSet.diff(publicBase) ++
              publicBase.diff(upserts.columns.toSet)
            require(drift.isEmpty,
              s"merge batch schema differs from the table on " +
                drift.toSeq.sorted.mkString("[", ", ", "]") +
                " — pass allowSchemaEvolution = true to evolve")
          }
          // CDC winners are NEW row versions — fresh ids (keyed
          // consumers pair by key; the keyless feed sees them as
          // delete+insert, the honest reading of a key-replacing merge)
          val (winners, ridNextDv) =
            assignFreshRowIds(curMeta, aligned(upserts))
          val effStats = curMeta.statsCols
          val effBloom = curMeta.bloomCols
          val stageMap = allocPhysical(evolved, curMeta.colMap,
            curMeta.retired, next)
          // a pure-delete batch appends nothing — only vectors commit
          val (newDirs, stagedMeta, _) =
            if (winners.isEmpty) (Nil, Map.empty[String, DirMeta], 0L)
            else {
              validateChecks(curMeta, r, winners, "merge")
              stageBatch(narrow, fs, r, winners, curMeta, effStats, effBloom,
                curMeta.partCols,
                bucketBy = curMeta.bucketBy, colMap = stageMap)
            }
          if (!commitManifest(fs, r, next, snapDirs ++ newDirs, retain,
              Some(evolved), None, stagedMeta ++ fresh,
              meta = m => m.declaring(effStats, effBloom).copy(
                colMap = stageMap, rowId = ridNextDv.orElse(m.rowId)),
              op = "merge")) {
            newDirs.foreach(d => fs.delete(new Path(r, d), true))
            throw new java.util.ConcurrentModificationException(
              s"merge into $root lost version $next to a concurrent " +
                "commit — the merge read a snapshot that is no longer " +
                "live; re-run against the current table (maintenance " +
                "commits are one-writer-at-a-time, Delta's OPTIMIZE " +
                "conflict rule)")
          }
          return next
        }
        // over the bound: fall through to the dir rewrite
      }
      // the applyChanges fold, scoped to the touched dirs' rows.
      // Survivors keep their hidden row ids (they ride in
      // touchedBase's columns); winners are NEW row versions and get
      // fresh ids below — aligned() gives them the typed NULL slot.
      val upsertsRid =
        if (curMeta.rowId.isDefined)
          upserts.withColumn(RowIdCol,
            lit(null).cast(org.apache.spark.sql.types.LongType))
        else upserts
      val rewritten0 =
        if (allowSchemaEvolution)
          aligned(touchedBase.join(touchedKeys, keyCols, "left_anti"))
            .unionByName(aligned(upserts))
        else touchedBase
          .join(touchedKeys, keyCols, "left_anti")
          .unionByName(upsertsRid)
      val (rewritten, ridNext) = assignFreshRowIds(curMeta, rewritten0)
      // the slot was pinned at entry, BEFORE the probe and the
      // rewrite: a concurrent commit landing during any of those jobs
      // takes the pinned number and our publish must then lose
      // (computing `next` later would let us publish a dirs list that
      // silently drops the interloper's data)
      val effStats = curMeta.statsCols
      // the rewrite stages under writer-unique dirs like every other
      // data write (one per partition tuple on a partitioned table —
      // COW maintenance preserves the declared layout): concurrent
      // writers never contest them, the version slot is claimed by the
      // manifest publish alone
      val effBloom = curMeta.bloomCols
      val effPart = curMeta.partCols
      val effBucket = curMeta.bucketBy
      validateChecks(curMeta, r, rewritten, "merge")
      // evolution may introduce columns whose names collide with a
      // mapped or retired physical name — allocate like appends do
      val stageMap = allocPhysical(evolved, curMeta.colMap,
        curMeta.retired, next)
      val (newDirs, stagedMeta, _) =
        stageBatch(narrow, fs, r, rewritten, curMeta, effStats, effBloom, effPart,
          maintenance = true, bucketBy = effBucket,
          colMap = stageMap)
      // replaced dirs may hold streaming-fold replay markers — carry
      // them into the replacement before the commit makes it live
      preserveMarkers(fs, r, touchedDirs, newDirs)
      if (!commitManifest(fs, r, next, untouched ++ newDirs, retain,
          Some(evolved), None, stagedMeta,
          meta = m => m.declaring(effStats, effBloom).copy(
            colMap = stageMap, rowId = ridNext.orElse(m.rowId)),
          op = "merge")) {
        newDirs.foreach(d => fs.delete(new Path(r, d), true))
        throw new java.util.ConcurrentModificationException(
          s"merge into $root lost version $next to a concurrent commit — " +
            "the merge read a snapshot that is no longer live; re-run " +
            "against the current table (maintenance commits are " +
            "one-writer-at-a-time, Delta's OPTIMIZE conflict rule)")
      }
      next
    } finally { latestOpt.foreach(_.unpersist()) }
  }

  /** Predicate DELETE on a committed table — `DELETE FROM t WHERE p`
    * as a copy-on-write commit, the set-based dual of the key-based
    * [[mergeCommitted]] (together they close the reference's row-level
    * DELETE gap, /root/reference/dags/Main.py:44-47, at lake scale).
    * Deletes rows where `predicate` is TRUE; NULL evaluates keep
    * (standard SQL DELETE semantics). Snapshot dirs classify
    * three ways off the manifest stats ALONE — no data is read to
    * decide:
    *
    *   - NO row can match ([[predExcludes]] on some conjunct)
    *     -> dir reused by reference, zero I/O;
    *   - EVERY row provably matches -> dir simply OMITTED from the
    *     new snapshot: a METADATA-ONLY partition drop. Needs the full
    *     proof chain: the predicate tree fully understood
    *     ([[extractPredsExact]]), every conjunct's range test
    *     ([[predIncludesAll]]), and the committed schema marking each
    *     predicate column non-nullable (min/max ranges ignore NULLs,
    *     and a NULL row must SURVIVE a delete — so a possibly-NULL
    *     column forfeits the drop and rewrites instead);
    *   - anything else -> rewritten with the full `!p` filter into one
    *     new dir.
    *
    * At 100 TB on a time-ordered append table, `DELETE WHERE ts <
    * retention_cutoff` is pure manifest surgery — the common
    * retention-expiry delete costs zero data I/O. Commit is the same
    * atomic manifest rename; retention keeps the pre-delete snapshot
    * for in-flight readers/time travel; the change feed derives the
    * deletes from the dir diff as usual. Streaming-fold replay markers
    * in replaced/dropped dirs are carried forward. Row count is not
    * carried (the drop path never counts what it drops); the
    * metadata-count chain resumes at the next counted commit. Returns
    * the committed version (unchanged when nothing can match). */
  /** @param dvMaxRows soft-delete bound (deletion vectors): when no
    *   whole-dir drop is in play and at most this many rows match, the
    *   delete commits `#dv_` position lines against the UNCHANGED dirs
    *   (merge-on-read) instead of rewriting them — the CDC-delete
    *   shape that at 100 TB turns per-batch dir-sized write
    *   amplification into a manifest line. Above the bound (or 0 to
    *   disable) the delete is the copy-on-write rewrite as before;
    *   compaction / z-order / any later rewrite of a DV'd dir
    *   materializes its vector away. */
  def deleteWhere(spark: SparkSession, root: String,
      predicate: org.apache.spark.sql.Column, retain: Int = -1,
      dvMaxRows: Long = -1L): Long = {
    import org.apache.spark.sql.functions.{coalesce, lit}
    require(retain >= -1,
      s"retain must be >= 0 (or -1 = inherit $PropRetain), got $retain")
    val fs = fsFor(spark, root)
    val r = new Path(root)
    val (cur, curMeta) = liveSnapshot(spark, root)
    val snapDirs = manifestDirs(fs, r, cur)
    // the slot is pinned HERE, before the classify/hits/staging jobs
    // run: a concurrent commit landing during those jobs takes this
    // number and our publish then fails loudly instead of silently
    // republishing the stale snapDirs over the interloper's commit
    // (lost update) — the COW invariant, shared by the DV fast path
    val next = pinSlot(fs, r, cur)
    afterSlotPin()
    val dvEff = effDvMaxRows(curMeta, dvMaxRows)
    val perDir = dirMeta(fs, r, cur)
    val carried = curMeta.schema
    // user predicates name LOGICAL columns; per-dir lines are physical
    val cmap = curMeta.colMap
    val (preds0, exact) = extractPredsExact(
      org.apache.spark.sql.graft.Shim.catalystTree(predicate))
    // generated-column derivation: the derived conjuncts are IMPLIED
    // by the originals, so both the Keep and the whole-dir Drop proofs
    // stay exact with them added
    val preds = predsToPhysical(
      preds0 ++ deriveGenPreds(spark, fs, r, cur, preds0), cmap)
    // the NULL gate for the metadata-only drop: every predicate column
    // declared non-nullable by the COMMITTED schema (a dir could
    // otherwise hide NULL rows the ranges don't see)
    val nonNullCols: Set[String] = carried
      .map(_.fields.collect {
        case f if !f.nullable => physName(cmap, f.name) }.toSet)
      .getOrElse(Set.empty)
    val allMatchProvable = exact && preds.nonEmpty &&
      preds.forall(p => nonNullCols.contains(p.col))
    // the EXCLUSION side additionally understands OR shapes (round-16
    // tree pruner): a `k = 5 OR k = 9000005` DELETE rewrites only the
    // dirs that can hold matches. The whole-dir DROP proofs stay
    // conjunction-exact — an OR tree falls to Rewrite/DV, never a
    // wrong metadata drop.
    val delTree = enrichTree(spark, fs, r, cur,
      extractTree(org.apache.spark.sql.graft.Shim.catalystTree(predicate)))
    sealed trait C; case object Keep extends C; case object Drop extends C
    case object Rewrite extends C
    def classify(d: String): C = {
      // partition values decide FIRST and exactly: a dir whose tuple
      // fails a conjunct survives untouched, and a dir whose tuple
      // provably satisfies EVERY conjunct (the exact predicate, all on
      // partition columns) is the metadata-only WHOLE-PARTITION DROP —
      // `DELETE WHERE year = 1996` on a year-partitioned fact is
      // manifest surgery, zero data I/O, no nullability gate needed
      // (the tuple IS each row's value)
      val m = perDir.getOrElse(d, DirMeta.empty)
      val pv = m.part.map(parsePartJson)
      lazy val st = m.stats.map(parseStatsJson)
      lazy val bf = m.bloom.map(parseBloomJson)
      // exclusion through the TREE (partition tuples, ranges, blooms
      // as combined per-leaf evidence; OR keeps a dir unless BOTH
      // sides exclude): no row can match → the dir survives untouched
      def leafExcl(p: Pred): Boolean =
        pv.exists(m => m.get(p.col).exists(partValueExcludes(_, p))) ||
        st.exists(m => m.get(p.col).exists {
          case (lo, hi) => predExcludes(lo, hi, p) }) ||
        bf.exists(bfs => bloomExcludes(bfs, p))
      if (treeExcludes(delTree, leafExcl)) return Keep
      val partDrop = exact && preds.nonEmpty && pv.exists(m =>
        preds.forall(p => m.get(p.col).exists(partValueIncludesAll(_, p))))
      if (partDrop) return Drop
      st match {
        case Some(stm) if allMatchProvable && preds.forall(p =>
            stm.get(p.col).exists { case (lo, hi) => predIncludesAll(lo, hi, p) }) =>
          Drop
        case _ => Rewrite // unstat'd or straddling: read, filter, rewrite
      }
    }
    val byClass = snapDirs.groupBy(classify)
    val kept = byClass.getOrElse(Keep, Nil)
    val dropped = byClass.getOrElse(Drop, Nil)
    val rewrite = byClass.getOrElse(Rewrite, Nil)
    if (dropped.isEmpty && rewrite.isEmpty) return cur // nothing can match
    // internal jobs (DV hit probe, rewrite staging) plan at the width
    // of the rewritten dirs' on-disk bytes
    val narrow = ShuffleWidth.narrowed(spark, ShuffleWidth.bytesWidth(
      BigInt(rewrite.map(d => fs.listStatus(new Path(r, d)).toSeq
        .filter(_.isFile).map(_.getLen).sum).sum)))
    // MERGE-ON-READ fast path (deletion vectors): no whole-dir drop in
    // play → soft-delete the matching rows as `#dv_` position lines
    // against the UNCHANGED dir set. One metadata-cost commit; the
    // read filter and every rewrite path honor the vector. Falls back
    // to copy-on-write when the hit count exceeds the bound.
    if (rewrite.nonEmpty && dropped.isEmpty && dvEff > 0) {
      import org.apache.spark.sql.functions.{col, substring_index}
      val hits = readDirsWithDv(narrow, fs, r, cur, rewrite, carried)
        .where(coalesce(predicate, lit(false)))
        .select(
          substring_index(col("_metadata.file_path"), "/", -2).as("__dv_key"),
          col("_metadata.row_index").as("__dv_pos"))
        .limit(dvEff.toInt + 1).collect()
      if (hits.isEmpty) return cur // no row actually matches
      if (hits.length <= dvEff) {
        // positions are NEW deletions (the read pre-filtered existing
        // vectors), so the metadata count stays exact through the chain
        if (!commitManifest(fs, r, next, snapDirs, retain, carried,
            curMeta.rows.map(_ - hits.length),
            withDvHits(perDir, rewrite, hits.toSeq), op = "delete"))
          throw new java.util.ConcurrentModificationException(
            s"delete on $root lost version $next to a concurrent " +
              "commit — the delete classified a snapshot that is no " +
              "longer live; re-run against the current table")
        return next
      }
      // over the bound: fall through to the copy-on-write rewrite
    }
    val effStats = curMeta.statsCols
    // a dropped dir may hold streaming-fold replay markers: they must
    // survive the delete or a checkpoint replay double-folds. A
    // rewrite dir gives them a home; a pure-drop commit writes an
    // empty carrier dir only when markers actually exist.
    def hasMarkers(dirs: Seq[String]): Boolean =
      dirs.map(d => new Path(r, d)).filter(fs.exists)
        .exists(d => fs.listStatus(d).exists(_.getPath.getName.startsWith("_applied_")))
    val effBloom = curMeta.bloomCols
    // rewrites PRESERVE the table's declared partition layout: on a
    // partitioned table the surviving rows re-stage one dir per value
    // tuple with fresh #part_ lines, so partition pruning never
    // degrades under COW maintenance
    val effPart = curMeta.partCols
    // staged writer-unique dirs (see mergeCommitted): the slot is
    // claimed by the publish, never by the dir names
    val (newDirs, stagedMeta, _) =
      if (rewrite.nonEmpty) {
        // DV-aware read: a rewrite MATERIALIZES any existing vector
        // (soft-deleted rows excluded here never reach the new dir)
        val base = readDirsWithDv(narrow, fs, r, cur, rewrite, carried)
        val surviving = base.where(!coalesce(predicate, lit(false)))
        val staged = stageBatch(narrow, fs, r, surviving, curMeta, effStats,
          effBloom, effPart,
          maintenance = true, bucketBy = curMeta.bucketBy,
          colMap = cmap)
        preserveMarkers(fs, r, rewrite ++ dropped, staged._1)
        staged
      } else if (hasMarkers(dropped) || kept.isEmpty) {
        // empty carrier dir: markers need a home, and a zero-dir
        // manifest is unrepresentable (an empty dirs body reads as the
        // body-less back-compat form [v<version>]) — deleting the
        // whole table still commits one readable empty snapshot
        val schema = carried.getOrElse(narrow.read.parquet(
          dropped.map(d => new Path(r, d).toString): _*).schema)
        val empty = narrow.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](), schema)
        val staged = stageBatch(narrow, fs, r, empty, curMeta, effStats, effBloom, Nil,
          bucketBy = curMeta.bucketBy, colMap = cmap)
        preserveMarkers(fs, r, dropped, staged._1)
        staged
      } else // the metadata-only partition drop: no job at all
        (Nil, Map.empty[String, DirMeta], 0L)
    if (!commitManifest(fs, r, next, kept ++ newDirs, retain,
        carried, None, stagedMeta, meta = _.declaring(effStats, effBloom),
        op = "delete")) {
      newDirs.foreach(d => fs.delete(new Path(r, d), true))
      throw new java.util.ConcurrentModificationException(
        s"delete on $root lost version $next to a concurrent commit — " +
          "the delete classified a snapshot that is no longer live; " +
          "re-run against the current table")
    }
    next
  }

  /** Predicate UPDATE on a committed table — `UPDATE t SET c = expr
    * WHERE p` as a copy-on-write commit. Dirs whose stats prove no row
    * matches are reused by reference; the rest rewrite with
    * `CASE WHEN p THEN expr ELSE c END` per assigned column (NULL
    * predicate keeps the row unchanged, standard SQL). Assignments
    * cast to the column's committed type, so the table schema is
    * invariant; caller contract: an assignment to a column the schema
    * marks non-nullable must not yield NULL (carried-schema reads
    * would lie). Row cardinality is preserved, so the
    * metadata `count(*)` chain carries through. Returns the committed
    * version (unchanged when nothing can match). */
  def updateWhere(spark: SparkSession, root: String,
      predicate: org.apache.spark.sql.Column,
      set: Map[String, org.apache.spark.sql.Column], retain: Int = -1,
      dvMaxRows: Long = -1L): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, when}
    require(retain >= -1,
      s"retain must be >= 0 (or -1 = inherit $PropRetain), got $retain")
    require(set.nonEmpty, "updateWhere needs at least one SET assignment")
    val fs = fsFor(spark, root)
    val r = new Path(root)
    val (cur, curMeta) = liveSnapshot(spark, root)
    val snapDirs = manifestDirs(fs, r, cur)
    // slot pinned before any job runs — see deleteWhere: a concurrent
    // commit during the hits/staging jobs takes this number and our
    // publish fails loudly instead of clobbering it (DV and COW paths
    // share the invariant)
    val next = pinSlot(fs, r, cur)
    afterSlotPin()
    val dvEff = effDvMaxRows(curMeta, dvMaxRows)
    val carried = curMeta.schema
    val schema = carried.getOrElse(spark.read.parquet(
      snapDirs.map(d => new Path(r, d).toString): _*).schema)
    // canonicalize SET keys to the SCHEMA's spelling under the session
    // resolver: the analyzer resolved `SET Meta.x = …` case-insensitively,
    // so 'Meta' must land on the schema's 'meta' (exact lookups below —
    // schema(c), withColumn — then stay spelling-stable)
    val setRes = org.apache.spark.sql.internal.SQLConf.get.resolver
    val set0 = set.map { case (k, v) =>
      schema.fieldNames.find(setRes(_, k)).getOrElse(k) -> v }
    // the carried schema includes the HIDDEN row-tracking column —
    // engine-owned like the identity column one guard below: a
    // programmatic SET on it would rewrite stable ids and silently
    // break the keyless change feed's pairing contract
    require(!set0.contains(RowIdCol),
      s"'$RowIdCol' is engine-owned under row tracking — UPDATE " +
        "cannot assign it (stable ids are what the keyless change " +
        "feed pairs on)")
    set0.keys.foreach(c => require(
      publicSchema(schema).fieldNames.contains(c),
      s"SET column '$c' is not in the table schema " +
        publicSchema(schema).fieldNames.mkString("[", ", ", "]")))
    curMeta.identity.foreach { case (idCol, _) =>
      require(!set0.contains(idCol),
        s"identity column '$idCol' is GENERATED ALWAYS — UPDATE cannot " +
          "assign it (keys are allocator-owned)")
    }
    // user predicates name LOGICAL columns; per-dir lines are physical.
    // The TREE keeps the predicate's AND/OR shape — a selective
    // `k = 5 OR k = 9000005` UPDATE rewrites only the two dirs that
    // can hold matches, not the table (same round-16 rule as reads).
    val cmap = curMeta.colMap
    val updTree = enrichTree(spark, fs, r, cur,
      extractTree(org.apache.spark.sql.graft.Shim.catalystTree(predicate)))
    val perDir = dirMeta(fs, r, cur)
    val (touched, kept) = partitionDirsTree(snapDirs, perDir, updTree)
    if (touched.isEmpty) return cur
    // internal jobs (DV hit probe, copy/rewrite staging) plan at the
    // width of the touched dirs' on-disk bytes
    val narrow = ShuffleWidth.narrowed(spark, ShuffleWidth.bytesWidth(
      BigInt(touched.map(d => fs.listStatus(new Path(r, d)).toSeq
        .filter(_.isFile).map(_.getLen).sum).sum)))
    // MERGE-ON-READ fast path (deletion vectors, Delta's DV update):
    // when the hit count stays under the bound, the matched rows
    // soft-delete via `#dv_` position lines against the UNCHANGED dir
    // set and their UPDATED copies append as one O(matched) dir — a
    // sparse UPDATE on a hot 100 TB table costs a small append plus a
    // manifest write, not dir-sized copy-on-write amplification. Two
    // passes read the predicate, so a nondeterministic one falls back
    // to the single-pass COW rewrite. The change feed needs no special
    // case: the key join pairs each killed row with its appended copy
    // into update_preimage/update_postimage.
    val deterministic = scala.util.Try(
      org.apache.spark.sql.graft.Shim.catalystTree(predicate).deterministic)
      .getOrElse(false)
    if (dvEff > 0 && deterministic) {
      import org.apache.spark.sql.functions.substring_index
      val hits = readDirsWithDv(narrow, fs, r, cur, touched, carried)
        .where(coalesce(predicate, lit(false)))
        .select(
          substring_index(col("_metadata.file_path"), "/", -2).as("__dv_key"),
          col("_metadata.row_index").as("__dv_pos"))
        .limit(dvEff.toInt + 1).collect()
      if (hits.isEmpty) return cur // no row actually matches
      if (hits.length <= dvEff) {
        val fresh = withDvHits(perDir, touched, hits.toSeq)
        // the updated COPIES of the matched rows, computed
        // distributively and staged as one O(matched) dir (layout- and
        // bucket-preserving, like every staged write)
        val copies0 = readDirsWithDv(narrow, fs, r, cur, touched, carried)
          .where(coalesce(predicate, lit(false)))
        val copies = set0.foldLeft(copies0) { case (df, (c, expr)) =>
          df.withColumn(c, expr.cast(
            org.apache.spark.sql.graft.Shim.asNullableType(schema(c).dataType)))
        }
        validateChecks(curMeta, r, copies, "update")
        val effStatsDv = curMeta.statsCols
        val effBloomDv = curMeta.bloomCols
        val (newDirs, stagedMeta, _) =
          stageBatch(narrow, fs, r, copies, curMeta, effStatsDv, effBloomDv,
            curMeta.partCols,
            bucketBy = curMeta.bucketBy, colMap = cmap)
        // row-preserving: every killed row has exactly one live copy
        if (!commitManifest(fs, r, next, snapDirs ++ newDirs, retain,
            carried, curMeta.rows, stagedMeta ++ fresh,
            meta = _.declaring(effStatsDv, effBloomDv), op = "update")) {
          newDirs.foreach(d => fs.delete(new Path(r, d), true))
          throw new java.util.ConcurrentModificationException(
            s"update on $root lost version $next to a concurrent " +
              "commit — the update classified a snapshot that is no " +
              "longer live; re-run against the current table")
        }
        return next
      }
      // over the bound: fall through to the copy-on-write rewrite
    }
    // DV-aware read: the rewrite materializes any existing vector
    val base = readDirsWithDv(narrow, fs, r, cur, touched, carried)
    val hit = coalesce(predicate, lit(false))
    val updated = set0.foldLeft(base) { case (df, (c, expr)) =>
      val field = schema(c)
      df.withColumn(c, when(hit, expr.cast(
        org.apache.spark.sql.graft.Shim.asNullableType(field.dataType)))
        .otherwise(col(c)))
    }
    val effStats = curMeta.statsCols
    val effBloom = curMeta.bloomCols
    // layout-preserving rewrite (see deleteWhere): note an UPDATE may
    // move rows BETWEEN partitions (SET on a partition column) — the
    // re-staging splits by the post-update values, so the layout stays
    // exact either way
    val effPart = curMeta.partCols
    validateChecks(curMeta, r, updated, "update")
    val (newDirs, stagedMeta, _) =
      stageBatch(narrow, fs, r, updated, curMeta, effStats, effBloom, effPart,
          maintenance = true, bucketBy = curMeta.bucketBy,
          colMap = cmap)
    preserveMarkers(fs, r, touched, newDirs)
    // updates are row-preserving: the metadata count carries over
    if (!commitManifest(fs, r, next, kept ++ newDirs, retain,
        carried, curMeta.rows, stagedMeta,
        meta = _.declaring(effStats, effBloom), op = "update")) {
      newDirs.foreach(d => fs.delete(new Path(r, d), true))
      throw new java.util.ConcurrentModificationException(
        s"update on $root lost version $next to a concurrent commit — " +
          "the update rewrote a snapshot that is no longer live; re-run " +
          "against the current table")
    }
    next
  }

  /** General SQL-semantics MERGE INTO a committed table — the
    * copy-on-write executor behind `MERGE INTO` on lake catalog
    * tables (and a programmatic operator in its own right; the
    * CDC-shaped [[mergeCommitted]] remains the upsert-feed form).
    *
    * Clause semantics are ANSI MERGE: every (target row, source row)
    * pair matching the equi-`on` condition takes the FIRST `matched`
    * clause whose condition holds (UPDATE builds the new row, DELETE
    * drops it; no clause → row kept); target rows with no source
    * match take the first `notMatchedBySource` clause; source rows
    * with no target match take the first `notMatched` INSERT clause
    * (unassigned columns NULL). A target row matched by MORE than one
    * source row is a cardinality violation and fails the job (the
    * ambiguity every engine refuses), detected with a window over the
    * BATCH side only — never a corpus-sized shuffle.
    *
    * Column reference contract: target columns as `col("t.c")`,
    * source columns as `col("s.c")` in clause conditions/assignments;
    * `on` pairs are (target expr `t.`-qualified, source expr
    * UNqualified — it resolves against the bare source before the
    * join).
    *
    * Scale shape (the [[mergeCommitted]] discipline): one map-only
    * probe finds which snapshot dirs hold matched keys; untouched
    * dirs are reused BY REFERENCE and only touched dirs rewrite
    * through the clause fold. `notMatchedBySource` clauses see every
    * target row by definition, so they rewrite the full snapshot —
    * that is the semantics' cost, not the executor's. Optimistically
    * concurrent like every maintenance commit: the slot is pinned
    * before the rewrite, losing it deletes the staged dir and
    * refuses. Returns the committed version (unchanged if a no-op). */
  def mergeInto(spark: SparkSession, root: String,
      source: org.apache.spark.sql.DataFrame,
      on: Seq[(org.apache.spark.sql.Column, org.apache.spark.sql.Column)],
      matched: Seq[LakeMergeMatched] = Nil,
      notMatched: Seq[LakeMergeInsert] = Nil,
      notMatchedBySource: Seq[LakeMergeMatched] = Nil,
      retain: Int = -1): Long = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.Column
    require(retain >= -1,
      s"retain must be >= 0 (or -1 = inherit $PropRetain), got $retain")
    require(on.nonEmpty, "MERGE needs at least one ON equality pair")
    require(matched.nonEmpty || notMatched.nonEmpty || notMatchedBySource.nonEmpty,
      "MERGE needs at least one WHEN clause")
    val fs = fsFor(spark, root)
    val r = new Path(root)
    val cur = currentVersion(spark, root).getOrElse(
      throw new java.util.NoSuchElementException(
        s"no committed table at $root — bootstrap with commitOverwrite/commitAppend"))
    val curMeta = tableMeta(fs, r, cur)
    val snapDirs = manifestDirs(fs, r, cur)
    // slot pinned before the probe/rewrite jobs — see mergeCommitted
    val next = pinSlot(fs, r, cur)
    afterSlotPin()
    val carried = curMeta.schema
    val base0 = readCommittedAt(spark, root, cur)
    val schema = carried.getOrElse(base0.schema)
    // canonicalize assignment keys to the SCHEMA's spelling under the
    // session resolver — the branch application below looks maps up by
    // exact schema field name, so a case-varied `SET Meta = …` would
    // otherwise silently NOT apply (the row would keep its old value)
    val mergeRes = org.apache.spark.sql.internal.SQLConf.get.resolver
    def canonSet(m: Map[String, Column]): Map[String, Column] = {
      // the hidden row-id is engine-owned: assigning (or inserting)
      // it would rewrite stable ids and break keyless-feed pairing —
      // same refusal UPDATE applies, matching the append-side guard
      require(!m.keys.exists(mergeRes(_, RowIdCol)),
        s"'$RowIdCol' is engine-owned under row tracking — MERGE " +
          "cannot assign or insert it")
      m.map { case (k, v) =>
        schema.fieldNames.find(mergeRes(_, k)).getOrElse(k) -> v }
    }
    def canonMatched(cs: Seq[LakeMergeMatched]): Seq[LakeMergeMatched] =
      cs.map {
        case LakeMergeUpdate(c, set) => LakeMergeUpdate(c, canonSet(set))
        case d => d
      }
    val matchedC = canonMatched(matched)
    val notMatchedBySourceC = canonMatched(notMatchedBySource)
    val notMatchedC = notMatched.map(i => i.copy(values = canonSet(i.values)))
    val needJoin = matched.nonEmpty || notMatchedBySource.nonEmpty
    // working columns are part of the executor's private vocabulary —
    // a user column under one of these names would be silently
    // overwritten mid-merge, so refuse up front
    (Seq("__nmatch", "__s_present") ++ on.indices.map(i => s"__sk_$i"))
      .foreach(n => require(!source.columns.contains(n),
        s"MERGE source must not carry reserved working column '$n'"))
    Seq("__file", "__del").foreach(n =>
      require(!schema.fieldNames.contains(n),
        s"MERGE target must not carry reserved working column '$n'"))
    // per-source-key match count, window over the BATCH side only —
    // joined rows carrying __nmatch > 1 are the cardinality violation
    val srcW = source
      .withColumn("__nmatch", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(on.map(_._2): _*)))
      .withColumn("__s_present", lit(true))
      .persist()
    // internal probe/rewrite jobs plan at the base+batch estimate's width
    val narrow = ShuffleWidth.narrowed(spark,
      ShuffleWidth.bytesWidth(Seq(base0, source)))
    val base = Shim.rebind(narrow, base0)
    try {
      val joinCond = on.zipWithIndex.map { case ((t, _), i) =>
        t === col(s"s.__sk_$i")
      }.reduce(_ && _)
      // materialize the source-side key exprs as columns BEFORE the
      // alias (they must resolve against the bare source, and stay
      // unambiguous under the join)
      val srcKeyed = on.zipWithIndex.foldLeft(Shim.rebind(narrow, srcW)) {
        case (d, ((_, s), i)) => d.withColumn(s"__sk_$i", s)
      }.alias("s")
      val touchedDirNames: Set[String] =
        if (notMatchedBySource.nonEmpty) snapDirs.toSet
        else if (matched.isEmpty) Set.empty
        else probeDirNames(base
          .withColumn("__file", input_file_name()).alias("t")
          .join(srcKeyed, joinCond, "left_semi")
          .select(col("__file")))
      val touchedDirs = snapDirs.filter(touchedDirNames)
      val untouched = snapDirs.filterNot(touchedDirNames)
      val cols = schema.fieldNames.toSeq
      val touchedBase =
        if (touchedDirs.isEmpty) base.limit(0)
        // DV-aware: the rewrite materializes any existing vector
        else readDirsWithDv(narrow, fs, r, cur, touchedDirs, carried)
      val present = coalesce(col("s.__s_present"), lit(false))
      // ordered branch list: (guard, Some(assignments) = update /
      // None = delete). Matched and by-source groups are disjoint on
      // `present`, so group order cannot overlap.
      def branchesOf(clauses: Seq[LakeMergeMatched], guard: Column) =
        clauses.map {
          case LakeMergeUpdate(c, set) =>
            (guard && c.getOrElse(lit(true)), Some(set))
          case LakeMergeDelete(c) =>
            (guard && c.getOrElse(lit(true)), None)
        }
      val branches = branchesOf(matchedC, present) ++
        branchesOf(notMatchedBySourceC, !present)
      def colValue(c: String): Column = branches.foldRight(col(s"t.$c")) {
        case ((g, act), els) =>
          when(g, act.flatMap(_.get(c)).getOrElse(col(s"t.$c"))).otherwise(els)
      }.cast(org.apache.spark.sql.graft.Shim.asNullableType(schema(c).dataType))
      val plainDel = branches.foldRight(lit(false): Column) {
        case ((g, act), els) => when(g, lit(act.isEmpty)).otherwise(els)
      }
      // the cardinality raise rides the delete flag — it is evaluated
      // for every joined row before any branch can act. It applies
      // ONLY when matched clauses can act: a bySource-only merge keeps
      // matched rows verbatim, so duplicate source keys are legal
      // there (only key PRESENCE matters) and the join right side
      // dedupes to the distinct key set to keep the row multiset exact.
      val deleted =
        if (matched.isEmpty) plainDel
        else when(present && col("s.__nmatch") > 1,
            raise_error(concat(lit("MERGE cardinality violation on "),
              lit(root), lit(": a target row matched multiple source rows " +
                "— deduplicate the source on the ON keys"))).cast("boolean"))
          .otherwise(plainDel)
      val joinRight =
        if (matched.nonEmpty) srcKeyed
        else srcKeyed.select(
          (on.indices.map(i => col(s"__sk_$i")) :+ col("__s_present")): _*)
          .distinct().alias("s")
      val keptRewritten =
        if (!needJoin) touchedBase.limit(0)
        else touchedBase.alias("t").join(joinRight, joinCond, "left")
          .withColumn("__del", deleted)
          .where(!col("__del"))
          .select(cols.map(c => colValue(c).as(c)): _*)
      val inserts =
        if (notMatched.isEmpty) keptRewritten.limit(0)
        else {
          // every target row matching a source key lives in a touched
          // dir (that is what the probe computed), so the anti-join
          // against touched rows alone is the anti-join against the
          // full table. Insert-only merges probe nothing — anti-join
          // the full base.
          val antiRight = (if (needJoin) touchedBase else base).alias("t")
          val srcOnly = srcKeyed.join(antiRight, joinCond, "left_anti")
          val insBranches = notMatchedC.map(i =>
            (i.condition.getOrElse(lit(true)), i.values))
          // a column the INSERT clause leaves unnamed takes its
          // declared DEFAULT (CURRENT_DEFAULT field metadata, like an
          // omitting append); NULL only when no default is declared
          def insFallback(c: String): Column = {
            val md = schema(c).metadata
            if (md.contains(DefaultCurrentKey))
              org.apache.spark.sql.functions
                .expr(md.getString(DefaultCurrentKey))
            else lit(null)
          }
          def insValue(c: String): Column =
            insBranches.foldRight(lit(null): Column) { case ((g, vs), els) =>
              when(g, vs.getOrElse(c, insFallback(c))).otherwise(els)
            }.cast(schema(c).dataType)
          val insFlag = insBranches.foldRight(lit(false): Column) {
            case ((g, _), els) => when(g, lit(true)).otherwise(els)
          }
          srcOnly.where(insFlag)
            .select(cols.map(c => insValue(c).as(c)): _*)
        }
      // kept/updated rows carry their hidden row ids through the
      // `t.`-side fallback; INSERT rows surface with a NULL id and
      // take the next block here (update stability + fresh inserts —
      // what the keyless change feed pairs on)
      val (rewritten, ridNext) =
        assignFreshRowIds(curMeta, keptRewritten.unionByName(inserts))
      // nothing matched, nothing to insert → the table is unchanged
      if (touchedDirs.isEmpty && rewritten.isEmpty) return cur
      val effStats = curMeta.statsCols
      val effBloom = curMeta.bloomCols
      // layout-preserving (see deleteWhere): partitioned tables
      // re-stage the rewrite one dir per value tuple
      val effPart = curMeta.partCols
      val effBucket = curMeta.bucketBy
      validateChecks(curMeta, r, rewritten, "merge")
      val (newDirs, stagedMeta, _) =
        stageBatch(narrow, fs, r, rewritten, curMeta, effStats, effBloom,
          effPart, maintenance = true, bucketBy = effBucket,
          colMap = curMeta.colMap)
      preserveMarkers(fs, r, touchedDirs, newDirs)
      if (!commitManifest(fs, r, next, untouched ++ newDirs, retain,
          carried.orElse(Some(rewritten.schema)), None, stagedMeta,
          meta = m => m.declaring(effStats, effBloom).copy(
            rowId = ridNext.orElse(m.rowId)),
          op = "merge")) {
        newDirs.foreach(d => fs.delete(new Path(r, d), true))
        throw new java.util.ConcurrentModificationException(
          s"merge into $root lost version $next to a concurrent commit — " +
            "the merge read a snapshot that is no longer live; re-run " +
            "against the current table (maintenance commits are " +
            "one-writer-at-a-time, Delta's OPTIMIZE conflict rule)")
      }
      next
    } finally { srcW.unpersist(); () }
  }
}
