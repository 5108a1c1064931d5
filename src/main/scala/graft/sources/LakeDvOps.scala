package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Deletion-vector state: the `#dv_` line codec, the read-filter column, and the per-snapshot broadcast carrier cache.
  *
  * Mechanically split from the [[Lake]] object (one object, many
  * files): every member keeps its semantics and its package-private
  * reach; [[Lake]] mixes the traits back into the single public
  * surface. See Lake.scala for the protocol overview. */
private[graft] trait LakeDvOps { this: Lake.type =>

  // ---- deletion vectors (merge-on-read row deletes) ----------------
  //
  // `#dv_<dir>=<json>` soft-deletes rows of an IMMUTABLE data dir by
  // parquet row position: json = {"<file>": [pos, …]} with positions
  // the deterministic `_metadata.row_index` the scan regenerates
  // (Delta's DV foundation — row indices are absolute file positions,
  // stable under row-group/page skipping). This is the first MUTABLE
  // per-dir manifest line ([[DirMeta.dv]]): a later delete on the same
  // dir REPLACES its line with the merged position set, and RESTORE
  // sets every dir's vector to the target version's (carry semantics
  // would resurrect or re-kill rows across the restore point).
  //
  // Readers conjoin `NOT DvContains(<dir-basename>/<file>, row_index)`
  // ([[dvReadFilter]] on index-planned reads, [[readDirsWithDv]] on
  // every raw-path COW/maintenance/diff read), so a soft-deleted row
  // can neither be served nor resurrect through a rewrite. Any rewrite
  // of a DV'd dir (update/merge/compact/z-order/COW delete) reads
  // through the filter and MATERIALIZES the deletes away — the
  // replacement dir carries no line. Bounded by construction: a delete
  // whose hit count exceeds its `dvMaxRows` falls back to copy-on-
  // write, so manifests stay planning-read-sized; at 100 TB the
  // CDC-delete workload commits manifest lines instead of rewriting
  // its hot dirs every batch, and the standing compaction cadence
  // folds the vectors into data.

  private[sources] def dvJson(m: Map[String, Seq[Long]]): String = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.createObjectNode()
    m.toSeq.sortBy(_._1).foreach { case (f, ps) =>
      val arr = om.createArrayNode()
      ps.foreach(p => arr.add(p))
      root.set[com.fasterxml.jackson.databind.JsonNode](f, arr)
      ()
    }
    om.writeValueAsString(root)
  }

  /** The [[DirMeta]] entries a deletion-vector commit passes: each hit
    * dir's `prev` entry with its vector extended by `hits` — rows of
    * (`<dir-basename>/<file>`, row position) over `dirs`. */
  private[sources] def withDvHits(prev: Map[String, DirMeta],
      dirs: Seq[String], hits: Seq[org.apache.spark.sql.Row]):
      Map[String, DirMeta] = {
    val bySeg = dirs.map(d => new Path(d).getName -> d).toMap
    hits.map(h => (h.getString(0), h.getLong(1)))
      .groupBy { case (k, _) => bySeg(k.takeWhile(_ != '/')) }
      .map { case (dir, entries) =>
        val was = prev.getOrElse(dir, DirMeta.empty)
        val before = was.dv.map(parseDvJson)
          .getOrElse(Map.empty[String, Array[Long]])
        val merged = entries.foldLeft(
          before.view.mapValues(_.toSet).toMap) { case (acc, (k, pos)) =>
          val f = k.drop(k.indexOf('/') + 1)
          acc + (f -> (acc.getOrElse(f, Set.empty[Long]) + pos))
        }
        dir -> was.copy(dv =
          Some(dvJson(merged.view.mapValues(_.toSeq.sorted).toMap)))
      }
  }

  private[graft] def parseDvJson(json: String): Map[String, Array[Long]] = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = scala.util.Try(om.readTree(json)).getOrElse(return Map.empty)
    val it = root.properties().iterator()
    val out = Map.newBuilder[String, Array[Long]]
    while (it.hasNext) {
      val e = it.next()
      val v = e.getValue
      if (v.isArray) {
        val buf = Array.newBuilder[Long]
        val ait = v.elements()
        while (ait.hasNext) buf += ait.next().asLong()
        out += e.getKey -> buf.result()
      }
    }
    out.result()
  }

  /** The DV read predicate for `dvs` (dir -> json line), or None when
    * nothing is soft-deleted. Keyed by `<dir-basename>/<file>` — the
    * last two `_metadata.file_path` segments — so relative and
    * absolute (clone-referenced) dir entries resolve alike. The
    * [[DvApplied]] marker rides along for the analyzer rule's
    * idempotence check and constant-folds away. */
  private[sources] def dvEntries(dvs: Map[String, String]): Option[DvSet] = {
    if (dvs.isEmpty) return None
    val entries: Map[String, Array[Long]] = dvs.toSeq.flatMap { case (dir, j) =>
      val base = new Path(dir).getName
      parseDvJson(j).map { case (f, ps) => (base + "/" + f) -> ps }
    }.toMap
    if (entries.forall(_._2.isEmpty)) None else Some(new DvSet(entries))
  }

  private[sources] def dvColumn(spark: SparkSession, dvs: Map[String, String],
      cacheKey: Option[(String, Long)] = None):
      Option[org.apache.spark.sql.Column] = dvEntries(dvs).map { set =>
    import org.apache.spark.sql.functions.{col, substring_index}
    import org.apache.spark.sql.graft.Shim
    val key = substring_index(col("_metadata.file_path"), "/", -2)
    Shim.column(DvApplied()) &&
      !Shim.column(DvContains(Shim.expression(key),
        Shim.expression(col("_metadata.row_index")),
        dvCarrier(spark, set, cacheKey)))
  }

  /** Ship threshold: position sets at or above this embed as an
    * executor BROADCAST instead of riding the serialized plan into
    * every task closure; below it the plan copy is cheaper than the
    * broadcast bookkeeping. */
  private[sources] final val DvBroadcastMinPositions = 4096L

  // One snapshot ships ONE broadcast: repeated reads of a DV-heavy
  // table reuse the (root, version) entry instead of re-broadcasting
  // the full position set per read assembly / analyzer-rule pass and
  // leaving the blocks to accumulate until ContextCleaner happens to
  // run. Hits VALIDATE structurally (manifests are immutable in
  // protocol, but test scenarios and hand surgery are not) and
  // evicted/invalidated entries unpersist their blocks eagerly.
  private[sources] val dvBcCacheMax = 32
  private[sources] val dvBcCache = new java.util.LinkedHashMap[
      (String, Long), org.apache.spark.broadcast.Broadcast[DvSet]](
      16, 0.75f, true) {
    override def removeEldestEntry(e: java.util.Map.Entry[
        (String, Long), org.apache.spark.broadcast.Broadcast[DvSet]]):
        Boolean = {
      val evict = size() > dvBcCacheMax
      if (evict) scala.util.Try(e.getValue.unpersist(blocking = false))
      evict
    }
  }

  private[sources] def sameDvSet(a: DvSet, b: DvSet): Boolean =
    a.entries.keySet == b.entries.keySet &&
      a.entries.forall { case (k, ps) => b.entries(k).sameElements(ps) }

  private[sources] def dvCarrier(spark: SparkSession, set: DvSet,
      cacheKey: Option[(String, Long)] = None): DvCarrier =
    if (set.totalPositions < DvBroadcastMinPositions) DvInline(set)
    else cacheKey match {
      case None => DvBroadcastRef(spark.sparkContext.broadcast(set))
      case Some(k) => dvBcCache.synchronized {
        val hit = dvBcCache.get(k)
        val valid = hit != null &&
          scala.util.Try(sameDvSet(hit.value, set)).getOrElse(false)
        val bc =
          if (valid) hit
          else {
            if (hit != null)
              scala.util.Try(hit.unpersist(blocking = false))
            val fresh = spark.sparkContext.broadcast(set)
            dvBcCache.put(k, fresh)
            fresh
          }
        DvBroadcastRef(bc)
      }
    }

  /** The live DV position index of one snapshot for index-planned
    * reads ([[LakeFileIndex.relation]] and [[GraftLakeDvRule]] build
    * the resolved filter plan from it); None when vector-free. */
  private[sources] def dvSetFor(spark: SparkSession, root: String,
      version: Long): Option[DvSet] =
    dvEntries(DirMeta.dvs(dirMeta(fsFor(spark, root), new Path(root), version)))

  /** Raw-path read of `dirs` from snapshot `version` with that
    * snapshot's deletion vectors applied — EVERY maintenance / COW /
    * diff read goes through here, so a soft-deleted row can never
    * resurrect through a rewrite. */
  private[sources] def readDirsWithDv(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, r: Path, version: Long,
      dirs: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType]):
      org.apache.spark.sql.DataFrame = {
    val paths = dirs.map(d => new Path(r, d).toString)
    // files store PHYSICAL names; the returned view serves LOGICAL
    // ones (the DV filter runs below the rename — it reads only
    // `_metadata`, and metadata columns propagate through the alias)
    val map = tableMeta(fs, r, version).colMap
    val base = schema match {
      case Some(s) => spark.read.schema(physSchema(s, map)).parquet(paths: _*)
      case None    => spark.read.parquet(paths: _*)
    }
    val want = dirs.toSet
    val meta = dirMeta(fs, r, version)
    val dvs = dirs.flatMap(d => meta.get(d).flatMap(_.dv).map(d -> _)).toMap
    // dir-subset reads key the broadcast cache by subset too — a full
    // snapshot read at the same version keeps its own entry
    val subKey = r.toString + "#" + want.toSeq.sorted.mkString(",").hashCode
    val withDv = dvColumn(spark, dvs, Some((subKey, version)))
      .map(base.where).getOrElse(base)
    schema match {
      case Some(s) if map.nonEmpty => renameToLogical(withDv, s, map)
      case _ => withDv
    }
  }
}
