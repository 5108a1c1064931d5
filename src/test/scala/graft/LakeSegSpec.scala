package graft

import graft.sources.Lake
import org.apache.spark.sql.functions._

/** Tiered manifests (`#require=seg`): per-dir stats/bloom/part/DV
  * metadata segments into immutable `_seg_` side files referenced by
  * the marker body, so a commit writes O(batch) bytes at ANY table
  * size — the Iceberg manifest-list shape inside the existing
  * put-if-absent protocol. Mutation stays O(batch) through inline
  * `#segdrop=` tombstones and per-dir override lines; drift folds away
  * via the waste threshold and the segment-merge policy. Readers see
  * one logical body ([[Lake.manifestBody]] expands references), so
  * every existing surface — reads, skipping, DV, CDF, time travel,
  * restore — must behave identically tiered and untiered. */
class LakeSegSpec extends SparkSpec {
  import spark.implicits._

  private def tmpTable(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).resolve("t").toString

  private def rawBody(root: String, v: Long): Seq[String] =
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, s"_commit_$v")), "UTF-8")
      .split("\n").map(_.trim).filter(_.nonEmpty).toSeq

  private def liveRaw(root: String): Seq[String] =
    rawBody(root, Lake.currentVersion(spark, root).get)

  private def segRefsOf(root: String): Seq[String] =
    liveRaw(root).filter(_.startsWith("#seg=")).map { l =>
      val b = l.stripPrefix("#seg="); b.take(b.lastIndexOf(':')) }

  private def segFiles(root: String): Seq[String] =
    new java.io.File(root).listFiles().toSeq.map(_.getName)
      .filter(_.startsWith("_seg_")).sorted

  private def requiresOf(root: String): Set[String] =
    liveRaw(root).find(_.startsWith("#require="))
      .map(_.stripPrefix("#require=").split(",").map(_.trim)
        .filter(_.nonEmpty).toSet).getOrElse(Set.empty)

  private def df(ks: Seq[Long]) = ks.map(k => (k, s"t$k")).toDF("k", "t")

  /** A table tiered from the start: tiny threshold, stats on k. */
  private def seedTiered(root: String, appends: Int,
      maxSegs: Int = 64, retain: Int = 64): Unit = {
    Lake.commitOverwrite(df(Seq(0L)), root, retain = retain,
      rowCount = Some(1L), statsCols = Seq("k"))
    Lake.setTableProperties(spark, root, Map(
      "graft.seg.threshold" -> "4",
      "graft.seg.max" -> maxSegs.toString))
    (1 to appends).foreach(i => Lake.commitAppend(df(Seq(i.toLong)), root,
      retain = retain, rowCount = Some(1L)))
  }

  test("past the threshold a commit spills to segments, stamps #require=seg, and reads identically") {
    val root = tmpTable("graft-seg-basic")
    seedTiered(root, appends = 8)
    assert(segRefsOf(root).nonEmpty, "commits past the threshold must tier")
    assert(requiresOf(root)("seg"))
    // the tiered body carries NO inline dir names — dirs live in segments
    assert(!liveRaw(root).exists(l => !l.startsWith("#")))
    // reads, stats skipping and metadata counts are unchanged
    assert(rows(Lake.readCommitted(spark, root)) ===
      (0L to 8L).map(k => Seq(k, s"t$k")).toSet)
    assert(Lake.countCommitted(spark, root) === Some(9L))
    val (_, skipped) = Lake.pruneDirs(spark, root, col("k") === 7L)
    assert(skipped.size >= 7,
      s"per-dir stats must keep pruning from segments (skipped ${skipped.size})")
    // time travel across the tier boundary still serves old versions
    // (v0 = overwrite, v1 = properties commit, v2.. = appends)
    assert(rows(Lake.readCommittedAt(spark, root, 3L)) ===
      (0L to 2L).map(k => Seq(k, s"t$k")).toSet)
  }

  test("a tiered append writes O(batch) manifest bytes: body size is flat while the table grows") {
    val root = tmpTable("graft-seg-obatch")
    seedTiered(root, appends = 6)
    val after6 = liveRaw(root).size
    (7 to 30).foreach(i => Lake.commitAppend(df(Seq(i.toLong)), root,
      retain = 2))
    val after30 = liveRaw(root).size
    // 24 more dirs (each with a stats line) — an untiered body would
    // grow by ~48 lines; the tiered body must stay flat apart from the
    // bounded segment-ref list
    assert(after30 <= after6 + 8,
      s"tiered body grew $after6 -> $after30 lines over 24 appends")
    assert(rows(Lake.readCommitted(spark, root)).size === 31)
    // and every dir is still exactly once in exactly one segment
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    val dirs = Lake.snapshotDirNames(spark, root,
      Lake.currentVersion(spark, root).get)
    assert(dirs.distinct.size === dirs.size)
    assert(dirs.size === 31)
  }

  test("the merge policy caps the segment list; folded segments keep their dirs readable") {
    val root = tmpTable("graft-seg-merge")
    seedTiered(root, appends = 24, maxSegs = 3)
    assert(segRefsOf(root).size <= 3,
      s"segment refs ${segRefsOf(root).size} exceed graft.seg.max=3")
    assert(rows(Lake.readCommitted(spark, root)) ===
      (0L to 24L).map(k => Seq(k, s"t$k")).toSet)
    val (_, skipped) = Lake.pruneDirs(spark, root, col("k") === 3L)
    assert(skipped.size >= 20, "stats must survive segment merges")
  }

  test("DV deletes and dir-removing rewrites stay O(batch): overrides and #segdrop, not segment rewrites") {
    val root = tmpTable("graft-seg-dml")
    // 2-row dirs so a single-row delete takes the DV path, never the
    // whole-dir drop
    Lake.commitOverwrite(df(Seq(0L, 1L)), root, retain = 64,
      rowCount = Some(2L), statsCols = Seq("k"))
    Lake.setTableProperties(spark, root, Map(
      "graft.seg.threshold" -> "4",
      "graft.dvMaxRows" -> "1000"))
    (1 to 12).foreach(i => Lake.commitAppend(
      df(Seq(2L * i, 2L * i + 1)), root, retain = 64,
      rowCount = Some(2L)))
    val segsBefore = segRefsOf(root).toSet
    // soft-delete one row -> a DV on one dir -> ONE override, carried segs
    Lake.deleteWhere(spark, root, col("k") === 5L, retain = 64)
    val raw = liveRaw(root)
    assert(raw.exists(_.startsWith("#dv_")), "the DV must ride inline as an override")
    assert(segRefsOf(root).toSet.subsetOf(segsBefore),
      "a DV delete must carry every segment by reference")
    assert(rows(Lake.readCommitted(spark, root)).map(_.head) ===
      ((0L to 25L).toSet - 5L))
    // a COW update removes one dir and stages a new one -> #segdrop
    Lake.updateWhere(spark, root, col("k") === 7L,
      Map("t" -> lit("updated")), retain = 64, dvMaxRows = 0L)
    assert(liveRaw(root).exists(_.startsWith("#segdrop=")),
      "the rewritten dir must leave its segment via a tombstone")
    assert(rows(Lake.readCommitted(spark, root))
      .contains(Seq(7L, "updated")))
    assert(!rows(Lake.readCommitted(spark, root)).exists(_ === Seq(5L, "t5")))
  }

  test("retention prunes segments by reference; vacuum reclaims crash-abandoned ones") {
    val root = tmpTable("graft-seg-vacuum")
    seedTiered(root, appends = 10, retain = 1)
    // an overwrite drops every carried segment from the live snapshot;
    // once retention rolls the old versions off, their segments sweep
    val orphans = segFiles(root)
    assert(orphans.nonEmpty)
    Lake.commitOverwrite(df(Seq(100L)), root, retain = 0)
    Lake.setTableProperties(spark, root, Map(
      "graft.seg.threshold" -> "100000"), retain = 0)
    Lake.commitAppend(df(Seq(101L)), root, retain = 0)
    Lake.commitAppend(df(Seq(102L)), root, retain = 0)
    assert(segFiles(root).isEmpty,
      s"retention must sweep unreferenced segments, left: ${segFiles(root)}")
    assert(rows(Lake.readCommitted(spark, root)).map(_.head) ===
      Set(100L, 101L, 102L))
    // crash-abandoned segment (never referenced): vacuum's horizon
    val fake = java.nio.file.Paths.get(root, "_seg_deadbeef0000")
    java.nio.file.Files.write(fake, "zzz".getBytes)
    java.nio.file.Files.setLastModifiedTime(fake,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 10_000_000L))
    val (_, swept) = Lake.vacuumCommitted(spark, root, retain = 0,
      staleStagedMs = 1_000_000L)
    assert(swept.contains("_seg_deadbeef0000"))
    assert(!java.nio.file.Files.exists(fake))
  }

  test("restore, clone and the change feed read tiered snapshots exactly") {
    val root = tmpTable("graft-seg-restore")
    Lake.commitOverwrite(df(Seq(0L)), root, retain = 16,
      statsCols = Seq("k"))
    Lake.setTableProperties(spark, root, Map("graft.seg.threshold" -> "4"))
    (1 to 10).foreach(i => Lake.commitAppend(df(Seq(i.toLong)), root,
      retain = 16))
    val vMid = Lake.currentVersion(spark, root).get // 11 rows
    Lake.deleteWhere(spark, root, col("k") < 3L, retain = 16)
    Lake.commitAppend(df(Seq(50L)), root, retain = 16)
    // CDF across tiered versions
    val vNow = Lake.currentVersion(spark, root).get
    val changes = Lake.changesBetween(spark, root, vMid, vNow,
      keyCols = Seq("k"))
    assert(changes.where(col("change_type") === "delete").count() === 3L)
    assert(changes.where(col("change_type") === "insert").count() === 1L)
    // restore to the mid snapshot: full row set returns
    Lake.restoreCommitted(spark, root, vMid, retain = 16)
    assert(rows(Lake.readCommitted(spark, root)).map(_.head) ===
      (0L to 10L).toSet)
    // shallow clone of a tiered snapshot
    val dst = tmpTable("graft-seg-clone")
    Lake.cloneCommitted(spark, root, dst)
    assert(rows(Lake.readCommitted(spark, dst)).map(_.head) ===
      (0L to 10L).toSet)
    val (_, skipped) = Lake.pruneDirs(spark, dst, col("k") === 9L)
    assert(skipped.nonEmpty, "clone must keep skipping from carried stats")
  }

  test("an untiered small table keeps today's byte layout (no seg feature, inline lines)") {
    val root = tmpTable("graft-seg-untouched")
    Lake.commitOverwrite(df(Seq(1L, 2L)), root, retain = 4,
      statsCols = Seq("k"))
    Lake.commitAppend(df(Seq(3L)), root, retain = 4)
    val raw = liveRaw(root)
    assert(!raw.exists(_.startsWith("#seg")), "small tables must not tier")
    assert(!requiresOf(root)("seg"))
    assert(raw.exists(_.startsWith("#stats_")))
    assert(raw.exists(l => !l.startsWith("#")))
  }

  test("OCC on a tiered table: an interleaved append forces a clean rebase, losers leak no segments") {
    val root = tmpTable("graft-seg-occ")
    seedTiered(root, appends = 8)
    val segsBefore = segFiles(root).size
    try {
      Lake.beforePublish = () => {
        Lake.beforePublish = () => ()
        Lake.commitAppend(df(Seq(500L)), root, retain = 64,
          rowCount = Some(1L))
        ()
      }
      Lake.commitAppend(df(Seq(600L)), root, retain = 64,
        rowCount = Some(1L))
    } finally Lake.beforePublish = () => ()
    // both rows landed, exactly once each
    val got = rows(Lake.readCommitted(spark, root)).map(_.head)
    assert(got === ((0L to 8L).toSet + 500L + 600L))
    // the loser's first-attempt segment was deleted on publish failure:
    // live segment files = exactly the refs of RETAINED manifests
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    val r = new org.apache.hadoop.fs.Path(root)
    val referenced = new java.io.File(root).listFiles().toSeq
      .map(_.getName)
      .filter(n => n.startsWith("_commit_") && !n.endsWith(".tmp"))
      .flatMap(n => n.stripPrefix("_commit_").toLongOption)
      .flatMap(v => Lake.manifestSegRefs(fs, r, v).map(_._1)).toSet
    assert(segFiles(root).toSet === referenced,
      s"on-disk segments must equal the retained refs " +
        s"(disk=${segFiles(root)}, refs=$referenced, before=$segsBefore)")
    // DESCRIBE DETAIL surfaces the tiered layout
    assert(Lake.describeDetail(spark, root).collect().head
      .getAs[Int]("num_segments") > 0)
  }

  test("the streaming source reads a TIERED table exactly (admission + micro-batches through segment expansion)") {
    val root = tmpTable("graft-seg-stream")
    seedTiered(root, appends = 6)
    val out = java.nio.file.Files.createTempDirectory("seg-stream-out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("seg-stream-ck").toString
    val q = spark.readStream.format("graft-lake")
      .option("root", root)
      .option("maxVersionsPerTrigger", "3")
      .load()
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    val got = spark.read.parquet(out).select("k").collect()
      .map(_.getLong(0)).toSet
    assert(got === (0L to 6L).toSet,
      "the stream must deliver every row of the tiered snapshot chain")
  }


  /** Range-sliced tiered table: `slices` dirs of `width` consecutive
    * keys each, stats on k — segment summaries get real ranges. */
  private def seedRanged(root: String, slices: Int, width: Int): Unit = {
    def slice(i: Int) =
      df(((i * width).toLong until ((i + 1) * width).toLong))
    Lake.commitOverwrite(slice(0), root, retain = 64, statsCols = Seq("k"))
    Lake.setTableProperties(spark, root, Map("graft.seg.threshold" -> "4"))
    (1 until slices).foreach(i =>
      Lake.commitAppend(slice(i), root, retain = 64))
  }

  test("#segsum_ summaries: a selective scan skips READING excluded segments; partial ≡ full on a predicate battery") {
    val root = tmpTable("graft-segsum")
    seedRanged(root, slices = 24, width = 10) // keys 0..239, 24 dirs
    val raw = liveRaw(root)
    val refs = segRefsOf(root).toSet
    val sums = raw.filter(_.startsWith("#segsum_"))
      .map(l => l.stripPrefix("#segsum_").takeWhile(_ != '=')).toSet
    assert(sums === refs,
      s"every segment ref must carry a summary (refs=$refs sums=$sums)")
    // the battery: point/range/IN/OR/NOT/monotone predicates — for
    // each, the PARTIAL scan path (resolveWhere) must keep exactly the
    // dirs the FULL expansion (pruneDirs) keeps, and the kept + named
    // + unread-skipped accounting must cover the whole snapshot
    val total = Lake.snapshotDirNames(spark, root,
      Lake.currentVersion(spark, root).get).size
    val preds = Seq(
      col("k") === 7L, col("k") === 115L, col("k") === 239L,
      col("k") < 30L, col("k") >= 200L, col("k").between(95L, 125L),
      col("k").isin(3L, 97L, 203L),
      col("k") < 20L || col("k") >= 220L,
      !(col("k") < 230L), col("k") =!= 5L,
      col("k").isNull, col("k").isNotNull,
      col("t") === "t42" /* no stats on t: keeps everything */)
    // plus a seeded-random sweep over the predicate space: points,
    // ranges, IN sets, OR/AND/NOT composites — the agreement property,
    // not just hand-picked shapes
    val rnd = new scala.util.Random(42)
    def rk() = rnd.nextInt(260).toLong - 10L // incl. out-of-range keys
    val randomPreds = (1 to 40).map { _ =>
      rnd.nextInt(6) match {
        case 0 => col("k") === rk()
        case 1 => val a = rk(); col("k").between(a, a + rnd.nextInt(80))
        case 2 => col("k").isin(Seq.fill(1 + rnd.nextInt(4))(rk()): _*)
        case 3 => col("k") < rk() || col("k") > rk()
        case 4 => !(col("k") <= rk())
        case 5 => col("k") >= rk() && col("k") =!= rk()
      }
    }
    Lake.SegPlanLedger.reset()
    (preds ++ randomPreds).foreach { p =>
      val fullKept = Lake.pruneDirs(spark, root, p)._1.toSet
      val (paths, named, _) = Lake.resolveWhere(spark, root, p)
      val partialKept = paths.map(_.split('/').last).toSet
      assert(partialKept === fullKept,
        s"partial ≠ full for $p: partial=$partialKept full=$fullKept")
      assert(partialKept.size + named.size <= total)
      // rows: the pruned read answers exactly like filter-after-scan
      assert(rows(Lake.readCommittedWhere(spark, root, p)) ===
        rows(Lake.readCommitted(spark, root).where(p)))
    }
    assert(Lake.SegPlanLedger.segsSkipped.get() > 0,
      "the battery must actually skip reading at least one segment")
    assert(Lake.SegPlanLedger.dirsSkippedUnread.get() > 0)
    // point lookup: everything outside the matching segment is either
    // named-skipped (read segments) or unread-skipped (summary-excluded)
    Lake.SegPlanLedger.reset()
    val (paths, named, _) = Lake.resolveWhere(spark, root, col("k") === 115L)
    val unread = Lake.SegPlanLedger.dirsSkippedUnread.get()
    assert(paths.size + named.size + unread === total,
      s"accounting must cover the snapshot: ${paths.size}+${named.size}+$unread != $total")
  }

  test("#segsum_ survives DV overrides and restore; a summary-excluded scan stays exact after soft deletes") {
    val root = tmpTable("graft-segsum-dv")
    Lake.commitOverwrite(df(0L until 10L), root, retain = 64,
      statsCols = Seq("k"))
    Lake.setTableProperties(spark, root, Map(
      "graft.seg.threshold" -> "4", "graft.dvMaxRows" -> "1000"))
    (1 until 16).foreach(i =>
      Lake.commitAppend(df((i * 10L) until ((i + 1) * 10L)), root,
        retain = 64))
    val vPre = Lake.currentVersion(spark, root).get
    // DV soft delete inside one segment-listed dir: the override is
    // DV-only, so every carried summary stays (vectors move no ranges)
    Lake.deleteWhere(spark, root, col("k") === 55L, retain = 64)
    val raw = liveRaw(root)
    assert(raw.exists(_.startsWith("#dv_")))
    val refs = segRefsOf(root).toSet
    val sums = raw.filter(_.startsWith("#segsum_"))
      .map(l => l.stripPrefix("#segsum_").takeWhile(_ != '=')).toSet
    assert(sums === refs,
      "DV-only overrides must keep carried summaries " +
        s"(refs=$refs sums=$sums)")
    // a selective read whose range covers the soft-deleted key still
    // applies the vector (the partial path's restricted DV map)
    assert(rows(Lake.readCommittedWhere(spark, root,
        col("k").between(50L, 59L))).map(_.head) ===
      ((50L to 59L).toSet - 55L))
    // and one that EXCLUDES that segment answers exactly
    Lake.SegPlanLedger.reset()
    assert(rows(Lake.readCommittedWhere(spark, root, col("k") >= 150L))
      .map(_.head) === (150L until 160L).toSet)
    // restore across the DV (vectors restore to the target's): summaries still carried
    Lake.restoreCommitted(spark, root, vPre, retain = 64)
    val rawR = liveRaw(root)
    val refsR = segRefsOf(root).toSet
    val sumsR = rawR.filter(_.startsWith("#segsum_"))
      .map(l => l.stripPrefix("#segsum_").takeWhile(_ != '=')).toSet
    assert(sumsR === refsR, "restore must carry summaries with segments")
    assert(rows(Lake.readCommitted(spark, root)).map(_.head) ===
      (0L until 160L).toSet)
  }

  test("seeded derived views agree with a cold re-parse after every commit shape") {
    val root = tmpTable("graft-seg-seed")
    def check(label: String): Unit = {
      val v = Lake.currentVersion(spark, root).get
      val warm = Lake.derivedViewsForTest(spark, root, v)
      Lake.clearMetaCaches()
      val cold = Lake.derivedViewsForTest(spark, root, v)
      assert(warm === cold, s"seeded views diverge from cold parse after $label")
    }
    Lake.commitOverwrite(df(Seq(0L, 1L)), root, retain = 64,
      statsCols = Seq("k")); check("overwrite")
    Lake.setTableProperties(spark, root, Map(
      "graft.seg.threshold" -> "4", "graft.dvMaxRows" -> "1000"))
    check("properties")
    (1 to 8).foreach { i =>
      Lake.commitAppend(df(Seq(2L * i, 2L * i + 1)), root, retain = 64)
      check(s"append $i")
    }
    Lake.deleteWhere(spark, root, col("k") === 5L, retain = 64)
    check("dv delete")
    Lake.updateWhere(spark, root, col("k") === 7L,
      Map("t" -> lit("u")), retain = 64, dvMaxRows = 0L)
    check("cow update")
    Lake.compactCommitted(spark, root, retain = 64)
    check("compact")
    val vMid = Lake.currentVersion(spark, root).get
    Lake.commitAppend(df(Seq(100L)), root, retain = 64)
    check("append after compact")
    Lake.restoreCommitted(spark, root, vMid, retain = 64)
    check("restore")
    // untiered table too (the inline branch of the same seeding)
    val flat = tmpTable("graft-flat-seed")
    Lake.commitOverwrite(df(Seq(1L)), flat, retain = 4,
      statsCols = Seq("k"))
    Lake.commitAppend(df(Seq(2L)), flat, retain = 4)
    val vf = Lake.currentVersion(spark, flat).get
    val warmF = Lake.derivedViewsForTest(spark, flat, vf)
    Lake.clearMetaCaches()
    assert(warmF === Lake.derivedViewsForTest(spark, flat, vf))
  }

  test("restore reviving a dir its segment recorded a vector for serves the target's rows") {
    // no stat columns: the target snapshot holds no per-dir line for the
    // revived dir, so only the segment's (stale) vector could describe it
    val root = tmpTable("graft-seg-revive")
    Lake.commitOverwrite(df(Seq(0L)), root, retain = 64)
    Lake.setTableProperties(spark, root, Map("graft.seg.threshold" -> "4",
      "graft.dvMaxRows" -> "1000", "graft.seg.waste" -> "0.1"))
    (1 to 6).foreach(i =>
      Lake.commitAppend(df(Seq(2L * i, 2L * i + 1)), root, retain = 64))
    val vPre = Lake.currentVersion(spark, root).get
    Lake.deleteWhere(spark, root, col("k") === 5L, retain = 64)
    val d = Lake.derivedViewsForTest(spark, root,
      Lake.currentVersion(spark, root).get)._2
      .collectFirst { case (dir, m) if m.dv.isDefined => dir }.get
    // the vector lands in a segment (the override folded it), then the
    // dir leaves the snapshot while that segment carries on
    Lake.setTableProperties(spark, root, Map("graft.seg.waste" -> "0.9"),
      retain = 64)
    Lake.reorgCommitted(spark, root, retain = 64)
    assert(liveRaw(root).contains("#segdrop=" + d),
      "the purged dir must be dropped from a carried segment")
    Lake.restoreCommitted(spark, root, vPre, retain = 64)
    assert(rows(Lake.readCommitted(spark, root)).map(_.head) ===
      (0L to 13L).toSet - 1L)
    Lake.clearMetaCaches()
    assert(rows(Lake.readCommitted(spark, root)).map(_.head) ===
      (0L to 13L).toSet - 1L)
  }

  test("tiered-manifest property knobs validate at SET time") {
    val root = tmpTable("graft-seg-props")
    Lake.commitOverwrite(df(Seq(0L)), root, retain = 4)
    Seq("graft.seg.threshold" -> "0", "graft.seg.threshold" -> "abc",
      "graft.seg.max" -> "1", "graft.seg.waste" -> "0",
      "graft.seg.waste" -> "1.5").foreach { case (k, v) =>
      val e = intercept[IllegalArgumentException] {
        Lake.setTableProperties(spark, root, Map(k -> v))
      }
      assert(e.getMessage.contains(k), s"$k=$v must refuse naming the key")
    }
    Lake.setTableProperties(spark, root, Map(
      "graft.seg.threshold" -> "4", "graft.seg.max" -> "8",
      "graft.seg.waste" -> "0.5"))
    (1 to 6).foreach(i => Lake.commitAppend(df(Seq(i.toLong)), root,
      retain = 4))
    assert(segRefsOf(root).nonEmpty)
    assert(rows(Lake.readCommitted(spark, root)).size === 7)
  }

}
