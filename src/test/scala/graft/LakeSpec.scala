package graft

import graft.sources.Lake
import org.apache.spark.sql.functions._

/** Small-files compaction: layout-only rewrite through the crash-safe
  * staged swap, row multiset untouched, file count actually drops. */
class LakeSpec extends SparkSpec {
  import spark.implicits._

  private def tmpTable(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).resolve("t").toString

  /** The data dir each of versions 0..n added to an append-built
    * table — OCC appends stage writer-unique dir names, so tests
    * resolve them by consecutive snapshot diff instead of assuming
    * `v<version>`. */
  private def batchDirs(root: String, n: Int): IndexedSeq[String] =
    (0 to n).scanLeft(Set.empty[String]) { (_, b) =>
      Lake.snapshotDirNames(spark, root, b.toLong).toSet
    }.sliding(2).collect { case Seq(a, b) => (b -- a).head }.toIndexedSeq

  test("manifest commit: versions sequence, readers resolve the live one, retention prunes") {
    val root = tmpTable("graft-lake-commit")
    assert(Lake.currentVersion(spark, root).isEmpty)
    intercept[java.util.NoSuchElementException] { Lake.resolve(spark, root) }
    assert(Lake.commitOverwrite(Seq((1L, "a")).toDF("k", "t"), root) === 0L)
    assert(Lake.commitOverwrite(Seq((2L, "b")).toDF("k", "t"), root) === 1L)
    assert(Lake.commitOverwrite(Seq((3L, "c")).toDF("k", "t"), root) === 2L)
    assert(Lake.currentVersion(spark, root) === Some(2L))
    assert(rows(Lake.readCommitted(spark, root)) === Set(Seq(3L, "c")))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    // default retain=1: version 1's data dir survives for in-flight
    // readers, version 0's is pruned (dir names are writer-unique
    // staged nonces; resolve them through the retained manifests)
    val d1 = Lake.snapshotDirNames(spark, root, 1L)
    val d2 = Lake.snapshotDirNames(spark, root, 2L)
    assert(d1.nonEmpty && d2.nonEmpty && d1 != d2)
    (d1 ++ d2).foreach(d =>
      assert(fs.exists(new org.apache.hadoop.fs.Path(root, d))))
    // only the two retained snapshots' dirs (and markers) remain
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .filter(_.isDirectory).map(_.getPath.getName).toSet === (d1 ++ d2).toSet)
  }

  test("manifest commit crash sweep: every crash point leaves a readable current table") {
    import org.apache.hadoop.fs.Path
    val root = tmpTable("graft-lake-crash")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    val v0 = Set(Seq(1L, "a"), Seq(2L, "b"))
    Lake.commitOverwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "t"), root)

    // crash point 1: writer died mid-write of v1 — half a dir, no
    // marker. Readers must stay on v0; the next commit self-repairs.
    fs.mkdirs(new Path(root, "v1"))
    fs.create(new Path(root, "v1/part-00000.parquet.tmp")).close()
    assert(rows(Lake.readCommitted(spark, root)) === v0)

    // crash point 2: v1 data complete, crash BEFORE the marker —
    // still invisible to readers
    Seq((9L, "z")).toDF("k", "t").write.mode("overwrite")
      .parquet(new Path(root, "v1").toString)
    assert(Lake.currentVersion(spark, root) === Some(0L))
    assert(rows(Lake.readCommitted(spark, root)) === v0)

    // the recovering writer re-commits version 1 (overwriting the
    // orphan) and readers flip atomically
    assert(Lake.commitOverwrite(Seq((3L, "c")).toDF("k", "t"), root) === 1L)
    assert(rows(Lake.readCommitted(spark, root)) === Set(Seq(3L, "c")))

    // crash point 3: marker created, crash before prune — both
    // versions committed, readers take the max
    Seq((4L, "d")).toDF("k", "t").write.mode("overwrite")
      .parquet(new Path(root, "v2").toString)
    fs.create(new Path(root, "_commit_2")).close()
    assert(rows(Lake.readCommitted(spark, root)) === Set(Seq(4L, "d")))

    // crash point 4: prune died between marker delete and data
    // delete — an unmarked data dir is ignored, not resurrected
    fs.delete(new Path(root, "_commit_1"), false)
    assert(Lake.currentVersion(spark, root) === Some(2L))
    assert(rows(Lake.readCommitted(spark, root)) === Set(Seq(4L, "d")))

    // defensive: a marker whose data dir was lost entirely degrades
    // to the previous committed version instead of throwing
    fs.create(new Path(root, "_commit_9")).close()
    assert(Lake.currentVersion(spark, root) === Some(2L))
    fs.delete(new Path(root, "_commit_9"), false)

    // and the table keeps working after the whole sweep
    assert(Lake.commitOverwrite(Seq((5L, "e")).toDF("k", "t"), root) === 3L)
    assert(rows(Lake.readCommitted(spark, root)) === Set(Seq(5L, "e")))
  }

  test("maintainCommitted: the K3 dedup repair through the manifest, no reader gap") {
    val root = tmpTable("graft-lake-k3")
    // natural-key duplicates with distinct ids — the Main.py:28-47
    // repair keeps the lowest id per key
    val dirty = Seq(
      (1L, 10L, 100L, "t1"),
      (2L, 10L, 100L, "t1"),
      (3L, 11L, 101L, "t2")
    ).toDF("id", "id_source", "id_date", "title")
    Lake.commitOverwrite(dirty, root)
    val v = graft.newsmaper.Newsmaper.maintainCommitted(spark, root)
    assert(v === 1L)
    assert(Lake.readCommitted(spark, root).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq === Seq(1L, 3L))
    // idempotent: a second repair commits an identical table
    graft.newsmaper.Newsmaper.maintainCommitted(spark, root)
    assert(Lake.readCommitted(spark, root).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq === Seq(1L, 3L))
  }

  test("commitAppend: snapshots accumulate O(batch) dirs; prune never touches referenced data") {
    import org.apache.hadoop.fs.Path
    val root = tmpTable("graft-lake-append")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    assert(Lake.commitAppend(Seq((1L, "a")).toDF("k", "t"), root) === 0L) // bootstrap
    assert(Lake.commitAppend(Seq((2L, "b")).toDF("k", "t"), root, retain = 0) === 1L)
    assert(Lake.commitAppend(Seq((3L, "c")).toDF("k", "t"), root, retain = 0) === 2L)
    // the base was never rewritten: every batch's dir is alive because
    // the RETAINED snapshot references it, even though the old
    // manifests themselves are pruned (retain = 0)
    assert(rows(Lake.readCommitted(spark, root)) ===
      Set(Seq(1L, "a"), Seq(2L, "b"), Seq(3L, "c")))
    assert(Lake.resolve(spark, root).length === 3)
    assert(!fs.exists(new Path(root, "_commit_0")))
    val batchDirs = Lake.snapshotDirNames(spark, root, 2L)
    assert(batchDirs.length === 3)
    batchDirs.foreach(d => assert(fs.exists(new Path(root, d))))
    // an overwrite collapses the snapshot; with retain = 0 the now-
    // unreferenced batch dirs are vacuumed
    assert(Lake.commitOverwrite(Seq((9L, "z")).toDF("k", "t"), root, retain = 0) === 3L)
    assert(rows(Lake.readCommitted(spark, root)) === Set(Seq(9L, "z")))
    batchDirs.foreach(d =>
      assert(!fs.exists(new Path(root, d)), s"$d should be vacuumed"))
  }

  test("commitAppend crash point: a half-written .tmp manifest is invisible and recoverable") {
    import org.apache.hadoop.fs.Path
    val root = tmpTable("graft-lake-tmp")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    Lake.commitAppend(Seq((1L, "a")).toDF("k", "t"), root)
    // writer died after writing v1 and a partial manifest tmp — the
    // rename (the commit point) never happened
    Seq((2L, "b")).toDF("k", "t").write.parquet(new Path(root, "v1").toString)
    val out = fs.create(new Path(root, "_commit_1.tmp"), true)
    out.write("v0\nv".getBytes("UTF-8")); out.close()
    assert(Lake.currentVersion(spark, root) === Some(0L))
    assert(rows(Lake.readCommitted(spark, root)) === Set(Seq(1L, "a")))
    // recovery: the next append re-commits version 1 over the orphans
    assert(Lake.commitAppend(Seq((3L, "c")).toDF("k", "t"), root) === 1L)
    assert(rows(Lake.readCommitted(spark, root)) === Set(Seq(1L, "a"), Seq(3L, "c")))
  }

  test("loadToCommitted: insert-if-absent through snapshot appends, idempotent") {
    val root = tmpTable("graft-lake-load")
    val b1 = Seq(
      (1L, 10L, 100L, "t1"),
      (2L, 10L, 100L, "t1"), // intra-batch dup on the natural key
      (3L, 11L, 101L, "t2")
    ).toDF("id", "id_source", "id_date", "title")
    assert(graft.newsmaper.Newsmaper.loadToCommitted(b1, root) === 2L)
    // replay appends nothing and commits no new snapshot
    val vBefore = Lake.currentVersion(spark, root)
    assert(graft.newsmaper.Newsmaper.loadToCommitted(b1, root) === 0L)
    assert(Lake.currentVersion(spark, root) === vBefore)
    // a mixed batch appends only its genuinely new keys
    val b2 = Seq(
      (4L, 10L, 100L, "t1"), // key already loaded
      (5L, 12L, 102L, "t3")
    ).toDF("id", "id_source", "id_date", "title")
    assert(graft.newsmaper.Newsmaper.loadToCommitted(b2, root) === 1L)
    assert(Lake.readCommitted(spark, root).count() === 3L)
  }

  test("loadToCommitted: fresh rows commit in one narrowed, non-adaptive execution") {
    val root = tmpTable("graft-lake-load-one")
    val b1 = Seq((1L, 10L, 100L, "t1"), (2L, 11L, 101L, "t2"))
      .toDF("id", "id_source", "id_date", "title")
    assert(graft.newsmaper.Newsmaper.loadToCommitted(b1, root) === 2L)
    val b2 = Seq(
      (3L, 11L, 101L, "t2"), // key already loaded
      (4L, 12L, 102L, "t3"),
      (5L, 12L, 102L, "t3") // intra-batch dup on the natural key
    ).toDF("id", "id_source", "id_date", "title")
    var appended = -1L
    val (plans, failed) =
      capture { appended = graft.newsmaper.Newsmaper.loadToCommitted(b2, root) }
    assert(appended === 1L)
    assert(failed === 0)
    assert(plans.size === 1, plans.mkString("\n"))
    assert(!plans.exists(adaptive), plans.head)
    assert(plans.flatMap(shuffleWidths).forall(_ <= 1), plans.head)
    // the staged count is the manifest's row count
    assert(Lake.countCommitted(spark, root) === Some(3L))
    assert(Lake.readCommitted(spark, root).count() === 3L)
  }

  test("loadToCommitted: an all-duplicate batch commits nothing and leaves no staged dir") {
    val root = tmpTable("graft-lake-load-dup")
    val b = Seq((1L, 10L, 100L, "t1"), (2L, 11L, 101L, "t2"))
      .toDF("id", "id_source", "id_date", "title")
    assert(graft.newsmaper.Newsmaper.loadToCommitted(b, root) === 2L)
    val version = Lake.currentVersion(spark, root)
    val listing = dirListing(root)
    val replay = Seq((3L, 10L, 100L, "t1"), (4L, 10L, 100L, "t1"), (5L, 11L, 101L, "t2"))
      .toDF("id", "id_source", "id_date", "title")
    assert(graft.newsmaper.Newsmaper.loadToCommitted(replay, root) === 0L)
    assert(Lake.currentVersion(spark, root) === version)
    assert(dirListing(root) === listing)
    // a first batch with nothing fresh on a root that does not exist
    // yet leaves no root (nor the missing dirs above it) behind
    val parent = new java.io.File(tmpTable("graft-lake-load-none")).getParentFile
    val none = new java.io.File(parent, "t/nested/news").toString
    assert(graft.newsmaper.Newsmaper.loadToCommitted(b.limit(0), none) === 0L)
    assert(Lake.currentVersion(spark, none) === None)
    assert(dirListing(parent.toString).isEmpty)
  }

  test("appendAbsent: a CHECK-constrained table validates and stages the same rows") {
    val root = tmpTable("graft-lake-absent-check")
    Lake.commitAppend(Seq((1L, 5L)).toDF("k", "v"), root, rowCount = Some(1L))
    Lake.addCheckConstraint(spark, root, "v_pos", "v > 0")
    val version = Lake.currentVersion(spark, root)
    // key 2 twice: the intra-batch dedup keeps either row, and only
    // one of them violates the constraint
    val batch = Seq((2L, 7L), (2L, -1L)).toDF("k", "v")
    var outcome: scala.util.Try[Long] = null
    val (plans, failed) = capture {
      outcome = scala.util.Try(Lake.appendAbsent(batch, Seq("k"), root))
    }
    assert(failed === 0)
    outcome match {
      case scala.util.Success(n) =>
        assert(n === 1L)
        assert(rows(Lake.readCommitted(spark, root)) === Set(Seq(1L, 5L), Seq(2L, 7L)))
        assert(Lake.countCommitted(spark, root) === Some(2L))
      case scala.util.Failure(e) =>
        assert(e.isInstanceOf[IllegalArgumentException], e)
        assert(e.getMessage.contains("v_pos"), e.getMessage)
        assert(Lake.currentVersion(spark, root) === version)
    }
    // validation and the staging write read ONE evaluation of the
    // batch: no two executions each run the dedup and snapshot anti-join
    val joins = plans.count(p => planNodes(p).exists(
      _.isInstanceOf[org.apache.spark.sql.execution.joins.BaseJoinExec]))
    assert(joins <= 1, plans.mkString("\n"))
  }

  test("appendAbsent: the staged count is the fresh count on partitioned and bucketed tables") {
    val part = tmpTable("graft-lake-absent-part")
    Lake.commitAppend(Seq((1L, "a", 1), (2L, "b", 2)).toDF("k", "t", "p"), part,
      partitionBy = Seq("p"), rowCount = Some(2L))
    // fresh keys 3, 4, 5 over three partition tuples; 2 is loaded, 4 repeats
    val batch = Seq((2L, "b", 2), (3L, "c", 1), (4L, "d", 2), (4L, "d", 2), (5L, "e", 3))
      .toDF("k", "t", "p")
    assert(Lake.appendAbsent(batch, Seq("k"), part) === 3L)
    assert(Lake.readCommitted(spark, part).count() === 5L)
    assert(Lake.countCommitted(spark, part) === Some(5L))
    val bucketed = tmpTable("graft-lake-absent-bucket")
    Lake.commitAppend(Seq((1L, "a"), (2L, "b")).toDF("k", "t"), bucketed,
      bucketBy = Some((2, Seq("k"))), rowCount = Some(2L))
    val version = Lake.currentVersion(spark, bucketed)
    val listing = dirListing(bucketed)
    assert(Lake.appendAbsent(Seq((2L, "b")).toDF("k", "t"), Seq("k"), bucketed) === 0L)
    assert(Lake.currentVersion(spark, bucketed) === version)
    assert(dirListing(bucketed) === listing)
    assert(Lake.appendAbsent(Seq((2L, "b"), (3L, "c")).toDF("k", "t"), Seq("k"),
      bucketed) === 1L)
    assert(Lake.countCommitted(spark, bucketed) ===
      Some(Lake.readCommitted(spark, bucketed).count()))
  }

  test("loadToCommitted and the path-form loadTo agree batch for batch") {
    val root = tmpTable("graft-lake-parity")
    val path = tmpTable("graft-lake-parity-path") + "/news.parquet"
    val batches = Seq(
      Seq((1L, 10L, 100L, "t1"), (2L, 10L, 100L, "t1"), (3L, 11L, 101L, "t2")),
      Seq((4L, 10L, 100L, "t1"), (5L, 12L, 102L, "t3")),
      Seq((6L, 12L, 102L, "t3"), (7L, 13L, 103L, "t4"), (8L, 13L, 103L, "t4")))
    for (b <- batches) {
      val df = b.toDF("id", "id_source", "id_date", "title")
      val nCommitted = graft.newsmaper.Newsmaper.loadToCommitted(df, root)
      val nPath = graft.newsmaper.Newsmaper.loadTo(df, path)
      assert(nCommitted === nPath)
      // same surviving natural keys after every batch (the kept row
      // per intra-batch duplicate is arbitrary on both paths, so
      // compare the deduped key sets, not row identities)
      assert(
        rows(Lake.readCommitted(spark, root).select("id_source", "id_date", "title")) ===
        rows(spark.read.parquet(path).select("id_source", "id_date", "title")))
    }
  }

  test("time travel: every retained snapshot reads back bit-exact; prune respects the horizon") {
    val root = tmpTable("graft-lake-tt")
    // three appends under retain=2 — all three snapshots stay readable
    assert(Lake.commitAppend(Seq((1L, "a")).toDF("k", "t"), root, retain = 2) === 0L)
    assert(Lake.commitAppend(Seq((2L, "b")).toDF("k", "t"), root, retain = 2) === 1L)
    assert(Lake.commitAppend(Seq((3L, "c")).toDF("k", "t"), root, retain = 2) === 2L)
    assert(Lake.readableVersions(spark, root) === Seq(0L, 1L, 2L))
    // each version = exactly what readCommitted returned while it was live
    assert(rows(Lake.readCommittedAt(spark, root, 0L)) === Set(Seq(1L, "a")))
    assert(rows(Lake.readCommittedAt(spark, root, 1L)) === Set(Seq(1L, "a"), Seq(2L, "b")))
    assert(rows(Lake.readCommittedAt(spark, root, 2L)) ===
      Set(Seq(1L, "a"), Seq(2L, "b"), Seq(3L, "c")))
    // the live read is the max version's
    assert(rows(Lake.readCommitted(spark, root)) ===
      rows(Lake.readCommittedAt(spark, root, 2L)))
    // a commit with retain=1 narrows the horizon: v0's manifest goes,
    // v0's DATA survives (v2/v3 still reference the dir), and a read
    // of the pruned version fails fast naming the readable horizon
    assert(Lake.commitAppend(Seq((4L, "d")).toDF("k", "t"), root, retain = 1) === 3L)
    assert(Lake.readableVersions(spark, root) === Seq(2L, 3L))
    val e = intercept[java.util.NoSuchElementException] {
      Lake.readCommittedAt(spark, root, 0L)
    }
    assert(e.getMessage.contains("retention horizon"))
    assert(rows(Lake.readCommittedAt(spark, root, 2L)) ===
      Set(Seq(1L, "a"), Seq(2L, "b"), Seq(3L, "c")))
    // an overwrite starts a fresh snapshot; the retained PREVIOUS
    // snapshot still time-travels (the in-flight-reader guarantee)
    assert(Lake.commitOverwrite(Seq((9L, "z")).toDF("k", "t"), root, retain = 1) === 4L)
    assert(rows(Lake.readCommittedAt(spark, root, 3L)) ===
      Set(Seq(1L, "a"), Seq(2L, "b"), Seq(3L, "c"), Seq(4L, "d")))
    assert(rows(Lake.readCommitted(spark, root)) === Set(Seq(9L, "z")))
  }

  test("schema evolution: appends add nullable columns; old versions read their own schema") {
    val root = tmpTable("graft-lake-evolve")
    assert(Lake.commitAppend(Seq((1L, "a")).toDF("k", "t"), root, retain = 3) === 0L)
    // append a batch with one ADDED column: readers of the live table
    // see the merged schema, pre-evolution rows read NULL for it
    assert(Lake.commitAppend(
      Seq((2L, "b", 7.5)).toDF("k", "t", "score"), root, retain = 3) === 1L)
    val live = Lake.readCommitted(spark, root)
    assert(live.columns.toSeq === Seq("k", "t", "score"))
    assert(rows(live) === Set(Seq(1L, "a", null), Seq(2L, "b", 7.5)))
    // time-travel interplay: the pre-evolution snapshot reads back
    // UNCHANGED — its own schema, no phantom column
    val v0 = Lake.readCommittedAt(spark, root, 0L)
    assert(v0.columns.toSeq === Seq("k", "t"))
    assert(rows(v0) === Set(Seq(1L, "a")))
    // a later batch OMITTING the evolved column still appends; its
    // rows read NULL for it (columns never silently vanish)
    assert(Lake.commitAppend(Seq((3L, "c")).toDF("k", "t"), root, retain = 3) === 2L)
    val after = Lake.readCommitted(spark, root)
    assert(after.columns.toSeq === Seq("k", "t", "score"))
    assert(rows(after) ===
      Set(Seq(1L, "a", null), Seq(2L, "b", 7.5), Seq(3L, "c", null)))
    // a TYPE change is refused loudly — silent coercion would corrupt
    // every snapshot sharing the files
    val e = intercept[IllegalArgumentException] {
      Lake.commitAppend(Seq((4L, "d", "not-a-double")).toDF("k", "t", "score"), root)
    }
    assert(e.getMessage.contains("changes type"))
    // the failed commit left an orphan dir at most — the table still
    // reads, and the next good commit self-repairs the version number
    assert(rows(Lake.readCommitted(spark, root)) ===
      Set(Seq(1L, "a", null), Seq(2L, "b", 7.5), Seq(3L, "c", null)))
    assert(Lake.commitAppend(Seq((5L, "e", 1.0)).toDF("k", "t", "score"), root) === 3L)
    assert(Lake.readCommitted(spark, root).count() === 4L)

    // LOSSLESS TYPE WIDENING is legal evolution (Delta's feature):
    // a long batch widens an int column, a double batch widens a
    // float one — old files read upcast under the widened schema
    val wroot = tmpTable("graft-lake-widen")
    Lake.commitAppend(Seq((1, 1.5f)).toDF("i", "f"), wroot, retain = 8)
    Lake.commitAppend(
      Seq((2L, 2.25)).toDF("i", "f"), wroot, retain = 8)
    val wide = Lake.readCommitted(spark, wroot)
    assert(wide.schema.map(f => f.dataType.simpleString).toSeq ===
      Seq("bigint", "double"))
    assert(rows(wide) === Set(Seq(1L, 1.5), Seq(2L, 2.25)))
    // the narrow direction lands unchanged in the wide column
    Lake.commitAppend(Seq((3, 3.5f)).toDF("i", "f"), wroot, retain = 8)
    assert(rows(Lake.readCommitted(spark, wroot)) ===
      Set(Seq(1L, 1.5), Seq(2L, 2.25), Seq(3L, 3.5)))
    // time travel: the pre-widening snapshot keeps its narrow schema
    assert(Lake.readCommittedAt(spark, wroot, 0L).schema
      .map(_.dataType.simpleString).toSeq === Seq("int", "float"))
    // lossy changes still refuse: long -> double loses precision
    val lossy = intercept[IllegalArgumentException] {
      Lake.commitAppend(
        Seq((4.5, 1.0)).toDF("i", "f"), wroot, retain = 8)
    }
    assert(lossy.getMessage.contains("changes type"))
  }

  test("mergeCommitted: copy-on-write MERGE rewrites only the touched dirs") {
    import org.apache.hadoop.fs.Path
    val root = tmpTable("graft-lake-merge")
    // three append commits → three dirs; keys 2,3 live in v1
    assert(Lake.commitAppend(Seq((1L, 10L, "a")).toDF("k", "ver", "t"), root, retain = 2) === 0L)
    assert(Lake.commitAppend(Seq((2L, 11L, "b"), (3L, 12L, "c")).toDF("k", "ver", "t"), root, retain = 2) === 1L)
    assert(Lake.commitAppend(Seq((4L, 13L, "d")).toDF("k", "ver", "t"), root, retain = 2) === 2L)
    val base = Lake.readCommitted(spark, root)
    // update k=2, delete k=3 (both in v1), insert k=9
    val changes = Seq(
      (2L, 20L, "B", false), (3L, 21L, "x", true), (9L, 22L, "new", false)
    ).toDF("k", "ver", "t", "is_del")
    val expect = rows(graft.operators.Cdc.applyChanges(
      base, changes, Seq("k"), "ver", "is_del"))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    // the three batch dirs carry staged (writer-unique) names; resolve
    // them by snapshot diff
    val dir0 = Lake.snapshotDirNames(spark, root, 0L).head
    val dir1 = (Lake.snapshotDirNames(spark, root, 1L).toSet - dir0).head
    val dir2 = (Lake.snapshotDirNames(spark, root, 2L).toSet -
      dir0 - dir1).head
    val v0Before = fs.listStatus(new Path(root, dir0))
      .map(f => (f.getPath.getName, f.getModificationTime, f.getLen)).toSet
    // COW path pinned (the DV merge has its own LakeDvSpec scenario)
    val v = Lake.mergeCommitted(spark, root, changes, Seq("k"), "ver",
      "is_del", dvMaxRows = 0L)
    assert(v === 3L)
    // MERGE semantics == the q99-verified applyChanges fold
    assert(rows(Lake.readCommitted(spark, root)) === expect)
    assert(rows(Lake.readCommitted(spark, root)) ===
      Set(Seq(1L, 10L, "a"), Seq(2L, 20L, "B"), Seq(4L, 13L, "d"), Seq(9L, 22L, "new")))
    // copy-on-write: untouched batch dirs 0/2 are REUSED BY REFERENCE
    // in the new snapshot (byte-identical files), touched dir 1 is not
    val live = Lake.resolve(spark, root).map(p => new Path(p).getName).toSet
    val mergeDir = (live - dir0 - dir2).head
    assert(live === Set(dir0, dir2, mergeDir) && !live.contains(dir1))
    assert(fs.listStatus(new Path(root, dir0))
      .map(f => (f.getPath.getName, f.getModificationTime, f.getLen)).toSet === v0Before)
    // time travel still serves the pre-merge snapshot
    assert(rows(Lake.readCommittedAt(spark, root, 2L)) === rows(base))
    // a pure-insert batch touches no dirs → O(batch) append shape:
    // every live dir is reused, one new dir holds only the insert
    val v2 = Lake.mergeCommitted(spark, root,
      Seq((7L, 30L, "ins", false)).toDF("k", "ver", "t", "is_del"),
      Seq("k"), "ver", "is_del")
    assert(v2 === 4L)
    val live2 = Lake.resolve(spark, root).map(p => new Path(p).getName).toSet
    assert(Set(dir0, dir2, mergeDir).subsetOf(live2) && live2.size === 4)
    assert(Lake.readCommitted(spark, root).count() === 5L)
    // an all-stale guarded batch has no effective winners → no commit
    val v3 = Lake.mergeCommitted(spark, root,
      Seq((2L, 5L, "stale", false)).toDF("k", "ver", "t", "is_del"),
      Seq("k"), "ver", "is_del", guardVersions = true)
    assert(v3 === 4L)
    assert(Lake.readCommitted(spark, root)
      .where(col("k") === 2L).select("t").collect().head.getString(0) === "B")
  }

  test("compactCommitted collapses an append-fragmented snapshot, rows and schema unchanged") {
    import org.apache.hadoop.fs.Path
    val root = tmpTable("graft-lake-compactc")
    (0 until 6).foreach { b =>
      Lake.commitAppend(
        (1L to 50L).map(i => (b * 100L + i, s"row $b/$i")).toDF("k", "t"), root)
      ()
    }
    assert(Lake.resolve(spark, root).length === 6)
    val before = rows(Lake.readCommitted(spark, root))
    val schemaBefore = Lake.readCommitted(spark, root).schema
    val v = Lake.compactCommitted(spark, root)
    assert(v === 6L)
    // one dir now serves the whole snapshot; contents byte-identical
    assert(Lake.resolve(spark, root).length === 1)
    assert(rows(Lake.readCommitted(spark, root)) === before)
    assert(Lake.readCommitted(spark, root).schema === schemaBefore)
    // converges: a second run plans the same single-dir layout
    val v2 = Lake.compactCommitted(spark, root)
    assert(v2 === 7L && Lake.resolve(spark, root).length === 1)
    assert(rows(Lake.readCommitted(spark, root)) === before)
  }

  test("evolution x merge x time travel: a merge on an evolved table keeps every story straight") {
    val root = tmpTable("graft-lake-combo")
    // v0: original schema; v1: append evolves the schema (+score)
    assert(Lake.commitAppend(Seq((1L, 10L, "a")).toDF("k", "ver", "t"), root, retain = 3) === 0L)
    assert(Lake.commitAppend(
      Seq((2L, 11L, "b", 0.5)).toDF("k", "ver", "t", "score"), root, retain = 3) === 1L)
    // v2: MERGE on the evolved table — changes carry the full evolved
    // schema; the update touches k=1, whose pre-evolution dir rewrites
    // under the carried schema (NULL score backfill happens BEFORE the
    // fold, so the winner's non-NULL score lands cleanly)
    val changes = Seq(
      (1L, 20L, "A", 0.9, false), (3L, 21L, "c", 0.1, false)
    ).toDF("k", "ver", "t", "score", "is_del")
    assert(Lake.mergeCommitted(spark, root, changes, Seq("k"), "ver", "is_del",
      retain = 3) === 2L)
    assert(rows(Lake.readCommitted(spark, root)) ===
      Set(Seq(1L, 20L, "A", 0.9), Seq(2L, 11L, "b", 0.5), Seq(3L, 21L, "c", 0.1)))
    // time travel: pre-merge sees the evolved-but-unmerged table,
    // pre-evolution sees the original two-column schema
    assert(rows(Lake.readCommittedAt(spark, root, 1L)) ===
      Set(Seq(1L, 10L, "a", null), Seq(2L, 11L, "b", 0.5)))
    val v0 = Lake.readCommittedAt(spark, root, 0L)
    assert(v0.columns.toSeq === Seq("k", "ver", "t"))
    assert(rows(v0) === Set(Seq(1L, 10L, "a")))
    // compaction preserves the evolved schema and all rows
    Lake.compactCommitted(spark, root, retain = 3)
    assert(Lake.readCommitted(spark, root).columns.toSeq === Seq("k", "ver", "t", "score"))
    assert(rows(Lake.readCommitted(spark, root)) ===
      Set(Seq(1L, 20L, "A", 0.9), Seq(2L, 11L, "b", 0.5), Seq(3L, 21L, "c", 0.1)))
  }

  test("countCommitted: metadata-only count tracks loads, survives compaction, honest on merge") {
    val root = tmpTable("graft-lake-count")
    val b1 = Seq((1L, 10L, 100L, "t1"), (2L, 11L, 101L, "t2"))
      .toDF("id", "id_source", "id_date", "title")
    assert(graft.newsmaper.Newsmaper.loadToCommitted(b1, root) === 2L)
    // count(*) answers from the manifest alone — no scan
    assert(Lake.countCommitted(spark, root) === Some(2L))
    val b2 = Seq((3L, 12L, 102L, "t3")).toDF("id", "id_source", "id_date", "title")
    assert(graft.newsmaper.Newsmaper.loadToCommitted(b2, root) === 1L)
    assert(Lake.countCommitted(spark, root) === Some(3L))
    assert(Lake.countCommitted(spark, root) ===
      Some(Lake.readCommitted(spark, root).count()))
    // time travel: the old snapshot keeps its own count
    val vs = Lake.readableVersions(spark, root)
    assert(Lake.countCommittedAt(spark, root, vs.head) === Some(2L))
    // compaction is row-preserving: the count carries over
    Lake.compactCommitted(spark, root)
    assert(Lake.countCommitted(spark, root) === Some(3L))
    // a merge (deletes possible) cannot know its count cheaply —
    // honesty over a counting job: None, fall back to a scan
    Lake.mergeCommitted(spark, root,
      Seq((2L, 99L, 101L, "gone", true))
        .toDF("id", "id_source", "id_date", "title", "is_del"),
      Seq("id"), "id_source", "is_del")
    assert(Lake.countCommitted(spark, root) === None)
    assert(Lake.readCommitted(spark, root).count() === 2L)
    // the chain resumes at the next counted commit
    val df = Lake.readCommitted(spark, root)
    Lake.commitOverwrite(df, root, rowCount = Some(df.count()))
    assert(Lake.countCommitted(spark, root) === Some(2L))
  }

  test("data skipping: ranged appends prune dirs on predicate reads, results never change") {
    val root = tmpTable("graft-lake-skip")
    // four appends with disjoint key ranges — the layout a time- or
    // key-ordered 100 TB ingest produces naturally
    (0 until 4).foreach { b =>
      Lake.commitAppend(
        (b * 100L until b * 100L + 100L).map(i => (i, s"s${b}_$i")).toDF("k", "t"),
        root, retain = 0, statsCols = Seq("k", "t"))
      ()
    }
    assert(Lake.resolve(spark, root).length === 4)
    // a point predicate keeps exactly the one dir whose range holds it
    val (kept1, skipped1) = Lake.pruneDirs(spark, root, col("k") === 250L)
    assert(kept1.length === 1 && skipped1.length === 3)
    // a range predicate spanning two dirs keeps exactly those two
    val (kept2, skipped2) = Lake.pruneDirs(spark, root, col("k").between(150L, 250L))
    assert(kept2.length === 2 && skipped2.length === 2)
    // string stats prune too (UTF8String binary order)
    val (kept3, _) = Lake.pruneDirs(spark, root, col("t") === "s2_222")
    assert(kept3.length === 1)
    // IN over two dirs' ranges keeps those two
    val (kept4, _) = Lake.pruneDirs(spark, root, col("k").isin(5L, 305L))
    assert(kept4.length === 2)
    // results are ALWAYS readCommitted + where, pruned or not
    for (p <- Seq(col("k") === 250L, col("k").between(150L, 250L),
        col("t") === "s2_222", col("k").isin(5L, 305L),
        col("k") < 0L, col("k") >= 399L,
        col("k") === 250L || col("k") === 10L, // OR: not prunable, still correct
        length(col("t")) > 5)) { // non-understood conjunct: ignored
      assert(rows(Lake.readCommittedWhere(spark, root, p)) ===
        rows(Lake.readCommitted(spark, root).where(p)), s"predicate $p")
    }
    // a predicate excluding every dir returns an EMPTY frame with the
    // table's schema — no dir is scanned at all
    val none = Lake.readCommittedWhere(spark, root, col("k") === -5L)
    assert(none.columns.toSeq === Seq("k", "t") && none.count() === 0L)
    assert(Lake.pruneDirs(spark, root, col("k") === -5L)._1.isEmpty)
    // an OR of two prunable equalities keeps exactly the two hit dirs
    // (round-16 OR-disjunct skipping; the dedicated OR test covers the
    // partition/file shapes)
    assert(Lake.pruneDirs(spark, root,
      col("k") === 250L || col("k") === 10L)._1.length === 2)
  }

  test("data skipping: stat columns inherit through append, merge, and compaction") {
    val root = tmpTable("graft-lake-skip-chain")
    // establish stat columns on the bootstrap commit only
    Lake.commitOverwrite(
      (0L until 100L).map(i => (i, 10L, s"a$i")).toDF("k", "ver", "t"),
      root, retain = 2, statsCols = Seq("k"))
    // plain appends inherit: their new dirs are stat'd without re-naming
    Lake.commitAppend(
      (100L until 200L).map(i => (i, 10L, s"b$i")).toDF("k", "ver", "t"),
      root, retain = 2)
    val (kept, skipped) = Lake.pruneDirs(spark, root, col("k") === 150L)
    assert(kept.length === 1 && skipped.length === 1)
    // a MERGE rewrites the touched dir and re-stats it; pruning stays
    // exact afterwards
    Lake.mergeCommitted(spark, root,
      Seq((150L, 20L, "B", false)).toDF("k", "ver", "t", "is_del"),
      Seq("k"), "ver", "is_del", retain = 2, dvMaxRows = 0L)
    val (keptM, _) = Lake.pruneDirs(spark, root, col("k") === 150L)
    assert(keptM.length === 1)
    assert(rows(Lake.readCommittedWhere(spark, root, col("k") === 150L)) ===
      Set(Seq(150L, 20L, "B")))
    // compaction collapses to one dir with whole-table stats — a miss
    // outside the global range prunes everything
    Lake.compactCommitted(spark, root, retain = 2)
    assert(Lake.resolve(spark, root).length === 1)
    assert(Lake.pruneDirs(spark, root, col("k") === 9999L)._1.isEmpty)
    assert(rows(Lake.readCommittedWhere(spark, root, col("k") <= 1L)) ===
      Set(Seq(0L, 10L, "a0"), Seq(1L, 10L, "a1")))
    // the streaming-fold commit path (commitVersion, no stats) keeps
    // the chain: its dir is merely unstat'd — always kept — and the
    // NEXT append still stats its own dir
    graft.sources.Lake.commitVersion(spark, root,
      Lake.currentVersion(spark, root).get + 1,
      Lake.resolve(spark, root).map(p => new org.apache.hadoop.fs.Path(p).getName),
      retain = 2)
    Lake.commitAppend(
      (200L until 300L).map(i => (i, 10L, s"c$i")).toDF("k", "ver", "t"),
      root, retain = 2)
    val (keptC, skippedC) = Lake.pruneDirs(spark, root, col("k") === 250L)
    assert(skippedC.length === 1) // the compacted dir (0..199) is skippable
    assert(keptC.nonEmpty)
    assert(rows(Lake.readCommittedWhere(spark, root, col("k") === 250L)) ===
      Set(Seq(250L, 10L, "c250")))
  }

  test("data skipping: evolution interplay — a dir missing the stat column is kept") {
    val root = tmpTable("graft-lake-skip-evolve")
    Lake.commitOverwrite(Seq((1L, "a")).toDF("k", "t"), root, retain = 3,
      statsCols = Seq("k", "score"))
    // score doesn't exist yet: dir stats carry k only; a score
    // predicate must keep the dir (NULL-backfilled rows don't match a
    // comparison, but the pruner can't know that without stats — and
    // rows with real scores arrive only later)
    Lake.commitAppend(Seq((2L, "b", 7.5)).toDF("k", "t", "score"), root, retain = 3)
    for (p <- Seq(col("score") > 5.0, col("score") < 5.0, col("k") === 1L)) {
      assert(rows(Lake.readCommittedWhere(spark, root, p)) ===
        rows(Lake.readCommitted(spark, root).where(p)), s"predicate $p")
    }
    // the evolved dir IS prunable on score
    val (kept, skipped) = Lake.pruneDirs(spark, root, col("score") > 10.0)
    assert(skipped.length === 1 && kept.length === 1) // v1 skipped, v0 kept (no score stats)
  }

  test("change feed: append, merge, compaction, and overwrite steps all diff exactly") {
    val root = tmpTable("graft-lake-feed")
    def feed(from: Long, to: Long) =
      Lake.changesBetween(spark, root, from, to, Seq("k")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3))).toSet
    // v0: bootstrap; v1: append → pure inserts, no join
    Lake.commitAppend(Seq((1L, 10L, "a"), (2L, 10L, "b")).toDF("k", "ver", "t"),
      root, retain = 10)
    Lake.commitAppend(Seq((3L, 10L, "c")).toDF("k", "ver", "t"), root, retain = 10)
    assert(feed(0L, 1L) === Set((3L, 10L, "c", "insert")))
    // v2: merge — update k=2, delete k=1, insert k=9. The touched dir
    // rewrite carries k=2's neighbor rows; the feed must NOT emit them
    Lake.mergeCommitted(spark, root,
      Seq((2L, 20L, "B", false), (1L, 20L, "x", true), (9L, 20L, "new", false))
        .toDF("k", "ver", "t", "is_del"),
      Seq("k"), "ver", "is_del", retain = 10)
    assert(feed(1L, 2L) === Set(
      (2L, 10L, "b", "update_preimage"), // both images, Delta-CDF style
      (2L, 20L, "B", "update_postimage"),
      (1L, 10L, "a", "delete"), // the OLD image
      (9L, 20L, "new", "insert")))
    // v3: compaction is row-preserving → EMPTY feed (every carried row
    // pairs up equal and drops out)
    Lake.compactCommitted(spark, root, retain = 10)
    assert(feed(2L, 3L) === Set.empty)
    // multi-version net effect: v0 -> v3 squashes the chain
    assert(feed(0L, 3L) === Set(
      (3L, 10L, "c", "insert"), (9L, 20L, "new", "insert"),
      (2L, 10L, "b", "update_preimage"), (2L, 20L, "B", "update_postimage"),
      (1L, 10L, "a", "delete")))
    // an overwrite degenerates to the full two-sided diff — still exact
    Lake.commitOverwrite(Seq((2L, 30L, "B2"), (7L, 30L, "g")).toDF("k", "ver", "t"),
      root, retain = 10)
    assert(feed(3L, 4L) === Set(
      (2L, 20L, "B", "update_preimage"), (2L, 30L, "B2", "update_postimage"),
      (7L, 30L, "g", "insert"),
      (3L, 10L, "c", "delete"), (9L, 20L, "new", "delete")))
    // feed(v, v) is empty with the schema + change_type
    val same = Lake.changesBetween(spark, root, 4L, 4L, Seq("k"))
    assert(same.columns.toSeq === Seq("k", "ver", "t", "change_type"))
    assert(same.count() === 0L)
    // replaying the squashed POSTIMAGE feed onto the FROM snapshot
    // rebuilds the TO snapshot exactly — the feed and the CDC apply
    // compose (preimages are the retraction channel, not replay input)
    val replayed = graft.operators.Cdc.applyChanges(
      Lake.readCommittedAt(spark, root, 0L),
      Lake.changesBetween(spark, root, 0L, 4L, Seq("k"))
        .where(col("change_type") =!= "update_preimage")
        .withColumn("is_del", col("change_type") === "delete")
        .drop("change_type"),
      Seq("k"), "ver", "is_del")
    assert(rows(replayed) === rows(Lake.readCommittedAt(spark, root, 4L)))
    // and the RETRACTABLE consumer: per-t' stats maintained off the
    // feed equal a from-scratch recompute of the target snapshot
    val mv0 = graft.operators.Incremental.retractablePartials(
      Lake.readCommittedAt(spark, root, 0L), Seq("t"), "ver")
    val maintained = graft.operators.Incremental.finalizeRetractable(
      graft.operators.Incremental.applyFeed(mv0,
        Lake.changesBetween(spark, root, 0L, 4L, Seq("k")), Seq("t"), "ver"))
    val recomputed = graft.operators.Incremental.finalizeRetractable(
      graft.operators.Incremental.retractablePartials(
        Lake.readCommittedAt(spark, root, 4L), Seq("t"), "ver"))
    assert(rows(maintained) === rows(recomputed))
  }

  test("change feed: evolution interplay and the cursor pull") {
    val root = tmpTable("graft-lake-feed-evolve")
    Lake.commitAppend(Seq((1L, "a")).toDF("k", "t"), root, retain = 10)
    // schema evolves; the feed is expressed in the TO schema — the
    // appended row is an insert with its new column, old rows unseen
    Lake.commitAppend(Seq((2L, "b", 7.5)).toDF("k", "t", "score"), root, retain = 10)
    val f01 = Lake.changesBetween(spark, root, 0L, 1L, Seq("k"))
    assert(f01.columns.toSeq === Seq("k", "t", "score", "change_type"))
    assert(rows(f01) === Set(Seq(2L, "b", 7.5, "insert")))
    // cursor pull: None bootstraps with the live snapshot as inserts;
    // a caught-up cursor returns None; a behind cursor gets the delta
    val Some((boot, v1)) = Lake.changesSince(spark, root, None, Seq("k"))
    assert(v1 === 1L)
    assert(rows(boot) === Set(Seq(1L, "a", null, "insert"), Seq(2L, "b", 7.5, "insert")))
    assert(Lake.changesSince(spark, root, Some(1L), Seq("k")).isEmpty)
    Lake.commitAppend(Seq((3L, "c", 0.5)).toDF("k", "t", "score"), root, retain = 10)
    val Some((delta, v2)) = Lake.changesSince(spark, root, Some(1L), Seq("k"))
    assert(v2 === 2L)
    assert(rows(delta) === Set(Seq(3L, "c", 0.5, "insert")))
    // a MapType column is refused loudly (maps are not comparable)
    val mroot = tmpTable("graft-lake-feed-map")
    Lake.commitOverwrite(Seq((1L, Map("a" -> 1L))).toDF("k", "m"), mroot, retain = 3)
    Lake.commitOverwrite(Seq((2L, Map("b" -> 2L))).toDF("k", "m"), mroot, retain = 3)
    val e = intercept[IllegalArgumentException] {
      Lake.changesBetween(spark, mroot, 0L, 1L, Seq("k"))
    }
    assert(e.getMessage.contains("MapType"))
  }

  test("clusterCommitted: z-order rewrite makes file-level skipping bite on BOTH columns") {
    val root = tmpTable("graft-lake-zorder")
    // a 64x64 grid committed in row-major appends: y-locality is
    // nonexistent on disk, so a y-range predicate prunes nothing
    (0 until 4).foreach { b =>
      val rows = for (x <- b * 16 until (b + 1) * 16; y <- 0 until 64)
        yield (x.toLong, y.toLong, s"p$x/$y")
      Lake.commitAppend(rows.toDF("x", "y", "t"), root, retain = 0,
        rowCount = Some(rows.size.toLong), statsCols = Seq("x", "y"))
      ()
    }
    val before = rows(Lake.readCommitted(spark, root))
    // tiny target → many files, so the z-layout has something to show
    val v = Lake.clusterCommitted(spark, root, Seq("x", "y"), targetBytes = 8 * 1024)
    assert(Lake.resolve(spark, root).length === 1)
    // row multiset and schema unchanged — layout-only
    assert(rows(Lake.readCommitted(spark, root)) === before)
    assert(Lake.countCommitted(spark, root) === Some(4096L))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    val zDir = Lake.snapshotDirNames(spark, root, v).head
    val nFiles = fs.listStatus(new org.apache.hadoop.fs.Path(root, zDir))
      .count(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    assert(nFiles > 4, s"need a multi-file layout to demonstrate skipping, got $nFiles")
    // a predicate on EITHER dimension now skips files — the z-curve
    // shares locality across both, where lexicographic gives only x
    for (p <- Seq(col("x").between(0L, 7L), col("y").between(0L, 7L),
        col("x").between(0L, 7L) && col("y").between(0L, 7L))) {
      val (_, _, skippedFiles) = Lake.resolveWhere(spark, root, p)
      assert(skippedFiles.nonEmpty, s"no files skipped for $p over $nFiles files")
      assert(rows(Lake.readCommittedWhere(spark, root, p)) ===
        rows(Lake.readCommitted(spark, root).where(p)), s"predicate $p")
    }
    // the corner query prunes hardest: an eighth of each axis is
    // 1/64 of the grid — the scan set must shrink well below half
    val (keptPaths, _, skipped) = Lake.resolveWhere(spark, root,
      col("x").between(0L, 7L) && col("y").between(0L, 7L))
    assert(skipped.size > nFiles / 2,
      s"z-order corner query skipped only ${skipped.size} of $nFiles files")
    assert(keptPaths.size < nFiles - nFiles / 2)
    // file stats survive an unrelated append (carried by dir), and
    // the appended dir still prunes at dir level
    Lake.commitAppend(Seq((1000L, 1000L, "far")).toDF("x", "y", "t"), root, retain = 1)
    val p2 = col("x").between(0L, 7L) && col("y").between(0L, 7L)
    val (_, skippedDirs2, skippedFiles2) = Lake.resolveWhere(spark, root, p2)
    assert(skippedDirs2.nonEmpty) // the far-away append dir
    assert(skippedFiles2.size === skipped.size) // carried file stats still prune
    assert(rows(Lake.readCommittedWhere(spark, root, p2)) ===
      rows(Lake.readCommitted(spark, root).where(p2)))
  }

  test("clusterCommitted: string columns fall back to lexicographic layout, still exact") {
    val root = tmpTable("graft-lake-lexcluster")
    val data = (0 until 1000).map(i => (f"k$i%04d", i.toLong, s"v$i"))
    Lake.commitOverwrite(data.toDF("k", "n", "t"), root, retain = 1,
      statsCols = Seq("k"))
    Lake.clusterCommitted(spark, root, Seq("k", "n"), targetBytes = 8 * 1024)
    assert(rows(Lake.readCommitted(spark, root)) === rows(data.toDF("k", "n", "t")))
    val p = col("k") < "k0100"
    val (_, _, skippedFiles) = Lake.resolveWhere(spark, root, p)
    assert(skippedFiles.nonEmpty, "leading-column range should prune files")
    assert(rows(Lake.readCommittedWhere(spark, root, p)) ===
      rows(Lake.readCommitted(spark, root).where(p)))
  }

  test("deleteWhere: reuse / metadata-only drop / rewrite, decided from stats alone") {
    import org.apache.hadoop.fs.Path
    val root = tmpTable("graft-lake-delw")
    // four ranged appends; k is non-nullable (product encoder) so the
    // whole-dir drop proof can fire
    (0L until 4L).foreach { b =>
      Lake.commitAppend(
        (b * 10L until (b + 1) * 10L).map(k => (k, s"r$k")).toDF("k", "t"),
        root, retain = 4, statsCols = Seq("k"))
      ()
    }
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    def fileSig(d: String) = fs.listStatus(new Path(root, d))
      .map(f => (f.getPath.getName, f.getModificationTime, f.getLen)).toSet
    // resolve each ranged batch's staged dir name by snapshot diff
    val bDirs = batchDirs(root, 3)
    val sigs = (0 to 3).map(b => fileSig(bDirs(b)))

    // 1. delete an exact dir range: [0,10) — batch 0's dir provably
    //    all-match → dropped METADATA-ONLY (no new data dir), batches
    //    1..3 reused by ref
    val preV = Lake.currentVersion(spark, root).get
    val v = Lake.deleteWhere(spark, root, col("k") < 10L, retain = 4)
    assert(v === preV + 1)
    val live = Lake.resolve(spark, root).map(p => new Path(p).getName).toSet
    assert(live === Set(bDirs(1), bDirs(2), bDirs(3))) // no new dir was written
    (1 to 3).foreach(b => assert(fileSig(bDirs(b)) === sigs(b))) // byte-identical
    assert(rows(Lake.readCommitted(spark, root).select("k")) ===
      (10L until 40L).map(Seq(_)).toSet)
    // the change feed derives the drop as plain deletes
    val feed = Lake.changesBetween(spark, root, preV, v, Seq("k"))
    assert(feed.where(col("change_type") =!= "delete").isEmpty)
    assert(rows(feed.select("k")) === (0L until 10L).map(Seq(_)).toSet)

    // 2. straddling range: [15,24] touches v1+v2 → those rewrite into
    //    one new dir, v3 reused; NULL-keeping filter semantics
    //    (dvMaxRows = 0 pins the copy-on-write path this test is
    //    about; the merge-on-read default is LakeDvSpec's subject)
    val v2 = Lake.deleteWhere(spark, root, col("k").between(15L, 24L),
      retain = 4, dvMaxRows = 0)
    val live2 = Lake.resolve(spark, root).map(p => new Path(p).getName).toSet
    assert(live2.contains(bDirs(3)) && !live2.contains(bDirs(1)) &&
      !live2.contains(bDirs(2)))
    assert(fileSig(bDirs(3)) === sigs(3))
    assert(rows(Lake.readCommitted(spark, root).select("k")) ===
      ((10L to 14L) ++ (25L to 39L)).map(Seq(_)).toSet)

    // 3. nothing can match → version unchanged, no commit at all
    assert(Lake.deleteWhere(spark, root, col("k") > 1000L) === v2)

    // 4. time travel still serves every pre-delete snapshot
    assert(rows(Lake.readCommittedAt(spark, root, preV).select("k")) ===
      (0L until 40L).map(Seq(_)).toSet)

    // 5. delete everything → one readable EMPTY snapshot (a zero-dir
    //    manifest is unrepresentable; the carrier dir covers it)
    val v3 = Lake.deleteWhere(spark, root, col("k") >= 0L, retain = 4)
    assert(Lake.currentVersion(spark, root) === Some(v3))
    assert(Lake.readCommitted(spark, root).isEmpty)
  }

  test("deleteWhere: a nullable predicate column forfeits the drop and NULL rows survive") {
    val root = tmpTable("graft-lake-delnull")
    // Option[Long] → nullable column; one NULL row inside the range
    val df = Seq(Some(1L) -> "a", Some(2L) -> "b", (None: Option[Long]) -> "n",
      Some(11L) -> "c").toDF("k", "t")
    Lake.commitOverwrite(df, root, retain = 2, statsCols = Seq("k"))
    val v = Lake.deleteWhere(spark, root, col("k") < 10L, retain = 2)
    assert(v === 1L)
    // DELETE WHERE k<10: NULL k evaluates NULL → row is KEPT
    assert(rows(Lake.readCommitted(spark, root).select("t")) ===
      Set(Seq("n"), Seq("c")))
  }

  test("deleteWhere: an un-understood conjunct blocks the drop but the result stays exact") {
    val root = tmpTable("graft-lake-delfn")
    (0L until 4L).foreach { b =>
      Lake.commitAppend(
        (b * 10L until (b + 1) * 10L).map(k => (k, s"r$k")).toDF("k", "t"),
        root, retain = 4, statsCols = Seq("k"))
      ()
    }
    // k<10 is the whole of v0, but the extra endswith conjunct narrows
    // the match — the drop must NOT fire; the rewrite keeps k=3
    val v = Lake.deleteWhere(spark, root,
      col("k") < 10L && !col("t").endsWith("3"), retain = 4)
    assert(v === 4L)
    assert(rows(Lake.readCommitted(spark, root).where(col("k") < 10L).select("k")) ===
      Set(Seq(3L)))
    assert(Lake.readCommitted(spark, root).count() === 31L)
  }

  test("updateWhere: untouched dirs reused, values updated in place, count carried") {
    import org.apache.hadoop.fs.Path
    val root = tmpTable("graft-lake-updw")
    (0L until 4L).foreach { b =>
      Lake.commitAppend(
        (b * 10L until (b + 1) * 10L).map(k => (k, k * 100L, s"r$k"))
          .toDF("k", "amt", "t"),
        root, retain = 4, rowCount = Some(10L), statsCols = Seq("k"))
      ()
    }
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    def fileSig(d: String) = fs.listStatus(new Path(root, d))
      .map(f => (f.getPath.getName, f.getModificationTime, f.getLen)).toSet
    val bDirs = batchDirs(root, 3)
    val sig3 = fileSig(bDirs(3))
    val preV = Lake.currentVersion(spark, root).get
    // touch [5,24]: batches 0..2 rewrite, batch 3 reused by reference
    // COW path pinned (the DV fast path has its own LakeDvSpec test)
    val v = Lake.updateWhere(spark, root, col("k").between(5L, 24L),
      Map("amt" -> (col("amt") + 1L), "t" -> upper(col("t"))), retain = 4,
      dvMaxRows = 0L)
    assert(v === preV + 1)
    val live = Lake.resolve(spark, root).map(p => new Path(p).getName).toSet
    assert(live.contains(bDirs(3)) && !live.contains(bDirs(0)))
    assert(fileSig(bDirs(3)) === sig3)
    val back = Lake.readCommitted(spark, root)
    assert(back.count() === 40L)
    // updated rows transformed, others (including the reused dir) intact
    assert(rows(back.where(col("k") === 7L)) === Set(Seq(7L, 701L, "R7")))
    assert(rows(back.where(col("k") === 3L)) === Set(Seq(3L, 300L, "r3")))
    assert(rows(back.where(col("k") === 30L)) === Set(Seq(30L, 3000L, "r30")))
    // row-preserving: the metadata-only count chain carries through
    assert(Lake.countCommitted(spark, root) === Some(40L))
    // change feed: both images for every touched row, nothing else
    val feed = Lake.changesBetween(spark, root, preV, v, Seq("k"))
    assert(feed.where(col("change_type") === "insert").isEmpty)
    assert(feed.where(col("change_type") === "delete").isEmpty)
    assert(feed.where(col("change_type") === "update_postimage").count() === 20L)
    // no-op predicate → version unchanged
    assert(Lake.updateWhere(spark, root, col("k") > 1000L,
      Map("amt" -> lit(0L))) === v)
    // unknown SET column refused
    intercept[IllegalArgumentException] {
      Lake.updateWhere(spark, root, col("k") === 1L, Map("nope" -> lit(1L)))
    }
  }

  test("bloom skipping: equality lookups prune dirs min/max ranges cannot") {
    import org.apache.hadoop.fs.Path
    val root = tmpTable("graft-lake-bloom")
    // hash-interleaved appends: every dir spans the FULL key range
    // (k%4), so range stats prune nothing; the per-dir bloom must.
    // retain=0 prunes old markers as we go, so capture each batch's
    // staged dir name right after its commit.
    var seen = Set.empty[String]
    val bDirs = (0L until 4L).map { b =>
      Lake.commitAppend(
        (0L until 400L).filter(_ % 4 == b).map(k => (k, s"n$k")).toDF("k", "t"),
        root, retain = 0, statsCols = Seq("k"), bloomCols = Seq("k", "t"))
      val cur = Lake.snapshotDirNames(spark, root, b).toSet
      val added = (cur -- seen).head
      seen = cur
      added
    }
    // k=37 lives only in batch 1's dir (37%4==1); ranges keep all four
    val (keptR, _) = Lake.pruneDirs(spark, root, col("k") === 37L)
    assert(keptR.map(p => new Path(p).getName) === Seq(bDirs(1)))
    assert(rows(Lake.readCommittedWhere(spark, root, col("k") === 37L)) ===
      Set(Seq(37L, "n37")))
    // string-column bloom probes too
    val (keptS, _) = Lake.pruneDirs(spark, root, col("t") === "n38")
    assert(keptS.map(p => new Path(p).getName) === Seq(bDirs(2)))
    // IN-list keeps exactly the union of matching dirs
    val (keptIn, skippedIn) = Lake.pruneDirs(spark, root,
      col("k").isin(37L, 102L))
    assert(keptIn.map(p => new Path(p).getName).toSet ===
      Set(bDirs(1), bDirs(2)))
    assert(skippedIn.size === 2)
    // a definitely-absent key skips every dir, result still exact-empty
    val (keptNone, _) = Lake.pruneDirs(spark, root, col("k") === 9999L)
    assert(keptNone.isEmpty)
    assert(Lake.readCommittedWhere(spark, root, col("k") === 9999L).isEmpty)
    // range predicates ignore blooms (op gate): all dirs kept
    val (keptRange, _) = Lake.pruneDirs(spark, root, col("k") < 10L)
    assert(keptRange.size === 4)
    // blooms ride maintenance: compaction refreshes the collapsed
    // dir's filter and lookups keep pruning (now 1-of-1 dirs)
    Lake.compactCommitted(spark, root, targetBytes = 1L << 20)
    assert(rows(Lake.readCommittedWhere(spark, root, col("k") === 37L)) ===
      Set(Seq(37L, "n37")))
    assert(Lake.pruneDirs(spark, root, col("k") === 9999L)._1.isEmpty)
  }

  test("string stats truncate to bounded prefixes; pruning stays conservative-correct") {
    val root = tmpTable("graft-lake-strstats")
    // two ranged appends of 10 KB strings: dir A all share a 32+ 'a'
    // prefix, dir B a 'z' prefix — untruncated these would put 10 KB
    // min/max strings on every manifest line
    val pad = "x" * 10000
    Lake.commitAppend((0 until 50).map(i => (i.toLong, "a" * 100 + f"$i%03d" + pad))
      .toDF("k", "t"), root, retain = 4, statsCols = Seq("t"))
    Lake.commitAppend((50 until 100).map(i => (i.toLong, "z" * 100 + f"$i%03d" + pad))
      .toDF("k", "t"), root, retain = 4, statsCols = Seq("t"))
    val v = Lake.currentVersion(spark, root).get
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    val in = fs.open(new org.apache.hadoop.fs.Path(root, s"_commit_$v"))
    val lines = try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toList
      finally in.close()
    val statLines = lines.filter(_.startsWith("#stats_"))
    assert(statLines.size === 2)
    // THE bound: a 10 KB stat column costs ≤ ~200 bytes of manifest
    statLines.foreach(l => assert(l.length < 300, s"unbounded stat line: ${l.take(80)}…"))
    // pruning still separates the prefixes: an 'a'-query skips dir B
    val (keptA, skippedA) = Lake.pruneDirs(spark, root, col("t") === ("a" * 40))
    assert(keptA.size === 1 && skippedA.size === 1)
    // conservative above the true max but inside the successor bound:
    // a value sharing dir A's truncated prefix is KEPT (never wrongly
    // excluded), even though no actual row matches
    val (keptB, _) = Lake.pruneDirs(spark, root,
      col("t") === ("a" * 32 + "zzz"))
    assert(keptB.size >= 1)
    // and the full read path answers exactly despite truncation
    val probe = "a" * 100 + "007" + pad
    assert(rows(Lake.readCommittedWhere(spark, root, col("t") === probe)
      .select("k")) === Set(Seq(7L)))
    assert(Lake.readCommittedWhere(spark, root,
      col("t") === ("z" * 100 + "007" + pad)).isEmpty)
  }

  test("bloom skipping: deleteWhere and updateWhere reuse bloom-absent dirs by reference") {
    import org.apache.hadoop.fs.Path
    val root = tmpTable("graft-lake-bloomdel")
    (0L until 4L).foreach { b =>
      Lake.commitAppend(
        (0L until 400L).filter(_ % 4 == b).map(k => (k, k * 10L)).toDF("k", "amt"),
        root, retain = 4, bloomCols = Seq("k"))
      ()
    }
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    def fileSig(d: String) = fs.listStatus(new Path(root, d))
      .map(f => (f.getPath.getName, f.getModificationTime, f.getLen)).toSet
    val bDirs = batchDirs(root, 3)
    val sigs = (0 to 3).map(b => fileSig(bDirs(b)))
    // delete k=37: only batch 1's dir can hold it — 0/2/3 reused by ref
    // (dvMaxRows = 0 pins the copy-on-write path whose bloom-driven
    // classification this test is about; LakeDvSpec owns the default)
    Lake.deleteWhere(spark, root, col("k") === 37L, retain = 4, dvMaxRows = 0)
    val live = Lake.resolve(spark, root).map(p => new Path(p).getName).toSet
    assert(!live.contains(bDirs(1)))
    Seq(0, 2, 3).foreach(b => assert(fileSig(bDirs(b)) === sigs(b)))
    assert(Lake.readCommitted(spark, root).where(col("k") === 37L).isEmpty)
    assert(Lake.readCommitted(spark, root).count() === 399L)
    // update k=102: only batch 2's dir can hold it
    val sig0 = fileSig(bDirs(0)); val sig3b = fileSig(bDirs(3))
    Lake.updateWhere(spark, root, col("k") === 102L,
      Map("amt" -> lit(-1L)), retain = 4, dvMaxRows = 0L)
    val live2 = Lake.resolve(spark, root).map(p => new Path(p).getName).toSet
    assert(!live2.contains(bDirs(2)))
    assert(fileSig(bDirs(0)) === sig0 && fileSig(bDirs(3)) === sig3b)
    assert(rows(Lake.readCommitted(spark, root).where(col("k") === 102L)) ===
      Set(Seq(102L, -1L)))
  }

  test("vacuumCommitted: narrows the time-travel horizon, reclaims orphans, spares in-progress writers") {
    import org.apache.hadoop.fs.Path
    val root = tmpTable("graft-lake-vac")
    (0L until 4L).foreach { b =>
      Lake.commitAppend(Seq((b, s"r$b")).toDF("k", "t"), root, retain = 3)
      ()
    }
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    assert(Lake.readableVersions(spark, root) === Seq(0L, 1L, 2L, 3L))
    // an orphan from a past crashed prune (below live) and an
    // in-progress writer dir (above live)
    fs.mkdirs(new Path(root, "v99"))
    Seq((77L, "orphan")).toDF("k", "t").write.mode("overwrite")
      .parquet(new Path(root, "v98").toString)
    // hand-age the orphan below the live version by renaming: use a
    // dir number < live that no manifest references
    fs.rename(new Path(root, "v98"), new Path(root, "v0_orphan"))
    fs.rename(new Path(root, "v0_orphan"), new Path(root, "v2x")) // not a version name — ignored
    val live = Lake.readCommitted(spark, root)
    assert(live.count() === 4L)
    val (pruned, swept) = Lake.vacuumCommitted(spark, root, retain = 1)
    assert(pruned === Seq(0L, 1L))
    // append snapshots share dirs, so pruning manifests 0/1 sweeps
    // nothing the live snapshot references
    assert(swept.forall(d => !Lake.resolve(spark, root).map(p =>
      new Path(p).getName).contains(d)))
    assert(Lake.readableVersions(spark, root) === Seq(2L, 3L))
    assert(Lake.readCommitted(spark, root).count() === 4L)
    // pruned version reads fail fast naming the horizon
    val e = intercept[java.util.NoSuchElementException] {
      Lake.readCommittedAt(spark, root, 0L)
    }
    assert(e.getMessage.contains("[2, 3]"))
    // the in-progress writer dir survives every vacuum
    assert(fs.exists(new Path(root, "v99")))
    // retain=0 leaves exactly the live snapshot
    Lake.vacuumCommitted(spark, root, retain = 0)
    assert(Lake.readableVersions(spark, root) === Seq(3L))
    assert(Lake.readCommitted(spark, root).count() === 4L)
    // crash-ABANDONED optimistic stages (a z-dir referenced by no
    // manifest, an orphaned manifest tmp) age out past the horizon;
    // a FRESH stage — possibly an in-flight writer — is spared
    fs.mkdirs(new Path(root, "zdeadbeef0000"))
    fs.create(new Path(root, "_commit_9.abcd1234.tmp"), true).close()
    fs.mkdirs(new Path(root, "zfresh0000000"))
    fs.setTimes(new Path(root, "zdeadbeef0000"), 1000L, -1)
    fs.setTimes(new Path(root, "_commit_9.abcd1234.tmp"), 1000L, -1)
    val (_, swept2) = Lake.vacuumCommitted(spark, root, retain = 0,
      staleStagedMs = 60L * 1000)
    assert(swept2.contains("zdeadbeef0000") &&
      swept2.contains("_commit_9.abcd1234.tmp"))
    assert(!fs.exists(new Path(root, "zdeadbeef0000")))
    assert(fs.exists(new Path(root, "zfresh0000000"))) // in-flight: spared
    assert(Lake.readCommitted(spark, root).count() === 4L)
    intercept[java.util.NoSuchElementException] {
      Lake.vacuumCommitted(spark, tmpTable("graft-lake-vac-none"))
    }
  }

  test("describeHistory: every op records its provenance line, metadata-only") {
    val root = tmpTable("graft-lake-hist")
    Lake.commitOverwrite(
      Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "v"), root,
      retain = 10, rowCount = Some(3L))
    Lake.commitAppend(Seq((4L, 40.0)).toDF("k", "v"), root,
      retain = 10, rowCount = Some(1L))
    Lake.deleteWhere(spark, root, col("k") === 2L, retain = 10)
    Lake.updateWhere(spark, root, col("k") === 3L,
      Map("v" -> (col("v") + 1.0)), retain = 10)
    Lake.compactCommitted(spark, root, targetBytes = 1L << 20, retain = 10)
    val h = Lake.describeHistory(spark, root).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(h === Map(0L -> "overwrite", 1L -> "append", 2L -> "delete",
      3L -> "update", 4L -> "compact"))
    // every version carries its commit instant (the marker's mtime —
    // what TIMESTAMP AS OF resolves against), non-decreasing
    val ts = Lake.describeHistory(spark, root).collect()
      .map(r => r.getTimestamp(1))
    assert(ts.forall(_ != null))
    assert(ts.sliding(2).forall { case Array(a, b) => !b.before(a) })
    // row counts ride where the writer carried one (counted commits;
    // the append SUMS onto the chain, the row-preserving update and
    // compact carry it, and the deletion-vector delete knows its exact
    // hit count so the chain stays unbroken through it)
    val rc = Lake.describeHistory(spark, root).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(4)) None else Some(r.getLong(4)))).toMap
    assert(rc(0L) === Some(3L) && rc(1L) === Some(4L) && rc(2L) === Some(3L))
    // a pre-op manifest (hand-written, dirs only) reports NULL op
    val legacy = tmpTable("graft-lake-hist-legacy")
    Lake.commitOverwrite(Seq((1L, 1.0)).toDF("k", "v"), legacy)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(legacy), spark.sparkContext.hadoopConfiguration)
    val m = new org.apache.hadoop.fs.Path(legacy, "_commit_0")
    val body = scala.io.Source.fromInputStream(fs.open(m), "UTF-8").mkString
    val stripped = body.split("\n").filterNot(_.startsWith("#op=")).mkString("\n")
    val out = fs.create(m, true)
    try out.write(stripped.getBytes("UTF-8")) finally out.close()
    assert(Lake.describeHistory(spark, legacy).collect().map(_.isNullAt(2)).toSeq
      === Seq(true))
  }

  test("commit instant rides the manifest body: rewritten marker mtimes change nothing") {
    val root = tmpTable("graft-lake-ts")
    Lake.commitOverwrite(Seq((1L, "a")).toDF("k", "t"), root, retain = 10)
    Thread.sleep(5)
    Lake.commitAppend(Seq((2L, "b")).toDF("k", "t"), root, retain = 10)
    Thread.sleep(5)
    Lake.commitAppend(Seq((3L, "c")).toDF("k", "t"), root, retain = 10)
    val before = Lake.describeHistory(spark, root).collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1)).toMap
    // the boundary TIMESTAMP AS OF answers before the mtime rewrite …
    val t1 = before(1L).getTime
    assert(Lake.versionAsOf(spark, root, t1 * 1000L) === 1L)
    assert(Lake.versionAsOf(spark, root, (t1 - 1) * 1000L) === 0L)
    // … then a backup/restore-style migration rewrites every marker
    // mtime (cp -r, object-store copy): resolution MUST NOT move,
    // because the instant lives in the manifest body, not the inode
    (0L to 2L).foreach { v =>
      val f = java.nio.file.Paths.get(
        new java.net.URI(root).getPath + s"/_commit_$v")
      java.nio.file.Files.setLastModifiedTime(f,
        java.nio.file.attribute.FileTime.fromMillis(1000L))
    }
    val after = Lake.describeHistory(spark, root).collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1)).toMap
    assert(after === before)
    assert(Lake.versionAsOf(spark, root, t1 * 1000L) === 1L)
    assert(Lake.versionAsOf(spark, root, (t1 - 1) * 1000L) === 0L)
    // a pre-#ts manifest (line stripped by hand) falls back to mtime
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    val m = new org.apache.hadoop.fs.Path(root, "_commit_0")
    val body = scala.io.Source.fromInputStream(fs.open(m), "UTF-8").mkString
    val stripped = body.split("\n").filterNot(_.startsWith("#ts=")).mkString("\n")
    val out = fs.create(m, true)
    try out.write(stripped.getBytes("UTF-8")) finally out.close()
    val legacyTs = Lake.describeHistory(spark, root).collect()
      .find(_.getLong(0) == 0L).get.getTimestamp(1).getTime
    assert(legacyTs === fs.getFileStatus(m).getModificationTime)
  }

  test("ingest pipeline (q124): arrival order beats doc_id across batch boundaries") {
    // fabricate an sf dir: batch split is doc_id % 3 (== 2 -> batch 2)
    val dir = java.nio.file.Files.createTempDirectory("graft-ingest-sf").toString
    val six = "alpha beta gamma delta epsilon zeta"
    Seq(
      (10L, "s1", six),                        // batch 1 — curated first
      (2L, "s2", six),                         // batch 2 dup, SMALLER id — must lose
      (4L, "s1", "short one two"),             // batch 1, gated out (< 5 tokens)
      (5L, "s2", "five whole tokens right here"), // batch 2, unique — kept
      (7L, "s1", null.asInstanceOf[String]),   // NULL text — dropped
      (3L, "s1", "one two three four five six seven"), // batch-1 within-batch dup pair:
      (6L, "s1", "one two three four five six seven")  // 3 kept (keep-first), 6 dropped
    ).toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q124_lake_ingest_pipeline")(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out === Set(10L, 5L, 3L))
  }

  test("compact merges a fragmented table without changing its rows") {
    val path = tmpTable("lake")
    val data = (1L to 5000L).map(i => (i, s"row $i")).toDF("id", "payload")
    // simulate many small load batches: 24 separate appends
    (0 until 24).foreach(b =>
      data.where(col("id") % 24 === b).write.mode("append").parquet(path))
    val before = Lake.dataFileCount(spark, path)
    assert(before >= 24)
    val after = Lake.compact(spark, path, targetBytes = 64L * 1024 * 1024)
    assert(after < before && after >= 1)
    val back = spark.read.parquet(path)
    assert(back.count() === 5000L)
    assert(rows(back) === rows(data))
    // the swap cleaned up after itself
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(path + ".bak")))
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(path + ".staging")))
  }

  test("compaction converges: a second run keeps the same layout plan") {
    val path = tmpTable("lake2")
    (1L to 100L).toDF("id").write.parquet(path)
    val first = Lake.compact(spark, path, targetBytes = 64L * 1024 * 1024)
    val second = Lake.compact(spark, path, targetBytes = 64L * 1024 * 1024)
    assert(first === second)
    assert(spark.read.parquet(path).count() === 100L)
  }

  test("guards: empty/missing table and non-positive target are rejected") {
    intercept[IllegalArgumentException] {
      Lake.compact(spark, tmpTable("lake3"), targetBytes = 1024)
    }
    intercept[IllegalArgumentException] {
      Lake.compact(spark, "/tmp/nowhere-at-all", targetBytes = 0)
    }
  }

  test("shallow clone: zero data copy, two-way isolation, skipping carries, hazard surfaces") {
    import org.apache.hadoop.fs.Path
    val src = tmpTable("graft-lake-clone-src")
    (0 until 4).foreach { b =>
      Lake.commitAppend(
        ((b * 10) until ((b + 1) * 10)).map(k => (k.toLong, s"t$k")).toDF("k", "t"),
        src, retain = 8, rowCount = Some(10L), statsCols = Seq("k"))
      ()
    }
    val dst = tmpTable("graft-lake-clone-dst")
    assert(Lake.cloneCommitted(spark, src, dst) === 0L)

    // identical contents, and ZERO data dirs copied under the clone
    assert(rows(Lake.readCommitted(spark, dst)) === rows(Lake.readCommitted(spark, src)))
    val dfs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dst), spark.sparkContext.hadoopConfiguration)
    assert(!dfs.listStatus(new Path(dst)).exists(_.isDirectory))
    // metadata-only count and the provenance line carried
    assert(Lake.countCommitted(spark, dst) === Some(40L))
    assert(Lake.describeHistory(spark, dst).select("op")
      .collect().head.getString(0).startsWith(s"clone $src@v"))

    // dir-level skipping works through the absolute references
    val (kept, skippedDirs, _) = Lake.resolveWhere(spark, dst, col("k") < 10L)
    assert(skippedDirs.size === 3 && kept.size === 1)
    assert(rows(Lake.readCommittedWhere(spark, dst, col("k") < 10L)) ===
      (0L until 10L).map(k => Seq(k, s"t$k")).toSet)

    // two-way isolation: source appends are invisible to the clone...
    Lake.commitAppend(Seq((100L, "x")).toDF("k", "t"), src, retain = 8)
    assert(Lake.readCommitted(spark, dst).count() === 40L)
    // ...and clone appends (local dirs mixing with absolute ones)
    // are invisible to the source
    Lake.commitAppend(Seq((200L, "y")).toDF("k", "t"), dst, retain = 8)
    assert(rows(Lake.readCommitted(spark, dst)).contains(Seq(200L, "y")))
    assert(Lake.readCommitted(spark, dst).count() === 41L)
    assert(Lake.readCommitted(spark, src).count() === 41L) // 40 + its own append
    assert(!rows(Lake.readCommitted(spark, src)).contains(Seq(200L, "y")))

    // clone retention never sweeps the source's dirs
    (0 until 3).foreach { i =>
      Lake.commitAppend(Seq((300L + i, "z")).toDF("k", "t"), dst, retain = 0)
      ()
    }
    assert(Lake.readCommitted(spark, dst).count() === 44L)
    assert(Lake.readCommitted(spark, src).count() === 41L)

    // an occupied destination is refused
    intercept[IllegalStateException] { Lake.cloneCommitted(spark, src, dst) }

    // the ownership hazard surfaces as a refusal, not silent data:
    // clone an overwrite-maintained table, then let the SOURCE prune
    // the cloned snapshot's dirs past retention
    val src2 = tmpTable("graft-lake-clone-src2")
    Lake.commitOverwrite(Seq((1L, "a")).toDF("k", "t"), src2, retain = 8)
    val dst2 = tmpTable("graft-lake-clone-dst2")
    Lake.cloneCommitted(spark, src2, dst2)
    Lake.commitOverwrite(Seq((2L, "b")).toDF("k", "t"), src2, retain = 0)
    Lake.commitOverwrite(Seq((3L, "c")).toDF("k", "t"), src2, retain = 0)
    intercept[java.util.NoSuchElementException] {
      Lake.readCommitted(spark, dst2).collect()
    }
  }

  /** Install a beforePublish seam that runs `body` exactly once, in
    * the window between the NEXT commit's manifest build and its
    * publish — i.e. as a deterministic "concurrent" commit. The seam
    * self-resets first so the commit it performs does not recurse. */
  private def raceOnce(body: => Unit): Unit =
    Lake.beforePublish = () => {
      Lake.beforePublish = () => ()
      body
    }

  test("OCC: restore and constraint commits lose their slot loudly, table intact") {
    val root = tmpTable("graft-lake-occ-meta")
    Lake.commitOverwrite(Seq((1L, 1.0)).toDF("k", "v"), root, retain = 8) // v0
    Lake.commitAppend(Seq((2L, 2.0)).toDF("k", "v"), root, retain = 8)   // v1
    // a concurrent append lands inside the restore's build->publish
    // window and takes its slot: the restore refuses (CME), never
    // silently drops the interloper's rows
    raceOnce {
      Lake.commitAppend(Seq((3L, 3.0)).toDF("k", "v"), root, retain = 8)
      ()
    }
    intercept[java.util.ConcurrentModificationException] {
      Lake.restoreCommitted(spark, root, 0L, retain = 8)
    }
    assert(rows(Lake.readCommitted(spark, root)) ===
      Set(Seq(1L, 1.0), Seq(2L, 2.0), Seq(3L, 3.0)))
    // same discipline for the constraint property commit
    raceOnce {
      Lake.commitAppend(Seq((4L, 4.0)).toDF("k", "v"), root, retain = 8)
      ()
    }
    intercept[java.util.ConcurrentModificationException] {
      Lake.addCheckConstraint(spark, root, "v_pos", "v > 0.0")
    }
    assert(Lake.checkConstraints(spark, root).isEmpty)
    assert(Lake.readCommitted(spark, root).count() === 4L)
    // the retry then lands cleanly
    Lake.addCheckConstraint(spark, root, "v_pos", "v > 0.0")
    assert(Lake.checkConstraints(spark, root).map(_._1) === Seq("v_pos"))
  }

  test("OCC: mapping DDL (rename/drop/add) loses its slot loudly; an append racing a rename refuses") {
    val root = tmpTable("graft-lake-occ-map")
    Lake.commitOverwrite(Seq((1L, "a", 1.0)).toDF("k", "t", "v"), root,
      retain = 8)
    try {
      // a concurrent append takes the rename's slot: refusal, schema
      // and data intact
      raceOnce {
        Lake.commitAppend(Seq((2L, "b", 2.0)).toDF("k", "t", "v"), root,
          retain = 8)
        ()
      }
      intercept[java.util.ConcurrentModificationException] {
        Lake.renameColumn(spark, root, "t", "txt")
      }
      assert(Lake.readCommitted(spark, root).columns.toSeq ===
        Seq("k", "t", "v"))
      assert(Lake.readCommitted(spark, root).count() === 2L)
      // the retry lands; same discipline for drop and add
      Lake.renameColumn(spark, root, "t", "txt")
      raceOnce {
        Lake.commitAppend(Seq((3L, "c", 3.0)).toDF("k", "txt", "v"), root,
          retain = 8)
        ()
      }
      intercept[java.util.ConcurrentModificationException] {
        Lake.dropColumn(spark, root, "v")
      }
      assert(Lake.readCommitted(spark, root).columns.contains("v"))
      raceOnce {
        Lake.commitAppend(Seq((4L, "d", 4.0)).toDF("k", "txt", "v"), root,
          retain = 8)
        ()
      }
      intercept[java.util.ConcurrentModificationException] {
        Lake.addColumns(spark, root, Seq("w" ->
          org.apache.spark.sql.types.LongType))
      }
      assert(!Lake.readCommitted(spark, root).columns.contains("w"))
      // the OTHER direction: a RENAME lands inside an append's
      // stage->commit window — the append must refuse (its staged
      // files froze under the pre-rename map), never commit a map
      // that un-does the rename
      raceOnce {
        Lake.renameColumn(spark, root, "txt", "text")
        ()
      }
      intercept[java.util.ConcurrentModificationException] {
        Lake.commitAppend(Seq((5L, "e", 5.0)).toDF("k", "txt", "v"), root,
          retain = 8)
      }
      assert(Lake.readCommitted(spark, root).columns.toSeq ===
        Seq("k", "text", "v"))
      assert(Lake.readCommitted(spark, root).count() === 4L)
      // re-derived under the new name, the append commits
      Lake.commitAppend(Seq((5L, "e", 5.0)).toDF("k", "text", "v"), root,
        retain = 8)
      assert(Lake.readCommitted(spark, root).count() === 5L)
    } finally Lake.beforePublish = () => ()
  }

  test("OCC: FIRST-EVER rename/drop of an identity column racing an append refuses") {
    val root = tmpTable("graft-lake-occ-idmap")
    Lake.commitOverwrite(Seq((1L, "a", 1.0)).toDF("k", "t", "v"), root,
      retain = 8)
    try {
      // the rename of a NEVER-renamed column lands inside the append's
      // stage->commit window. Before round 14 the rebase only checked
      // columns already non-identity-mapped at staging time, so this
      // append would COMMIT, mergeSchemas would re-add logical "t",
      // and the table would carry two logical columns over one
      // physical name. Now: the staged physical name "t" is claimed by
      // the concurrent map for a DIFFERENT logical column → refusal.
      raceOnce { Lake.renameColumn(spark, root, "t", "txt"); () }
      intercept[java.util.ConcurrentModificationException] {
        Lake.commitAppend(Seq((2L, "b", 2.0)).toDF("k", "t", "v"), root,
          retain = 8)
      }
      assert(Lake.readCommitted(spark, root).columns.toSeq ===
        Seq("k", "txt", "v"))
      assert(Lake.readCommitted(spark, root).count() === 1L)
      // re-derived under the new name, the append commits
      Lake.commitAppend(Seq((2L, "b", 2.0)).toDF("k", "txt", "v"), root,
        retain = 8)
      assert(Lake.readCommitted(spark, root).count() === 2L)
      // same for the FIRST-EVER drop: the staged batch still carries
      // "v", whose physical name the concurrent drop just retired —
      // committing would resurrect the dropped column's bytes
      raceOnce { Lake.dropColumn(spark, root, "v"); () }
      intercept[java.util.ConcurrentModificationException] {
        Lake.commitAppend(Seq((3L, "c", 3.0)).toDF("k", "txt", "v"), root,
          retain = 8)
      }
      assert(Lake.readCommitted(spark, root).columns.toSeq ===
        Seq("k", "txt"))
      assert(Lake.readCommitted(spark, root).count() === 2L)
      // without the dropped column the append commits
      Lake.commitAppend(Seq((3L, "c")).toDF("k", "txt"), root, retain = 8)
      assert(Lake.readCommitted(spark, root).count() === 3L)
    } finally Lake.beforePublish = () => ()
  }

  test("OCC: DV fast paths lose their pinned slot to a mid-probe commit, loudly") {
    val root = tmpTable("graft-lake-occ-dv")
    Lake.commitOverwrite(
      (1L to 100L).map(i => (i, 0L, i * 2.0)).toDF("k", "ver", "v"),
      root, retain = 8)
    def interject(row: (Long, Long, Double)): Unit =
      Lake.afterSlotPin = () => {
        Lake.afterSlotPin = () => ()
        Lake.commitAppend(Seq(row).toDF("k", "ver", "v"), root, retain = 8)
        ()
      }
    try {
      // an append lands right after deleteWhere pins its slot, during
      // the hits probe. Before round 14 the DV commit computed its
      // version AFTER the probe, so it published the pre-append dir
      // set over the interloper — a silent lost update. Now the
      // pinned slot is taken and the publish fails loudly.
      interject((101L, 0L, 202.0))
      intercept[java.util.ConcurrentModificationException] {
        Lake.deleteWhere(spark, root, col("k") === 5L, retain = 8)
      }
      assert(Lake.readCommitted(spark, root).count() === 101L) // nothing lost
      Lake.deleteWhere(spark, root, col("k") === 5L, retain = 8) // retry lands
      assert(Lake.readCommitted(spark, root).count() === 100L)
      // updateWhere, same discipline
      interject((102L, 0L, 204.0))
      intercept[java.util.ConcurrentModificationException] {
        Lake.updateWhere(spark, root, col("k") === 6L,
          Map("v" -> lit(0.0)), retain = 8)
      }
      assert(Lake.readCommitted(spark, root).count() === 101L)
      assert(Lake.readCommitted(spark, root)
        .where(col("k") === 102L).count() === 1L) // interloper intact
      // mergeCommitted, same discipline
      interject((103L, 0L, 206.0))
      intercept[java.util.ConcurrentModificationException] {
        Lake.mergeCommitted(spark, root,
          Seq((7L, 1L, 0.0, false)).toDF("k", "ver", "v", "del"),
          Seq("k"), "ver", "del", retain = 8)
      }
      assert(Lake.readCommitted(spark, root).count() === 102L)
      assert(Lake.readCommitted(spark, root)
        .where(col("k") === 7L).select("v").collect().head.getDouble(0)
        === 14.0) // the merge did NOT half-apply
    } finally { Lake.afterSlotPin = () => (); Lake.beforePublish = () => () }
  }

  test("OCC: two interleaved appenders both commit, serialized, no lost dirs") {
    import org.apache.hadoop.fs.Path
    val root = tmpTable("graft-lake-occ-app")
    Lake.commitAppend(Seq((1L, "a")).toDF("k", "t"), root, retain = 8) // v0
    try {
      // appender B lands INSIDE appender A's build->publish window:
      // A stages, builds its manifest for v1 — then B commits v1
      // first. A must lose the slot, rebase on B's snapshot, and
      // commit v2 with BOTH dirs.
      raceOnce {
        Lake.commitAppend(Seq((2L, "b")).toDF("k", "t"), root, retain = 8)
        ()
      }
      val vA = Lake.commitAppend(Seq((3L, "c")).toDF("k", "t"), root, retain = 8)
      assert(vA === 2L) // serialized AFTER the interleaved appender
      assert(Lake.currentVersion(spark, root) === Some(2L))
      // no lost dirs: all three batches' rows are in the live snapshot
      assert(rows(Lake.readCommitted(spark, root)) ===
        Set(Seq(1L, "a"), Seq(2L, "b"), Seq(3L, "c")))
      assert(Lake.resolve(spark, root).length === 3)
      // every intermediate snapshot is consistent too
      assert(rows(Lake.readCommittedAt(spark, root, 1L)) ===
        Set(Seq(1L, "a"), Seq(2L, "b")))
      // the loser's doomed manifest tmp did not leak
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
      assert(!fs.listStatus(new Path(root)).exists(
        _.getPath.getName.endsWith(".tmp")))
    } finally Lake.beforePublish = () => ()
  }

  test("OCC: a conflicting overwrite loser gets the documented refusal; nothing is lost") {
    val root = tmpTable("graft-lake-occ-ow")
    Lake.commitAppend(Seq((1L, "a")).toDF("k", "t"), root, retain = 8) // v0
    try {
      raceOnce {
        Lake.commitAppend(Seq((2L, "b")).toDF("k", "t"), root, retain = 8)
        ()
      }
      val e = intercept[java.util.ConcurrentModificationException] {
        Lake.commitOverwrite(Seq((9L, "z")).toDF("k", "t"), root, retain = 8)
      }
      assert(e.getMessage.contains("re-derive"))
      // the interleaved append WON and nothing of it was lost; the
      // loser's staged dir was cleaned up
      assert(Lake.currentVersion(spark, root) === Some(1L))
      assert(rows(Lake.readCommitted(spark, root)) ===
        Set(Seq(1L, "a"), Seq(2L, "b")))
      assert(Lake.resolve(spark, root).length === 2)
      // the documented recovery works: re-derive and retry
      assert(Lake.commitOverwrite(Seq((9L, "z")).toDF("k", "t"), root,
        retain = 8) === 2L)
      assert(rows(Lake.readCommitted(spark, root)) === Set(Seq(9L, "z")))
    } finally Lake.beforePublish = () => ()
  }

  test("OCC: an append racing row-preserving maintenance REBASES (OPTIMIZE cadence composes)") {
    val root = tmpTable("graft-lake-occ-maint-app")
    (0 until 3).foreach { b =>
      Lake.commitAppend(Seq((b.toLong, s"r$b")).toDF("k", "t"), root,
        retain = 8)
      ()
    }
    try {
      // a COMPACTION lands inside the append's stage->commit window:
      // it removed dirs, but row-preservingly — the snapshot the
      // append derived against is semantically intact, so the append
      // rebases and commits instead of failing for the standing
      // maintenance cadence
      raceOnce {
        Lake.compactCommitted(spark, root, targetBytes = 1L << 20,
          retain = 8)
        ()
      }
      Lake.commitAppend(Seq((99L, "new")).toDF("k", "t"), root, retain = 8)
      assert(rows(Lake.readCommitted(spark, root)) ===
        Set(Seq(0L, "r0"), Seq(1L, "r1"), Seq(2L, "r2"), Seq(99L, "new")))
      // same across a REORG purge
      Lake.deleteWhere(spark, root, col("k") === 0L, retain = 8) // DV
      raceOnce { Lake.reorgCommitted(spark, root, retain = 8); () }
      Lake.commitAppend(Seq((100L, "newer")).toDF("k", "t"), root, retain = 8)
      assert(Lake.readCommitted(spark, root).count() === 4L) // 3 - 1 + 2
    } finally Lake.beforePublish = () => ()
  }

  test("OCC: an append racing a dir-removing commit refuses instead of rebasing blindly") {
    val root = tmpTable("graft-lake-occ-rm")
    Lake.commitAppend(Seq((1L, "a")).toDF("k", "t"), root, retain = 8) // v0
    try {
      // an OVERWRITE lands inside the append's window: the rebase
      // validation sees removed dirs and must refuse — silently
      // appending onto a replaced table would resurrect superseded
      // context the appender derived its batch from
      raceOnce {
        Lake.commitOverwrite(Seq((9L, "z")).toDF("k", "t"), root, retain = 8)
        ()
      }
      val e = intercept[java.util.ConcurrentModificationException] {
        Lake.commitAppend(Seq((2L, "b")).toDF("k", "t"), root, retain = 8)
      }
      assert(e.getMessage.contains("removed dirs"))
      assert(rows(Lake.readCommitted(spark, root)) === Set(Seq(9L, "z")))
    } finally Lake.beforePublish = () => ()
  }

  test("OCC randomized: a concurrent append/overwrite/compact mix linearizes by version order") {
    val root = tmpTable("graft-lake-occ-lin")
    Lake.commitAppend(Seq((-1L, "seed")).toDF("k", "t"), root, retain = 64)
    // committed effects, keyed by the version each op RETURNED — the
    // version order IS the serialization the commit protocol claims
    val effects = new java.util.concurrent.ConcurrentHashMap[
      Long, (String, Set[(Long, String)])]()
    effects.put(0L, ("append", Set((-1L, "seed"))))
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val gate = new java.util.concurrent.CyclicBarrier(6)
    val threads = (0 until 6).map { tid =>
      new Thread(() =>
        try {
          gate.await()
          val rnd = new scala.util.Random(1234 + tid)
          (0 until 4).foreach { i =>
            val payload = Set((tid * 100L + i, s"t$tid-$i"))
            val df = payload.toSeq.toDF("k", "t")
            rnd.nextInt(10) match {
              case 9 => // rare overwrite: loser refusal is a legal outcome
                try {
                  val v = Lake.commitOverwrite(df, root, retain = 64)
                  effects.put(v, ("overwrite", payload))
                } catch { case _: java.util.ConcurrentModificationException => }
              case 8 => // rare compaction: row-preserving or refused
                try {
                  val v = Lake.compactCommitted(spark, root, retain = 64)
                  effects.put(v, ("compact", Set.empty))
                } catch {
                  case _: java.util.ConcurrentModificationException =>
                  case e: IllegalArgumentException
                    if Option(e.getMessage).exists(_.contains("no parquet")) =>
                  // racing an overwrite that emptied... not possible here
                }
              case _ => // appends either commit or refuse loudly —
                // ACROSS an overwrite/compact the blind rebase refuses
                try {
                  val v = Lake.commitAppend(df, root, retain = 64)
                  effects.put(v, ("append", payload))
                } catch { case _: java.util.ConcurrentModificationException => }
            }
          }
        } catch { case t: Throwable => errs.add(t); () })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"unexpected failure: ${errs.peek()}")
    // replay the committed effects in version order: the final table
    // must equal the replay — no lost append, no phantom rows, no
    // effect applied out of its claimed slot
    import scala.jdk.CollectionConverters._
    val history = effects.asScala.toSeq.sortBy(_._1)
    assert(history.nonEmpty)
    // every recorded version slot is unique and was actually committed
    assert(history.map(_._1).distinct.size === history.size)
    val expected = history.foldLeft(Set.empty[(Long, String)]) {
      case (st, (_, ("append", rows)))    => st ++ rows
      case (st, (_, ("overwrite", rows))) => rows
      case (st, (_, ("compact", _)))      => st
      case (st, _)                        => st
    }
    assert(rows(Lake.readCommitted(spark, root)) ===
      expected.map { case (k, t) => Seq(k, t) })
    // the claimed slots really are the committed history's tail (gaps
    // can only come from ops this test did not run)
    val current = Lake.currentVersion(spark, root).get
    assert(history.map(_._1).max === current)
  }

  test("OCC crash sweep: every loser/crash residue is invisible to readers and writers") {
    import org.apache.hadoop.fs.Path
    val root = tmpTable("graft-lake-occ-crash")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    Lake.commitAppend(Seq((1L, "a")).toDF("k", "t"), root, retain = 8) // v0

    // crash point A: writer died after staging, before any publish —
    // an unreferenced z-dir. Readers and subsequent commits ignore it.
    Seq((9L, "dead")).toDF("k", "t").write
      .parquet(new Path(root, "zdeadwriter01").toString)
    assert(rows(Lake.readCommitted(spark, root)) === Set(Seq(1L, "a")))

    // crash point B: writer died after building its manifest tmp,
    // before the publish — a writer-unique *.tmp file. Invisible to
    // version resolution (it parses as no version).
    val out = fs.create(new Path(root, "_commit_1.deadbeef.tmp"), true)
    out.write("zdeadwriter01".getBytes("UTF-8")); out.close()
    assert(Lake.currentVersion(spark, root) === Some(0L))

    // crash point C: publish SUCCEEDED but the winner died before
    // deleting its tmp — marker valid, stale tmp beside it. The next
    // commit allocates past the published version normally.
    assert(Lake.commitAppend(Seq((2L, "b")).toDF("k", "t"), root,
      retain = 8) === 1L)
    assert(rows(Lake.readCommitted(spark, root)) ===
      Set(Seq(1L, "a"), Seq(2L, "b")))

    // recovery: vacuum's staleness horizon reclaims BOTH residues
    // (aged), while live data dirs survive
    fs.setTimes(new Path(root, "zdeadwriter01"), 1000L, -1)
    fs.setTimes(new Path(root, "_commit_1.deadbeef.tmp"), 1000L, -1)
    val (_, swept) = Lake.vacuumCommitted(spark, root, retain = 8,
      staleStagedMs = 60L * 1000)
    assert(swept.contains("zdeadwriter01") &&
      swept.contains("_commit_1.deadbeef.tmp"))
    assert(rows(Lake.readCommitted(spark, root)) ===
      Set(Seq(1L, "a"), Seq(2L, "b")))
  }

  test("OCC: eight genuinely concurrent appenders all commit; the table holds every batch") {
    val root = tmpTable("graft-lake-occ-par")
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val gate = new java.util.concurrent.CyclicBarrier(8)
    val threads = (0 until 8).map { i =>
      new Thread(() =>
        try {
          gate.await()
          Lake.commitAppend(Seq((i.toLong, s"t$i")).toDF("k", "t"), root,
            retain = 16)
          ()
        } catch { case t: Throwable => errs.add(t); () })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errs.isEmpty, s"concurrent appenders failed: ${errs.peek()}")
    assert(Lake.currentVersion(spark, root) === Some(7L)) // dense, serialized
    assert(rows(Lake.readCommitted(spark, root)) ===
      (0 until 8).map(i => Seq(i.toLong, s"t$i")).toSet)
    assert(Lake.resolve(spark, root).length === 8)
  }

  test("partitioned commits: one dir per value tuple, exact dir pruning before stats, NULL dirs pruned by comparisons") {
    val root = tmpTable("graft-lake-part")
    val rows0 = Seq(
      (1L, java.lang.Long.valueOf(1995L), "a"), (2L, java.lang.Long.valueOf(1995L), "b"),
      (3L, java.lang.Long.valueOf(1996L), "c"), (4L, java.lang.Long.valueOf(1997L), "d"),
      (5L, null.asInstanceOf[java.lang.Long], "e"))
    Lake.commitOverwrite(rows0.toDF("k", "y", "t"), root, retain = 8,
      partitionBy = Seq("y"))
    // one dir per distinct y (1995, 1996, 1997, NULL)
    assert(Lake.resolve(spark, root).length === 4)
    // reads are exactly the input — partition columns stay IN the files
    assert(rows(Lake.readCommitted(spark, root)) ===
      rows0.map(r => Seq(r._1, r._2, r._3)).toSet)
    // equality prunes to ONE dir; the NULL dir is pruned too (stats
    // alone could never prove that)
    val (kept, skipped, _) = Lake.resolveWhere(spark, root, col("y") === 1995L)
    assert(kept.length === 1 && skipped.length === 3)
    assert(rows(Lake.readCommittedWhere(spark, root, col("y") === 1995L)
      .select("k")) === Set(Seq(1L), Seq(2L)))
    // range predicates prune exactly
    val (kept2, skipped2, _) = Lake.resolveWhere(spark, root, col("y") >= 1996L)
    assert(kept2.length === 2 && skipped2.length === 2)
    // NULL tests prune EXACTLY on partition values: IS NULL keeps only
    // the NULL-partition dir, IS NOT NULL prunes it away
    val (kNull, sNull, _) = Lake.resolveWhere(spark, root, col("y").isNull)
    assert(kNull.length === 1 && sNull.length === 3)
    assert(rows(Lake.readCommittedWhere(spark, root, col("y").isNull)
      .select("k")) === Set(Seq(5L)))
    val (kNN, sNN, _) = Lake.resolveWhere(spark, root, col("y").isNotNull)
    assert(kNN.length === 3 && sNN.length === 1)
    assert(rows(Lake.readCommittedWhere(spark, root, col("y").isNotNull)
      .select("k")) === Set(Seq(1L), Seq(2L), Seq(3L), Seq(4L)))

    // appends INHERIT the layout (partitionBy not repeated) and add
    // only their tuples' dirs
    Lake.commitAppend(Seq((6L, java.lang.Long.valueOf(1995L), "f"))
      .toDF("k", "y", "t"), root, retain = 8)
    assert(Lake.resolve(spark, root).length === 5)
    val (kept3, skipped3, _) = Lake.resolveWhere(spark, root, col("y") === 1995L)
    assert(kept3.length === 2 && skipped3.length === 3)
    assert(rows(Lake.readCommittedWhere(spark, root, col("y") === 1995L)
      .select("k")) === Set(Seq(1L), Seq(2L), Seq(6L)))

    // the SQL scan (LakeFileIndex) prunes the same dirs at PLANNING
    val q = Lake.sqlTable(spark, root).where(col("y") === 1995L)
    q.collect()
    val scans = q.queryExecution.executedPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }
    def parquetFilesUnder(paths: Seq[String]): Long = paths.map(p =>
      new java.io.File(p).listFiles().count(_.getName.endsWith(".parquet"))
        .toLong).sum
    val keptPaths = Lake.resolveWhere(spark, root, col("y") === 1995L)._1
    assert(scans.map(_.metrics("numFiles").value).sum ===
      parquetFilesUnder(keptPaths))
    assert(parquetFilesUnder(keptPaths) <
      parquetFilesUnder(Lake.resolve(spark, root)))

    // a re-declaration is FORWARD EVOLUTION now (see the dedicated
    // partition-evolution test): the append stages under the NEW key
    // while old dirs keep pruning on theirs
    val preEvo = Lake.resolve(spark, root).length
    Lake.commitAppend(Seq((9L, 1L, "z")).toDF("k", "y", "t"), root,
      retain = 8, partitionBy = Seq("t"))
    assert(Lake.resolve(spark, root).length === preEvo + 1)
    val (kOld, sOld, _) = Lake.resolveWhere(spark, root, col("y") === 1995L)
    assert(sOld.length >= 3, s"old-generation dirs must still prune, skipped $sOld")
    // a batch MISSING the declared partition column still refuses
    val miss = intercept[IllegalArgumentException] {
      Lake.commitAppend(Seq((10L, 2L)).toDF("k", "y"), root, retain = 8)
    }
    assert(miss.getMessage.contains("partition column"))
  }

  test("partitioned tables compose: COW delete/update, compaction and clone all PRESERVE the layout") {
    val root = tmpTable("graft-lake-part-cow")
    // y = 1995 + k % 4: partition y holds exactly the k ≡ (y-1995) mod 4 slice
    val df = (1L to 40L).map(k => (k, 1995L + k % 4, s"t$k")).toDF("k", "y", "t")
    Lake.commitOverwrite(df, root, retain = 8, partitionBy = Seq("y"),
      statsCols = Seq("k"))
    assert(Lake.resolve(spark, root).length === 4)
    // COW delete: touched dirs re-stage PER PARTITION VALUE with fresh
    // #part_ lines — after the rewrite, a partition predicate still
    // prunes to exactly one dir per value, including the rewritten ones
    Lake.deleteWhere(spark, root, col("k") === 2L, retain = 8,
      dvMaxRows = 0)
    assert(rows(Lake.readCommitted(spark, root).select("k")) ===
      (1L to 40L).filterNot(_ == 2L).map(Seq(_)).toSet)
    val all1 = Lake.resolve(spark, root).length
    val (kept, skipped, _) = Lake.resolveWhere(spark, root, col("y") === 1995L)
    assert(kept.length === 1 && skipped.length === all1 - 1,
      s"layout-preserving rewrite must keep exact pruning; kept=$kept")
    assert(rows(Lake.readCommittedWhere(spark, root, col("y") === 1995L)
      .select("k")) === (1L to 40L).filterNot(_ == 2L).filter(_ % 4 == 0)
        .map(Seq(_)).toSet)
    // COW update MOVING rows BETWEEN partitions: SET y = 1999 WHERE
    // k in the 1996 partition — the re-staging splits by the
    // POST-update values, so the moved rows land in their own pruned dir
    Lake.updateWhere(spark, root, col("y") === 1996L,
      Map("y" -> lit(1999L)), retain = 8, dvMaxRows = 0L)
    assert(rows(Lake.readCommittedWhere(spark, root, col("y") === 1999L)
      .select("k")) === (1L to 40L).filter(_ % 4 == 1).map(Seq(_)).toSet)
    val (k96, _, _) = Lake.resolveWhere(spark, root, col("y") === 1996L)
    assert(k96.isEmpty, "the vacated partition must prune to zero dirs")
    val (k99, s99, _) = Lake.resolveWhere(spark, root, col("y") === 1999L)
    assert(k99.length === 1 && s99.nonEmpty)
    // clone carries the partition metadata: the clone prunes too
    val dst = tmpTable("graft-lake-part-clone")
    Lake.cloneCommitted(spark, root, dst)
    val (kc, sc, _) = Lake.resolveWhere(spark, dst, col("y") === 1999L)
    assert(kc.length === 1 && sc.nonEmpty)
    assert(rows(Lake.readCommittedWhere(spark, dst, col("y") === 1999L)) ===
      rows(Lake.readCommittedWhere(spark, root, col("y") === 1999L)))
    // compaction preserves the layout: per-partition collapse, exact
    // pruning intact, answers unchanged
    Lake.compactCommitted(spark, root, retain = 8)
    assert(rows(Lake.readCommitted(spark, root).select("k")) ===
      (1L to 40L).filterNot(_ == 2L).map(Seq(_)).toSet)
    val allC = Lake.resolve(spark, root).length
    val (kcc, scc, _) = Lake.resolveWhere(spark, root, col("y") === 1995L)
    assert(kcc.length === 1 && scc.length === allC - 1,
      "compaction must preserve partition pruning")
    // an overwrite inherits the layout (partitionBy not repeated)
    Lake.commitOverwrite(df, root, retain = 8)
    val (ko, so, _) = Lake.resolveWhere(spark, root, col("y") === 1997L)
    assert(ko.length === 1 && so.length === 3)
    assert(rows(Lake.readCommittedWhere(spark, root, col("y") === 1997L)
      .select("k")) === (1L to 40L).filter(_ % 4 == 2).map(Seq(_)).toSet)
  }

  test("DELETE of a whole partition is metadata-only: the dir drops from the manifest, no rewrite job, no new dirs") {
    val root = tmpTable("graft-lake-part-drop")
    val rows0 = Seq(
      (1L, java.lang.Long.valueOf(1995L)), (2L, java.lang.Long.valueOf(1996L)),
      (3L, java.lang.Long.valueOf(1997L)), (4L, null.asInstanceOf[java.lang.Long]))
    Lake.commitOverwrite(rows0.toDF("k", "y"), root, retain = 8,
      partitionBy = Seq("y"))
    val before = Lake.resolve(spark, root).map(p => new java.io.File(p).getName).toSet
    assert(before.size === 4)
    // equality on the partition column: the 1996 dir drops by manifest
    // surgery — the surviving dirs are EXACTLY the original ones (no
    // rewrite dir was staged, the untouched-partition proof)
    Lake.deleteWhere(spark, root, col("y") === 1996L, retain = 8)
    val after = Lake.resolve(spark, root).map(p => new java.io.File(p).getName).toSet
    assert(after.subsetOf(before) && (before -- after).size === 1,
      s"expected a pure dir drop; before=$before after=$after")
    assert(rows(Lake.readCommitted(spark, root).select("k")) ===
      Set(Seq(1L), Seq(3L), Seq(4L)))
    // the NULL partition drops metadata-only under IS NULL too
    Lake.deleteWhere(spark, root, col("y").isNull, retain = 8)
    val after2 = Lake.resolve(spark, root).map(p => new java.io.File(p).getName).toSet
    assert(after2.subsetOf(after) && (after -- after2).size === 1)
    assert(rows(Lake.readCommitted(spark, root).select("k")) ===
      Set(Seq(1L), Seq(3L)))
    // a range over the partition column drops every covered partition
    Lake.deleteWhere(spark, root, col("y") >= 1990L, retain = 8)
    assert(rows(Lake.readCommitted(spark, root)).isEmpty)
  }

  test("z-order on a partitioned table is PER PARTITION: dir pruning survives, file ranges bite inside kept dirs") {
    val root = tmpTable("graft-lake-part-zorder")
    val df = (1L to 400L).map(k => (k, 1995L + k % 4)).toDF("k", "y")
    Lake.commitOverwrite(df, root, retain = 8, partitionBy = Seq("y"))
    // Delta's OPTIMIZE ZORDER BY semantics: each partition tuple
    // rewrites into its own clustered dir carrying its exact values —
    // the declared layout never degrades under the rewrite
    Lake.clusterCommitted(spark, root, Seq("y", "k"),
      targetBytes = 1024, retain = 8)
    assert(rows(Lake.readCommittedWhere(spark, root, col("y") === 1995L)
      .select("k")) === (1L to 400L).filter(_ % 4 == 0).map(Seq(_)).toSet)
    // partition-dir pruning SURVIVED: the y predicate drops the other
    // three years' clustered dirs at manifest cost
    val (_, skippedDirs, _) = Lake.resolveWhere(spark, root, col("y") === 1995L)
    assert(skippedDirs.length === 3,
      s"expected the 3 non-matching year dirs skipped, got $skippedDirs")
    assert(rows(Lake.partitionValues(spark, root)) ===
      Set(Seq(1995L, 1L), Seq(1996L, 1L), Seq(1997L, 1L), Seq(1998L, 1L)))
    // and the cluster column's per-file ranges prune INSIDE kept dirs
    val (_, sd2, skippedFiles) = Lake.resolveWhere(spark, root,
      col("y") === 1995L && col("k") <= 20L)
    assert(sd2.length === 3)
    assert(skippedFiles.nonEmpty,
      "clustered file ranges must prune inside the kept partition dir")
    // the layout keeps composing: the next plain append re-partitions
    // its batch and dir pruning covers it too
    Lake.commitAppend(Seq((401L, 1999L)).toDF("k", "y"), root, retain = 8)
    val (k99, s99, _) = Lake.resolveWhere(spark, root, col("y") === 1999L)
    assert(k99.length === 1 && s99.nonEmpty,
      "inherited partition layout must prune the fresh append's dir")
  }

  test("mixed snapshot (q155 shape): partition-value dir pruning AND z-order file skipping fire on ONE predicate in one scan") {
    val root = tmpTable("graft-lake-pz-mixed")
    // even keys: partitioned by y, then z-ordered PER PARTITION (each
    // year dir rewrites clustered with per-file ranges); odd keys:
    // appended AFTER, inheriting the declared partition layout.
    // y derives from k/2 so BOTH parities cover all four years
    val df = (1L to 1600L).map(k => (k, 1995L + (k / 2) % 4, k * 7 % 100))
      .toDF("k", "y", "c")
    Lake.commitOverwrite(df.where(col("k") % 2 === 0), root, retain = 8,
      partitionBy = Seq("y"))
    Lake.clusterCommitted(spark, root, Seq("y", "c"),
      targetBytes = 2048, retain = 8)
    Lake.commitAppend(df.where(col("k") % 2 === 1), root, retain = 8)
    val (kept, skippedDirs, skippedFiles) =
      Lake.resolveWhere(spark, root, col("y") === 1996L && col("c") <= 30L)
    // both mechanisms on one predicate: SIX non-matching year dirs
    // (3 clustered + 3 appended) prune by exact partition value, and
    // the kept clustered dir's files prune by their z-order ranges
    assert(skippedDirs.length === 6,
      s"expected the 6 non-matching year dirs skipped, got $skippedDirs")
    assert(skippedFiles.nonEmpty,
      "expected z-order file ranges to skip inside the kept clustered dir")
    assert(kept.nonEmpty)
    // and the answer is exact
    assert(rows(Lake.readCommittedWhere(spark, root,
        col("y") === 1996L && col("c") <= 30L).select("k")) ===
      (1L to 1600L)
        .filter(k => 1995L + (k / 2) % 4 == 1996L && k * 7 % 100 <= 30)
        .map(Seq(_)).toSet)
  }

  test("CHECK constraints: add validates existing rows, every row-introducing commit gates its batch, drop lifts") {
    val root = tmpTable("graft-lake-check")
    Lake.commitOverwrite(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"), root,
      retain = 8)
    // adding a constraint the existing rows violate refuses (Delta's
    // ADD CONSTRAINT rule), with the violation count named
    val pre = intercept[IllegalArgumentException] {
      Lake.addCheckConstraint(spark, root, "v_big", "v > 15.0")
    }
    assert(pre.getMessage.contains("1 existing rows violate"))
    Lake.addCheckConstraint(spark, root, "v_pos", "v > 0.0")
    assert(Lake.checkConstraints(spark, root) === Seq("v_pos" -> "v > 0.0"))
    intercept[IllegalArgumentException] {
      Lake.addCheckConstraint(spark, root, "v_pos", "v > 1.0") // dup name
    }
    // a violating APPEND refuses before anything stages — no orphan
    // dirs, table unchanged
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    val dirsBefore = fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .filter(_.isDirectory).map(_.getPath.getName).toSet
    val bad = intercept[IllegalArgumentException] {
      Lake.commitAppend(Seq((3L, -1.0)).toDF("k", "v"), root, retain = 8)
    }
    assert(bad.getMessage.contains("v_pos") &&
      bad.getMessage.contains("1 rows violate"))
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(root))
      .filter(_.isDirectory).map(_.getPath.getName).toSet === dirsBefore)
    assert(rows(Lake.readCommitted(spark, root)) ===
      Set(Seq(1L, 10.0), Seq(2L, 20.0)))
    // SQL CHECK NULL semantics: a NULL expression PASSES
    Lake.commitAppend(
      Seq(4L).toDF("k").withColumn("v", lit(null).cast("double")),
      root, retain = 8)
    assert(Lake.readCommitted(spark, root).count() === 3L)
    // a COW UPDATE cannot write a violating post-image either
    val badUpd = intercept[IllegalArgumentException] {
      Lake.updateWhere(spark, root, col("k") === 1L,
        Map("v" -> lit(-5.0)), retain = 8)
    }
    assert(badUpd.getMessage.contains("v_pos"))
    // neither can a CDC merge's winning upserts
    intercept[IllegalArgumentException] {
      Lake.mergeCommitted(spark, root,
        Seq((2L, -9.0, 1L, false)).toDF("k", "v", "ver", "del"),
        Seq("k"), "ver", "del", retain = 8)
    }
    // predicate DELETE skips validation (a row subset cannot violate)
    Lake.deleteWhere(spark, root, col("k") === 4L, retain = 8)
    // drop lifts the gate
    Lake.dropCheckConstraint(spark, root, "v_pos")
    Lake.commitAppend(Seq((5L, -1.0)).toDF("k", "v"), root, retain = 8)
    assert(rows(Lake.readCommitted(spark, root)) ===
      Set(Seq(1L, 10.0), Seq(2L, 20.0), Seq(5L, -1.0)))
  }

  test("NOT NULL via CHECK: null-carrying AND column-omitting batches both refuse") {
    val root = tmpTable("graft-lake-notnull")
    Lake.commitOverwrite(Seq((1L, "en"), (2L, "fr")).toDF("k", "lang"), root,
      retain = 8)
    Lake.addCheckConstraint(spark, root, "lang_present", "lang IS NOT NULL")
    // a batch carrying NULL lang refuses (plain CHECK machinery)
    val nullEx = intercept[IllegalArgumentException] {
      Lake.commitAppend(
        Seq(3L).toDF("k").withColumn("lang", lit(null).cast("string")),
        root, retain = 8)
    }
    assert(nullEx.getMessage.contains("lang_present"))
    // a batch OMITTING lang entirely refuses TOO: schema evolution
    // would NULL-backfill it, which the constraint forbids — the
    // refusal names the constraint instead of failing to resolve
    val omitEx = intercept[IllegalArgumentException] {
      Lake.commitAppend(Seq(Tuple1(4L)).toDF("k"), root, retain = 8)
    }
    assert(omitEx.getMessage.contains("lang_present") &&
      omitEx.getMessage.contains("lang IS NOT NULL"))
    assert(rows(Lake.readCommitted(spark, root)) ===
      Set(Seq(1L, "en"), Seq(2L, "fr")))
    // a batch omitting a column under a NON-null-rejecting constraint
    // still evolves fine (NULL passes SQL CHECK semantics): adding a
    // new column the constraint never mentions is unaffected
    Lake.commitAppend(Seq((5L, "de", 1.0)).toDF("k", "lang", "score"),
      root, retain = 8)
    Lake.commitAppend(Seq((6L, "es")).toDF("k", "lang"), root, retain = 8)
    assert(Lake.readCommitted(spark, root).count() === 4L)
  }

  test("incremental compaction (minBytes): small dirs bin-pack, compacted history carries by reference") {
    val root = tmpTable("graft-lake-inc-compact")
    // one BIG dir (the already-compacted history) + three appendlets
    Lake.commitOverwrite((1L to 5000L).map(k => (k, s"v$k")).toDF("k", "t"),
      root, retain = 8)
    (5001L to 5003L).foreach { k =>
      Lake.commitAppend(Seq((k, s"v$k")).toDF("k", "t"), root, retain = 8)
      ()
    }
    val before = Lake.snapshotDirNames(spark, root,
      Lake.currentVersion(spark, root).get).toSet
    assert(before.size === 4)
    val bigDir = Lake.snapshotDirNames(spark, root, 0L).head
    // bin-pack only the appendlets: the big dir is NEVER read
    val v = Lake.compactCommitted(spark, root, retain = 8,
      minBytes = 16 * 1024)
    val after = Lake.snapshotDirNames(spark, root, v).toSet
    assert(after.contains(bigDir), "compacted history must carry by reference")
    assert(after.size === 2, s"three appendlets collapse to one dir: $after")
    assert(Lake.readCommitted(spark, root).count() === 5003L)
    // already compact: re-running is a version-stable no-op
    assert(Lake.compactCommitted(spark, root, retain = 8,
      minBytes = 16 * 1024) === v)
  }

  test("restoreCommitted: one-manifest rollback — dirs by reference, history preserved, feed exact, refusals loud") {
    val root = tmpTable("graft-lake-restore")
    Lake.commitOverwrite(Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"), root,
      retain = 8, rowCount = Some(2L))                               // v0
    Lake.updateWhere(spark, root, col("k") === 2L,
      Map("v" -> lit(99.0)), retain = 8)                             // v1
    Lake.deleteWhere(spark, root, col("k") === 1L, retain = 8)      // v2
    assert(rows(Lake.readCommitted(spark, root)) === Set(Seq(2L, 99.0)))
    val v0dirs = Lake.snapshotDirNames(spark, root, 0L).toSet
    // restore: the bad edits roll back in ONE manifest write — the
    // restored snapshot references v0's dirs verbatim, zero data I/O
    val v3 = Lake.restoreCommitted(spark, root, 0L, retain = 8)
    assert(v3 === 3L)
    assert(Lake.snapshotDirNames(spark, root, v3).toSet === v0dirs)
    assert(rows(Lake.readCommitted(spark, root)) ===
      Set(Seq(1L, 10.0), Seq(2L, 20.0)))
    // history preserved, not rewritten: the restore is an audited op
    // and the bad versions stay time-travelable behind it
    val hist = Lake.describeHistory(spark, root).collect()
      .map(r => (r.getLong(0), r.getString(2))).toMap
    assert(hist(3L) === "restore v0")
    assert(rows(Lake.readCommittedAt(spark, root, 2L)) === Set(Seq(2L, 99.0)))
    // the change feed across the restore emits the exact revival:
    // k=1 comes back, k=2 flips 99 -> 20 (both images)
    val feed = Lake.changesBetween(spark, root, 2L, 3L, Seq("k"))
      .collect().map(r => (r.getLong(0), r.getString(2))).toSet
    assert(feed === Set((1L, "insert"),
      (2L, "update_preimage"), (2L, "update_postimage")))
    // metadata count carried from the restored version
    assert(Lake.countCommitted(spark, root) === Some(2L))
    // no-op: restoring the live snapshot returns it unchanged
    assert(Lake.restoreCommitted(spark, root, 3L) === 3L)
    // a version outside the readable horizon refuses, naming it
    intercept[java.util.NoSuchElementException] {
      Lake.restoreCommitted(spark, root, 99L)
    }
    // CHECK constraints restore WITH the data: a constraint added
    // AFTER the target version was never validated against its rows
    // and must not silently claim to hold over them
    Lake.addCheckConstraint(spark, root, "v_pos", "v > 0.0",
      retain = 8)                                                    // v4
    Lake.restoreCommitted(spark, root, 0L, retain = 8)               // v5
    assert(Lake.checkConstraints(spark, root).isEmpty)
    // a bucket-layout change across the restore range refuses: v0's
    // dirs lack the naming the current contract requires
    Lake.commitOverwrite(Seq((5L, 1.0)).toDF("k", "v"), root, retain = 8,
      bucketBy = Some((4, Seq("k"))))
    val e = intercept[IllegalArgumentException] {
      Lake.restoreCommitted(spark, root, 0L, retain = 8)
    }
    assert(e.getMessage.contains("bucket layout changed"))
  }

  test("OPTIMIZE WHERE: only in-scope dirs rewrite, the cold history carries by reference, rows always preserved") {
    val root = tmpTable("graft-lake-optwhere")
    val df = (1L to 800L).map(k => (k, 1995L + k % 4)).toDF("k", "y")
    // two fragmented appends per year: 8 dirs
    Lake.commitOverwrite(df.where(col("k") <= 400L), root, retain = 8,
      partitionBy = Seq("y"))
    Lake.commitAppend(df.where(col("k") > 400L), root, retain = 8)
    val before = Lake.snapshotDirNames(spark, root,
      Lake.currentVersion(spark, root).get).toSet
    assert(before.size === 8)
    // scope the rewrite to one year: its two dirs collapse into one
    // clustered dir; the OTHER SIX dirs carry by reference (same
    // names in the new manifest — the cold history is never read)
    val v = Lake.clusterCommitted(spark, root, Seq("y", "k"),
      targetBytes = 1024, retain = 8,
      where = Some(col("y") === 1996L))
    val after = Lake.snapshotDirNames(spark, root, v).toSet
    val carried = before.intersect(after)
    assert(carried.size === 6, s"expected 6 carried dirs, got $carried")
    assert((after -- carried).size === 1, "one fresh clustered dir for 1996")
    assert(rows(Lake.partitionValues(spark, root)) ===
      Set(Seq(1995L, 2L), Seq(1996L, 1L), Seq(1997L, 2L), Seq(1998L, 2L)))
    // row multiset untouched (the predicate scopes FILES, never rows)
    assert(Lake.readCommitted(spark, root).count() === 800L)
    assert(rows(Lake.readCommittedWhere(spark, root, col("y") === 1996L)
      .select("k")) === (1L to 800L).filter(_ % 4 == 1).map(Seq(_)).toSet)
    // the fresh dir's file ranges bite: a k-range inside 1996 skips
    val (_, sd, sf) = Lake.resolveWhere(spark, root,
      col("y") === 1996L && col("k") <= 40L)
    assert(sd.length === 6 && sf.nonEmpty,
      s"expected 6 dirs + some files skipped, got dirs=$sd files=$sf")
    // an out-of-scope predicate is a no-op: same version back
    assert(Lake.clusterCommitted(spark, root, Seq("y", "k"),
      where = Some(col("y") === 2050L)) === v)
    // guards: a typo'd column or an un-prunable shape would silently
    // rewrite the whole table — both refuse loudly
    val typo = intercept[IllegalArgumentException] {
      Lake.clusterCommitted(spark, root, Seq("y", "k"),
        where = Some(col("nope") === 1L))
    }
    assert(typo.getMessage.contains("not in the committed schema"))
    val orTree = intercept[IllegalArgumentException] {
      Lake.clusterCommitted(spark, root, Seq("y", "k"),
        where = Some(col("y") === 1996L || col("k") === 1L))
    }
    assert(orTree.getMessage.contains("no prunable conjunct"))
  }

  // (value-less dirs excluded from the report is pinned by the
  // maintenance-fallback test above: the over-cap rewrite's dir
  // carries no #part_ line and partitionValues lists nothing)
  test("partitionValues: manifest-only layout report — NULL tuple included, per-partition z-order keeps values, unpartitioned refused") {
    val root = tmpTable("graft-lake-part-show")
    val rows0 = Seq(
      (1L, java.lang.Long.valueOf(1995L)), (2L, java.lang.Long.valueOf(1995L)),
      (3L, java.lang.Long.valueOf(1996L)), (4L, null.asInstanceOf[java.lang.Long]))
    Lake.commitOverwrite(rows0.toDF("k", "y"), root, retain = 8,
      partitionBy = Seq("y"))
    Lake.commitAppend(Seq((5L, java.lang.Long.valueOf(1995L))).toDF("k", "y"),
      root, retain = 8)
    assert(rows(Lake.partitionValues(spark, root)) ===
      Set(Seq(1995L, 2L), Seq(1996L, 1L), Seq(null, 1L)))
    // z-order is per-partition: each tuple (including the NULL one)
    // collapses to ONE clustered dir that keeps its exact values
    Lake.clusterCommitted(spark, root, Seq("k"), targetBytes = 2048,
      retain = 8)
    assert(rows(Lake.partitionValues(spark, root)) ===
      Set(Seq(1995L, 1L), Seq(1996L, 1L), Seq(null, 1L)))
    // unpartitioned tables refuse (there is no layout to report)
    val plain = tmpTable("graft-lake-part-show-plain")
    Lake.commitOverwrite(Seq((1L, "a")).toDF("k", "t"), plain, retain = 8)
    val e = intercept[IllegalArgumentException] {
      Lake.partitionValues(spark, plain)
    }
    assert(e.getMessage.contains("no partition columns"))
  }

  test("DATE-typed partition columns: prune on date predicates, round-trip through partitionValues") {
    val root = tmpTable("graft-lake-part-date")
    val d = java.sql.Date.valueOf(_: String)
    val df = Seq(
      (1L, d("2026-01-01")), (2L, d("2026-01-01")),
      (3L, d("2026-01-02")), (4L, d("2026-01-03")))
      .toDF("k", "day")
    Lake.commitOverwrite(df, root, retain = 8, partitionBy = Seq("day"))
    assert(Lake.resolve(spark, root).length === 3)
    // equality and ranges on the date prune exactly (normalized via
    // the catalyst day number, the same order parquet stats use)
    val (k1, s1, _) = Lake.resolveWhere(spark, root,
      col("day") === lit(d("2026-01-01")))
    assert(k1.length === 1 && s1.length === 2)
    assert(rows(Lake.readCommittedWhere(spark, root,
      col("day") >= lit(d("2026-01-02"))).select("k")) ===
      Set(Seq(3L), Seq(4L)))
    // the layout report decodes back to java.sql.Date
    assert(rows(Lake.partitionValues(spark, root)) ===
      Set(Seq(d("2026-01-01"), 1L), Seq(d("2026-01-02"), 1L),
        Seq(d("2026-01-03"), 1L)))
    // whole-day retention DELETE is metadata-only
    val before = Lake.resolve(spark, root).map(p => new java.io.File(p).getName).toSet
    Lake.deleteWhere(spark, root, col("day") < lit(d("2026-01-02")), retain = 8)
    val after = Lake.resolve(spark, root).map(p => new java.io.File(p).getName).toSet
    assert(after.subsetOf(before) && (before -- after).size === 1)
    assert(rows(Lake.readCommitted(spark, root).select("k")) ===
      Set(Seq(3L), Seq(4L)))
  }

  test("partitioned tables compose with schema evolution and the change feed") {
    val root = tmpTable("graft-lake-part-evo")
    Lake.commitOverwrite(
      Seq((1L, 1995L), (2L, 1996L)).toDF("k", "y"), root, retain = 8,
      partitionBy = Seq("y"))
    // an EVOLVED append (new nullable column) still stages per value;
    // old dirs read NULL-backfilled
    Lake.commitAppend(
      Seq((3L, 1995L, "x")).toDF("k", "y", "extra"), root, retain = 8)
    assert(rows(Lake.readCommitted(spark, root)) ===
      Set(Seq(1L, 1995L, null), Seq(2L, 1996L, null), Seq(3L, 1995L, "x")))
    val (kept, skipped, _) = Lake.resolveWhere(spark, root, col("y") === 1995L)
    assert(kept.length === 2 && skipped.length === 1)
    // the row-level change feed sees a whole-partition metadata drop
    // as exact per-row deletes (the feed diffs snapshots by key — the
    // physical shortcut is invisible to consumers)
    val v = Lake.deleteWhere(spark, root, col("y") === 1995L, retain = 8)
    assert(rows(Lake.changesBetween(spark, root, v - 1, v, Seq("k"))
      .select(col("k"), col("change_type"))) ===
      Set(Seq(1L, "delete"), Seq(3L, "delete")))
  }

  test("readCommittedDimPruned: the dim's keys prune fact dirs before the join plans; caps and empties behave") {
    val root = tmpTable("graft-lake-dimprune")
    val df = (1L to 40L).map(k => (k, 1995L + k % 4)).toDF("k", "y")
    Lake.commitOverwrite(df, root, retain = 8, partitionBy = Seq("y"))
    // two dim keys -> exactly two partition dirs read
    val dim = Seq(1995L, 1997L).toDF("y")
    val fact = Lake.readCommittedDimPruned(spark, root, "y", dim)
    assert(rows(fact.select("k")) ===
      (1L to 40L).filter(k => k % 4 == 0 || k % 4 == 2).map(Seq(_)).toSet)
    val (kept, skipped, _) = Lake.resolveWhere(spark, root,
      col("y").isin(1995L, 1997L))
    assert(kept.length === 2 && skipped.length === 2)
    // NULL dim keys never match (join semantics); empty dim -> empty
    // fact with the table schema, zero dirs read
    val withNull = Seq(java.lang.Long.valueOf(1995L),
      null.asInstanceOf[java.lang.Long]).toDF("y")
    assert(Lake.readCommittedDimPruned(spark, root, "y", withNull)
      .count() === 10)
    val empty = Lake.readCommittedDimPruned(spark, root, "y",
      spark.emptyDataFrame.select(lit(1L).as("y")).limit(0))
    assert(empty.isEmpty && empty.columns.toSeq === Seq("k", "y"))
    // an over-cap key set refuses, naming the full-scan alternative
    val big = (1L to 50L).toDF("y")
    val e = intercept[IllegalArgumentException] {
      Lake.readCommittedDimPruned(spark, root, "y", big, maxKeys = 10)
    }
    assert(e.getMessage.contains("would not prune"))
  }

  test("Lake.mergeInto programmatic API: clause order, insert conditions, no-op short-circuit, require gates") {
    import graft.sources.{LakeMergeDelete, LakeMergeInsert, LakeMergeUpdate}
    val root = tmpTable("graft-lake-mergeinto")
    Lake.commitOverwrite(
      Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "v"), root, retain = 8)
    val src = Seq((2L, 200.0), (3L, 5.0), (9L, 90.0), (10L, 1.0))
      .toDF("sk", "sv")
    // first-matching-clause order: DELETE (sv >= 100) outranks UPDATE;
    // conditional INSERT admits only sv >= 50
    val v = Lake.mergeInto(spark, root, src,
      on = Seq((col("t.k"), col("sk"))),
      matched = Seq(
        LakeMergeDelete(Some(col("s.sv") >= 100.0)),
        LakeMergeUpdate(None, Map("v" -> (col("t.v") + col("s.sv"))))),
      notMatched = Seq(
        LakeMergeInsert(Some(col("s.sv") >= 50.0),
          Map("k" -> col("s.sk"), "v" -> col("s.sv")))))
    assert(rows(Lake.readCommitted(spark, root)) ===
      Set(Seq(1L, 10.0), Seq(3L, 35.0), Seq(9L, 90.0)))
    // a merge that matches nothing and inserts nothing is a NO-OP:
    // the version does not advance
    val v2 = Lake.mergeInto(spark, root,
      Seq((77L, 1.0)).toDF("sk", "sv"),
      on = Seq((col("t.k"), col("sk"))),
      matched = Seq(LakeMergeDelete(None)))
    assert(v2 === v)
    // require gates: some clause, some ON pair
    intercept[IllegalArgumentException] {
      Lake.mergeInto(spark, root, src, on = Seq((col("t.k"), col("sk"))))
    }
    intercept[IllegalArgumentException] {
      Lake.mergeInto(spark, root, src, on = Nil,
        matched = Seq(LakeMergeDelete(None)))
    }
  }

  test("multi-column partitions: one dir per tuple, single-column predicates prune across the other dimension") {
    val root = tmpTable("graft-lake-part-multi")
    val df = Seq(
      (1L, 1995L, "en"), (2L, 1995L, "fr"),
      (3L, 1996L, "en"), (4L, 1996L, "fr"), (5L, 1996L, "fr"))
      .toDF("k", "y", "lang")
    Lake.commitOverwrite(df, root, retain = 8, partitionBy = Seq("y", "lang"))
    assert(Lake.resolve(spark, root).length === 4) // 4 distinct tuples
    assert(rows(Lake.partitionValues(spark, root)) ===
      Set(Seq(1995L, "en", 1L), Seq(1995L, "fr", 1L),
        Seq(1996L, "en", 1L), Seq(1996L, "fr", 1L)))
    // a predicate on ONE partition column prunes across the other
    val (kLang, sLang, _) = Lake.resolveWhere(spark, root, col("lang") === "fr")
    assert(kLang.length === 2 && sLang.length === 2)
    // conjunct on both pins the single tuple dir
    val (kBoth, sBoth, _) = Lake.resolveWhere(spark, root,
      col("y") === 1996L && col("lang") === "fr")
    assert(kBoth.length === 1 && sBoth.length === 3)
    assert(rows(Lake.readCommittedWhere(spark, root,
      col("y") === 1996L && col("lang") === "fr").select("k")) ===
      Set(Seq(4L), Seq(5L)))
    // whole-tuple DELETE is metadata-only
    val before = Lake.resolve(spark, root).map(p => new java.io.File(p).getName).toSet
    Lake.deleteWhere(spark, root,
      col("y") === 1995L && col("lang") === "en", retain = 8)
    val after = Lake.resolve(spark, root).map(p => new java.io.File(p).getName).toSet
    assert(after.subsetOf(before) && (before -- after).size === 1)
  }

  test("partitioned OCC: a losing overwrite deletes EVERY staged partition dir") {
    val root = tmpTable("graft-lake-part-occ")
    Lake.commitOverwrite(Seq((1L, 10L)).toDF("k", "y"), root, retain = 8,
      partitionBy = Seq("y"))
    raceOnce {
      Lake.commitAppend(Seq((2L, 20L)).toDF("k", "y"), root, retain = 8)
      ()
    }
    intercept[java.util.ConcurrentModificationException] {
      Lake.commitOverwrite(Seq((3L, 30L), (4L, 40L)).toDF("k", "y"), root,
        retain = 8)
    }
    // the loser's two staged partition dirs are gone: live dirs =
    // winner's three (v0's 10, the raced append's 20) and no orphans
    val live = Lake.resolve(spark, root).toSet
    val onDisk = new java.io.File(root).listFiles().filter(_.isDirectory)
      .map(_.getName).toSet
    assert(onDisk === live.map(p => new java.io.File(p).getName))
    assert(rows(Lake.readCommitted(spark, root)) ===
      Set(Seq(1L, 10L), Seq(2L, 20L)))
  }

  test("mergeInto bySource-only: duplicate source keys are legal — no spurious cardinality raise, no row duplication") {
    import graft.sources.{LakeMergeDelete, LakeMergeUpdate}
    val root = tmpTable("graft-lake-bysrc")
    Lake.commitOverwrite(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "t"), root)
    // source carries key 2 THREE times: a bySource-only merge keeps
    // matched rows verbatim (presence is all that matters), deletes
    // the unmatched — previously this raised a spurious cardinality
    // violation, and without the raise would have tripled row 2
    Lake.mergeInto(spark, root, Seq(2L, 2L, 2L).toDF("sk"),
      on = Seq((col("t.k"), col("sk"))),
      notMatchedBySource = Seq(LakeMergeDelete(None)))
    val kept = Lake.readCommitted(spark, root).collect()
    assert(kept.map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((2L, "b")))
    // bySource UPDATE form over duplicate keys: target row untouched
    // (matched), so still exactly one copy
    Lake.mergeInto(spark, root, Seq(99L, 99L).toDF("sk"),
      on = Seq((col("t.k"), col("sk"))),
      notMatchedBySource =
        Seq(LakeMergeUpdate(None, Map("t" -> lit("stale")))))
    val upd = Lake.readCommitted(spark, root).collect()
    assert(upd.map(r => (r.getLong(0), r.getString(1))).toSeq ===
      Seq((2L, "stale")))
    // WITH a matched clause the ambiguity is real and must still raise
    val boom = intercept[Exception] {
      Lake.mergeInto(spark, root, Seq(2L, 2L).toDF("sk"),
        on = Seq((col("t.k"), col("sk"))),
        matched = Seq(LakeMergeUpdate(None, Map("t" -> lit("x")))))
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e =>
        Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(messages(boom).exists(_.contains("cardinality")))
  }

  test("merge probe collects at DIR granularity: many files per dir still yield one probe row per dir") {
    // 900 file paths across 3 dirs: the executor-side aggregate hands
    // the driver exactly the 3 dir names, never the 900 file rows
    val files = (0 until 900).map(i =>
      s"file:/lake/t/dir${i % 3}/part-${"%05d".format(i)}.parquet")
    val probed = Lake.probeDirNames(files.toDF("__file"))
    assert(probed === Set("dir0", "dir1", "dir2"))
  }

  test("maintenance rewrites over an accumulated >cap layout fall back to unpartitioned dirs; appends still refuse and stage nothing") {
    val prev = Lake.stageTupleCap
    Lake.stageTupleCap = 5
    try {
      val root = tmpTable("graft-lake-capfb")
      def batch(ps: Range) =
        ps.map(p => (p.toLong, p.toLong * 10)).toDF("p", "v")
      // two appends of 4 partitions each: 8 accumulated tuples — each
      // BATCH is under the cap, the TABLE is over it
      Lake.commitOverwrite(batch(0 until 4), root, partitionBy = Seq("p"))
      Lake.commitAppend(batch(4 until 8), root)
      assert(Lake.partitionValues(spark, root).count() === 8L)
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
      def dataDirs(): Set[String] =
        fs.listStatus(new org.apache.hadoop.fs.Path(root))
          .filter(_.isDirectory).map(_.getPath.getName).toSet
      // a single APPEND batch with 6 distinct tuples still refuses —
      // and the refusal happens before any dir is staged (no orphans)
      val before = dataDirs()
      val e = intercept[IllegalArgumentException] {
        Lake.commitAppend(batch(10 until 16), root)
      }
      assert(e.getMessage.contains("distinct"))
      assert(dataDirs() === before)
      // a whole-snapshot MAINTENANCE rewrite (8 tuples > cap 5) now
      // succeeds by falling back to one unpartitioned dir: pruning
      // degrades for the rewritten slice, correctness does not
      Lake.updateWhere(spark, root, col("p") >= 0L,
        Map("v" -> (col("v") + 1L)), dvMaxRows = 0L)
      assert(rows(Lake.readCommitted(spark, root)) ===
        (0 until 8).map(p => Seq(p.toLong, p * 10L + 1)).toSet)
      // the fallback dir carries no #part_ line → no live tuples listed
      assert(Lake.partitionValues(spark, root).isEmpty)
      // compaction over the same >cap layout also succeeds
      Lake.compactCommitted(spark, root)
      assert(rows(Lake.readCommitted(spark, root)) ===
        (0 until 8).map(p => Seq(p.toLong, p * 10L + 1)).toSet)
    } finally Lake.stageTupleCap = prev
  }

  test("partition staging refusals leave no orphan dirs; partition column grammar and NTZ values are validated/decoded") {
    // a NaN float partition value cannot normalize: the refusal fires
    // BEFORE any per-tuple dir is written
    val root = tmpTable("graft-lake-nan")
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    intercept[IllegalArgumentException] {
      Lake.commitOverwrite(Seq((Float.NaN, 1L), (1.0f, 2L)).toDF("p", "v"),
        root, partitionBy = Seq("p"))
    }
    assert(Lake.currentVersion(spark, root).isEmpty)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(root)) ||
      fs.listStatus(new org.apache.hadoop.fs.Path(root))
        .forall(!_.isDirectory))
    // a partition column name that would corrupt the one-line manifest
    // grammar refuses up front (same guard as stats/bloom columns)
    val root2 = tmpTable("graft-lake-badname")
    val bad = Seq((1L, 2L)).toDF("k", "a,b")
    val e = intercept[IllegalArgumentException] {
      Lake.commitOverwrite(bad, root2, partitionBy = Seq("a,b"))
    }
    assert(e.getMessage.contains("may not contain"))
    // TimestampNTZ partitions: values decode to LocalDateTime (the NTZ
    // row converter's required external type), not java.sql.Timestamp
    val root3 = tmpTable("graft-lake-ntz")
    val ntz = Seq("2024-01-01 00:00:00", "2024-01-02 00:00:00")
      .toDF("s").select(to_timestamp_ntz(col("s")).as("d"), lit(1L).as("v"))
    Lake.commitOverwrite(ntz, root3, partitionBy = Seq("d"))
    val vals = Lake.partitionValues(spark, root3).collect()
    assert(vals.length === 2)
    assert(vals.forall(_.get(0).isInstanceOf[java.time.LocalDateTime]))
    assert(vals.map(_.get(0).toString).sorted.toSeq ===
      Seq("2024-01-01T00:00", "2024-01-02T00:00"))
  }

  test("partition evolution (forward-only): day→hour re-declare, both generations prune on their own keys, OPTIMIZE migrates") {
    val root = tmpTable("graft-lake-partevo")
    // generation 1: DAY-partitioned
    Lake.commitOverwrite(
      Seq((1L, 10L, "a"), (2L, 10L, "b"), (3L, 11L, "c")).toDF("k", "day", "t"),
      root, retain = 8, partitionBy = Seq("day"))
    assert(Lake.resolve(spark, root).length === 2)
    // EVOLVE: future commits partition by HOUR (schema gains the
    // column via ordinary evolution; old dirs keep their day tuples)
    Lake.commitAppend(
      Seq((4L, 12L, 5L, "d"), (5L, 12L, 6L, "e")).toDF("k", "day", "hour", "t"),
      root, retain = 8, partitionBy = Seq("hour"))
    assert(Lake.resolve(spark, root).length === 4) // 2 day + 2 hour dirs
    // prune on DAY: old generation exact (day=11 dropped), new
    // generation KEPT (no day tuple — honest degrade to scan)
    val (kD, sD, _) = Lake.resolveWhere(spark, root, col("day") === 10L)
    assert(kD.length === 3 && sD.length === 1)
    assert(rows(Lake.readCommittedWhere(spark, root, col("day") === 10L)
      .select("k")) === Set(Seq(1L), Seq(2L)))
    // prune on HOUR: new generation exact, old generation kept —
    // and old rows read hour NULL, so results stay right
    val (kH, sH, _) = Lake.resolveWhere(spark, root, col("hour") === 5L)
    assert(kH.length === 3 && sH.length === 1)
    assert(rows(Lake.readCommittedWhere(spark, root, col("hour") === 5L)
      .select("k")) === Set(Seq(4L)))
    // further appends stage under the CURRENT declaration without
    // re-passing partitionBy
    Lake.commitAppend(Seq((6L, 13L, 5L, "f")).toDF("k", "day", "hour", "t"),
      root, retain = 8)
    val (kH2, _, _) = Lake.resolveWhere(spark, root, col("hour") === 5L)
    assert(rows(Lake.readCommittedWhere(spark, root, col("hour") === 5L)
      .select("k")) === Set(Seq(4L), Seq(6L)))
    // time travel: the pre-evolution snapshot still reads and prunes
    // under its own declaration
    assert(rows(Lake.readCommittedAt(spark, root, 0).select("k")) ===
      Set(Seq(1L), Seq(2L), Seq(3L)))
    // OPTIMIZE migrates the OLD generation to the new layout: the
    // compaction re-stages every dir under the current declaration,
    // old rows land in the hour=NULL dir, and hour pruning turns
    // EXACT across the whole table (the NULL dir is pruned by any
    // comparison — partition semantics, not stats)
    Lake.compactCommitted(spark, root, retain = 8,
      minBytes = 1024L * 1024 * 1024)
    val (kH3, sH3, _) = Lake.resolveWhere(spark, root, col("hour") === 5L)
    assert(kH3.length === 1,
      s"post-OPTIMIZE hour prune should keep exactly the hour=5 dir, kept $kH3")
    assert(sH3.length >= 2)
    assert(rows(Lake.readCommittedWhere(spark, root, col("hour") === 5L)
      .select("k")) === Set(Seq(4L), Seq(6L)))
    assert(rows(Lake.readCommitted(spark, root).select("k")) ===
      Set(Seq(1L), Seq(2L), Seq(3L), Seq(4L), Seq(5L), Seq(6L)))
  }

  test("OR-disjunct data skipping: stats ranges, partition tuples and file stats prune through OR") {
    import org.apache.spark.sql.functions.col
    // ten ordered appends: dir i holds k in [i*10, i*10+10)
    val root = tmpTable("graft-lake-orprune")
    (0L until 10L).foreach { b =>
      Lake.commitAppend(
        (b * 10L until (b + 1) * 10L).map(k => (k, s"r$k")).toDF("k", "t"),
        root, retain = 0, rowCount = Some(10L), statsCols = Seq("k"))
      ()
    }
    // OR of two prunable ranges: only the two edge dirs survive
    val pOr = col("k") < 10L || col("k") >= 90L
    val (kept, skippedDirs, _) = Lake.resolveWhere(spark, root, pOr)
    assert(skippedDirs.size === 8,
      s"expected 8 middle dirs skipped, got ${skippedDirs.size}")
    assert(kept.size === 2)
    assert(rows(Lake.readCommittedWhere(spark, root, pOr).select("k")) ===
      ((0L until 10L) ++ (90L until 100L)).map(Seq(_)).toSet)
    // OR nested under AND keeps pruning: t is unprunable but the
    // conjunct (k<10 OR k>=90) still drops the middle dirs
    val pMix = (col("k") < 10L || col("k") >= 90L) && col("t").startsWith("r")
    assert(Lake.resolveWhere(spark, root, pMix)._2.size === 8)
    // an OR with an UNPRUNABLE side keeps every dir (each dir might
    // hold a matching row on the side stats can't see)
    val pWeak = col("k") < 10L || col("t") === "r55"
    assert(Lake.resolveWhere(spark, root, pWeak)._2.isEmpty)
    assert(rows(Lake.readCommittedWhere(spark, root, pWeak).select("k")) ===
      ((0L until 10L) :+ 55L).map(Seq(_)).toSet)
    // three-way OR prunes to exactly the three hit dirs
    val p3 = col("k") === 5L || col("k") === 55L || col("k") === 95L
    assert(Lake.resolveWhere(spark, root, p3)._2.size === 7)

    // partition tuples prune through OR: the everyday dashboard
    // predicate `region = 'EU' OR region = 'US'`
    val proot = tmpTable("graft-lake-orprune-part")
    Lake.commitOverwrite(
      Seq(("EU", 1L), ("US", 2L), ("APAC", 3L), ("LATAM", 4L))
        .toDF("region", "v"),
      proot, retain = 8, partitionBy = Seq("region"))
    val pReg = col("region") === "EU" || col("region") === "US"
    val (kp, sp, _) = Lake.resolveWhere(spark, proot, pReg)
    assert(sp.size === 2 && kp.size === 2)
    assert(rows(Lake.readCommittedWhere(spark, proot, pReg)
      .select("v")) === Set(Seq(1L), Seq(2L)))
    // IS NULL OR comparison: partition tuples answer NULL tests
    val nroot = tmpTable("graft-lake-orprune-null")
    Lake.commitOverwrite(
      Seq((Option.empty[String], 1L), (Some("a"), 2L), (Some("b"), 3L))
        .toDF("p", "v"),
      nroot, retain = 8, partitionBy = Seq("p"))
    val pNull = col("p").isNull || col("p") === "b"
    assert(Lake.resolveWhere(spark, nroot, pNull)._2.size === 1)
    assert(rows(Lake.readCommittedWhere(spark, nroot, pNull).select("v")) ===
      Set(Seq(1L), Seq(3L)))

    // NOT prunes through De Morgan + exact leaf inversion:
    // NOT(k < 90) = k >= 90 keeps only the last dir
    assert(Lake.resolveWhere(spark, root, !(col("k") < 90L))._2.size === 9)
    assert(rows(Lake.readCommittedWhere(spark, root, !(col("k") < 90L))
      .select("k")) === (90L until 100L).map(Seq(_)).toSet)
    // NOT(a OR b) = NOT a AND NOT b — the De Morgan shape
    val pDeM = !(col("k") < 50L || col("k") >= 60L)
    assert(Lake.resolveWhere(spark, root, pDeM)._2.size === 9)
    assert(rows(Lake.readCommittedWhere(spark, root, pDeM).select("k")) ===
      (50L until 60L).map(Seq(_)).toSet)
    // double negation lands back on the positive tree
    assert(Lake.resolveWhere(spark, root, !(!(col("k") < 10L)))._2.size === 9)
    // NOT-equality: ranges can't prove it (only a whole-domain
    // witness can), so nothing prunes — and nothing is wrong
    val pNe = !(col("k") === 55L)
    assert(Lake.resolveWhere(spark, root, pNe)._2.isEmpty)
    assert(Lake.readCommittedWhere(spark, root, pNe).count() === 99L)
    // …but an exact PARTITION tuple IS a whole-domain witness:
    // NOT(region = 'EU') prunes the EU dir on the partitioned table
    val pNotEu = !(col("region") === "EU")
    assert(Lake.resolveWhere(spark, proot, pNotEu)._2.size === 1)
    assert(rows(Lake.readCommittedWhere(spark, proot, pNotEu)
      .select("v")) === Set(Seq(2L), Seq(3L), Seq(4L)))
    // NOT IN over partition tuples prunes both named dirs
    val pNotIn = !col("region").isin("EU", "US")
    assert(Lake.resolveWhere(spark, proot, pNotIn)._2.size === 2)
    assert(rows(Lake.readCommittedWhere(spark, proot, pNotIn)
      .select("v")) === Set(Seq(3L), Seq(4L)))
    // NOT over NULL-SAFE equality never prunes: NOT(p <=> 'a') MATCHES
    // NULL rows, which the plain-equality inversion can't see — the
    // all-NULL partition of nroot must be KEPT and served
    val pNse = !(col("p") <=> "a")
    assert(Lake.resolveWhere(spark, nroot, pNse)._2.isEmpty)
    assert(rows(Lake.readCommittedWhere(spark, nroot, pNse)
      .select("v")) === Set(Seq(1L), Seq(3L)))

    // the MUTATION engines classify through OR too: a two-point OR
    // DELETE / UPDATE rewrites only the dirs that can hold matches
    val mroot = tmpTable("graft-lake-ormut")
    (0L until 10L).foreach { b =>
      Lake.commitAppend(
        (b * 10L until (b + 1) * 10L).map(k => (k, s"r$k")).toDF("k", "t"),
        mroot, retain = 8, rowCount = Some(10L), statsCols = Seq("k"))
      ()
    }
    val before = Lake.resolve(spark, mroot).toSet
    Lake.deleteWhere(spark, mroot, col("k") === 5L || col("k") === 95L,
      retain = 8, dvMaxRows = 0L)
    val after = Lake.resolve(spark, mroot).toSet
    assert((before -- after).size === 2,
      s"OR delete must rewrite exactly the 2 hit dirs, rewrote ${(before -- after).size}")
    assert(Lake.readCommitted(spark, mroot).count() === 98L)
    // fresh table for the UPDATE half: the delete above merged its two
    // rewritten edge dirs into one wide-range dir that any later
    // predicate legitimately touches
    val uroot = tmpTable("graft-lake-ormut-upd")
    (0L until 10L).foreach { b =>
      Lake.commitAppend(
        (b * 10L until (b + 1) * 10L).map(k => (k, s"r$k")).toDF("k", "t"),
        uroot, retain = 8, rowCount = Some(10L), statsCols = Seq("k"))
      ()
    }
    val before2 = Lake.resolve(spark, uroot).toSet
    Lake.updateWhere(spark, uroot, col("k") === 15L || col("k") === 85L,
      Map("t" -> org.apache.spark.sql.functions.lit("upd")),
      retain = 8, dvMaxRows = 0L)
    val after2 = Lake.resolve(spark, uroot).toSet
    assert((before2 -- after2).size === 2,
      s"OR update must rewrite exactly the 2 hit dirs")
    assert(rows(Lake.readCommittedWhere(spark, uroot, col("t") === "upd")
      .select("k")) === Set(Seq(15L), Seq(85L)))

    // FILE-level stats prune through OR too (z-ordered single dir)
    val froot = tmpTable("graft-lake-orprune-files")
    (0 until 4).foreach { b =>
      Lake.commitAppend(
        (b * 256 until (b + 1) * 256).map(i => (i.toLong, s"v$i"))
          .toDF("k", "t"),
        froot, retain = 0, rowCount = Some(256L), statsCols = Seq("k"))
      ()
    }
    Lake.clusterCommitted(spark, froot, Seq("k"), targetBytes = 8 * 1024)
    val pF = col("k") < 16L || col("k") >= 1008L
    val (_, _, skippedFiles) = Lake.resolveWhere(spark, froot, pF)
    assert(skippedFiles.nonEmpty,
      "file stats must prune the middle files of the OR read")
    assert(rows(Lake.readCommittedWhere(spark, froot, pF).select("k")) ===
      ((0L until 16L) ++ (1008L until 1024L)).map(Seq(_)).toSet)
  }

  test("monotone-expression skipping: year()/to_date()/date_trunc() on a stat'd column prune; DST zones and strings refuse") {
    val root = tmpTable("graft-xform-skip")
    def df(years: Seq[Int]) = years.flatMap(y => (1 to 10).map(m0 =>
      (y.toLong * 100 + m0, java.sql.Date.valueOf(s"$y-0${(m0 % 9) + 1}-15"))))
      .toDF("k", "d")
    Lake.commitOverwrite(df(Seq(1995)), root, retain = 8,
      statsCols = Seq("d"))
    Lake.commitAppend(df(Seq(1996)), root, retain = 8)
    Lake.commitAppend(df(Seq(1998)), root, retain = 8)
    // equality through year(): only the 1996 dir survives
    val (kept, skipped) = Lake.pruneDirs(spark, root,
      year(col("d")) === 1996)
    assert(kept.size === 1 && skipped.size === 2,
      s"year() equality must prune on d's own stats (kept=$kept)")
    // ranges through to_date()/date_trunc() prune too
    assert(Lake.pruneDirs(spark, root,
      to_date(col("d")) >= lit(java.sql.Date.valueOf("1998-01-01")))._2.size === 2)
    assert(Lake.pruneDirs(spark, root,
      date_trunc("year", col("d")) ===
        lit(java.sql.Timestamp.valueOf("1995-01-01 00:00:00")))._2.size === 2)
    // IN through year()
    assert(Lake.pruneDirs(spark, root,
      year(col("d")).isin(1995, 1998))._2.size === 1)
    // NOT through year(): a dir whose whole mapped domain is the
    // refused value drops (the exact-leaf inversion rule)
    assert(Lake.pruneDirs(spark, root,
      !(year(col("d")) === 1996))._2.size === 1)
    // correctness: the pruned read equals the unpruned filter
    assert(Lake.readCommittedWhere(spark, root, year(col("d")) === 1996)
      .count() === 10)
    // the SQL scan path prunes the same way (resolved Year shape) —
    // proven at the PLAN level: the executed scan's numFiles metric
    // must shrink, not just the answer hold
    Lake.registerSql(spark, "xformskip", root)
    def scannedFiles(sql: String): Long = {
      val df = spark.sql(sql)
      df.collect()
      df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.FileSourceScanExec =>
          s.metrics("numFiles").value
      }.sum
    }
    val allFiles = scannedFiles("SELECT k, d FROM xformskip")
    assert(spark.sql("SELECT count(*) FROM xformskip WHERE year(d) = 1996")
      .collect().head.getLong(0) === 10)
    assert(scannedFiles("SELECT k, d FROM xformskip WHERE year(d) = 1996")
      < allFiles, "the SQL scan must read fewer files under year()")
    // partition TUPLES map through the expression too: a
    // date-partitioned layout answers year() equality exactly
    val proot = tmpTable("graft-xform-part")
    Lake.commitOverwrite(
      Seq((1L, java.sql.Date.valueOf("1995-06-15")),
        (2L, java.sql.Date.valueOf("1996-06-15")),
        (3L, java.sql.Date.valueOf("1998-06-15"))).toDF("k", "d"),
      proot, retain = 8, partitionBy = Seq("d"))
    val (pk, ps) = Lake.pruneDirs(spark, proot, year(col("d")) === 1996)
    assert(pk.size === 1 && ps.size === 2,
      s"partition tuples must prune through year() (kept=$pk)")
    // ZONE GUARD: a session zone with DST transitions refuses the
    // zone-anchored maps (micros->local is not monotone there) —
    // pruning weakens, never lies. year(DATE) is zone-free and keeps
    // pruning; date_trunc (timestamp-anchored) must not.
    val prevZone = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try {
      assert(Lake.pruneDirs(spark, root,
        date_trunc("year", col("d")) ===
          lit(java.sql.Timestamp.valueOf("1995-01-01 00:00:00")))._2.isEmpty,
        "zone-anchored maps must refuse under a DST zone")
    } finally spark.conf.set("spark.sql.session.timeZone", prevZone)
    // STRING sources refuse (lexical order is not monotone under
    // date parsing)
    val sroot = tmpTable("graft-xform-str")
    Lake.commitOverwrite(Seq((1L, "1995-01-15"), (2L, "1996-02-15"))
      .toDF("k", "ds"), sroot, retain = 8, statsCols = Seq("ds"))
    assert(Lake.pruneDirs(spark, sroot,
      year(to_date(col("ds"))) === 1996)._2.isEmpty)
  }


  test("string-prefix skipping (truncate[k]): substring/left/startsWith/LIKE prune on string stats; collations refuse") {
    val root = tmpTable("graft-prefix-skip")
    def df(svc: String) = (1 to 20).map(i => (f"$svc/req$i%04d", i.toLong))
      .toDF("s", "k")
    Lake.commitOverwrite(df("auth"), root, retain = 8, statsCols = Seq("s"))
    Lake.commitAppend(df("billing"), root, retain = 8)
    Lake.commitAppend(df("cart"), root, retain = 8)
    // prefix equality: only the auth dir survives
    val (kept, skipped) = Lake.pruneDirs(spark, root,
      substring(col("s"), 1, 4) === "auth")
    assert(kept.size === 1 && skipped.size === 2,
      s"substring prefix equality must prune on s's own stats (kept=$kept)")
    // startsWith is prefix equality with k = chars(prefix)
    assert(Lake.pruneDirs(spark, root, col("s").startsWith("bill"))._2.size === 2)
    // prefix RANGE: everything >= "c" leaves only cart
    assert(Lake.pruneDirs(spark, root,
      substring(col("s"), 1, 1) >= "c")._2.size === 2)
    // prefix IN
    assert(Lake.pruneDirs(spark, root,
      substring(col("s"), 1, 4).isin("auth", "cart"))._2.size === 1)
    // correctness: pruned read equals the unpruned filter
    assert(Lake.readCommittedWhere(spark, root,
      col("s").startsWith("cart")).count() === 20L)
    assert(Lake.readCommittedWhere(spark, root,
      substring(col("s"), 1, 4) === "auth").count() === 20L)
    // the SQL scan path prunes the same way, proven at the PLAN level
    Lake.registerSql(spark, "prefixskip", root)
    def scannedFiles(sql: String): Long = {
      val df = spark.sql(sql)
      df.collect()
      df.queryExecution.executedPlan.collect {
        case sc: org.apache.spark.sql.execution.FileSourceScanExec =>
          sc.metrics("numFiles").value
      }.sum
    }
    val allFiles = scannedFiles("SELECT s, k FROM prefixskip")
    assert(scannedFiles("SELECT s, k FROM prefixskip WHERE s LIKE 'auth%'")
      < allFiles, "LIKE 'p%' must read fewer files via prefix skipping")
    assert(scannedFiles(
      "SELECT s, k FROM prefixskip WHERE substring(s, 1, 4) = 'cart'")
      < allFiles, "substring prefix must read fewer files in SQL")
    // NON-prefix substrings never mark (start != 1 is not monotone)
    assert(Lake.pruneDirs(spark, root,
      substring(col("s"), 2, 3) === "uth")._2.isEmpty)
    // COLLATION GUARD: a non-binary session default collation makes
    // the query's comparison linguistic — pruning must refuse (weaken,
    // never lie). Skipped if this build refuses runtime collation.
    val collOk = scala.util.Try {
      spark.conf.set("spark.sql.session.collation.default", "UTF8_LCASE")
      true
    }.getOrElse(false)
    if (collOk) try {
      assert(Lake.pruneDirs(spark, root,
        substring(col("s"), 1, 4) === "AUTH")._2.isEmpty,
        "prefix skipping must refuse under a non-binary session collation")
    } finally spark.conf.set("spark.sql.session.collation.default",
      "UTF8_BINARY")
    // temporal maps still refuse STRING sources (unchanged rule)
    assert(Lake.pruneDirs(spark, root,
      year(to_date(col("s"))) === 1996)._2.isEmpty)
  }

}
