package graft

import graft.sources.Lake
import org.apache.spark.sql.functions._

/** Row tracking — Delta's stable row ids for KEYLESS change feeds.
  * A hidden `_row_id` (LongType) materializes at write under the
  * identity allocator's block protocol; ids are stable across
  * UPDATE (DV and COW), DELETE rewrites and OPTIMIZE, so
  * `changesBetween` pairs update pre/postimages on tables with no
  * natural key. The column is invisible to every user-facing read. */
class LakeRowTrackingSpec extends SparkSpec {
  import spark.implicits._

  private def tmpTable(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).resolve("t").toString

  private def ridsOf(root: String): Seq[Long] =
    Lake.readCommittedAtRaw(spark, root,
        Lake.currentVersion(spark, root).get)
      .select(Lake.RowIdCol).collect().map(_.getLong(0)).toSeq

  private def requiresOf(root: String): Set[String] = {
    val v = Lake.currentVersion(spark, root).get
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, s"_commit_$v")), "UTF-8")
      .split("\n").find(_.startsWith("#require="))
      .map(_.stripPrefix("#require=").split(",").map(_.trim)
        .filter(_.nonEmpty).toSet).getOrElse(Set.empty)
  }

  test("ids allocate contiguously per commit, stay unique, and never reach a user-facing read") {
    val root = tmpTable("graft-rid-alloc")
    Lake.commitOverwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "t"), root,
      retain = 8, rowTracking = true)
    assert(requiresOf(root)("rowtracking"))
    assert(ridsOf(root).sorted === Seq(0L, 1L))
    // appends take the next block (gap-free per commit)
    Lake.commitAppend(Seq((3L, "c"), (4L, "d")).toDF("k", "t"), root,
      retain = 8)
    assert(ridsOf(root).sorted === Seq(0L, 1L, 2L, 3L))
    // hidden everywhere a user reads
    assert(!Lake.readCommitted(spark, root).columns.contains(Lake.RowIdCol))
    assert(!Lake.readCommittedWhere(spark, root, col("k") > 0L)
      .columns.contains(Lake.RowIdCol))
    spark.sql("DROP TABLE IF EXISTS ridsql")
    spark.sql(s"CREATE TABLE ridsql USING `graft-lake` OPTIONS (root '$root')")
    assert(!spark.sql("SELECT * FROM ridsql").columns.contains(Lake.RowIdCol))
    assert(spark.sql("SELECT count(*) AS n FROM ridsql")
      .collect().head.getLong(0) === 4L)
    // SQL INSERT through the hidden column allocates too
    spark.sql("INSERT INTO ridsql VALUES (5, 'e')")
    assert(ridsOf(root).sorted === (0L to 4L))
    spark.sql("DROP TABLE ridsql")
    // engine-owned: a batch carrying _row_id refuses
    assert(intercept[IllegalArgumentException] {
      Lake.commitAppend(Seq((9L, "x", 99L)).toDF("k", "t", Lake.RowIdCol),
        root, retain = 8)
    }.getMessage.contains("engine-owned"))
  }

  test("keyless changesBetween pairs updates exactly like the keyed feed (DV and COW paths)") {
    def scenario(dvMaxRows: Long): Unit = {
      val root = tmpTable(s"graft-rid-cdf-$dvMaxRows")
      Lake.commitOverwrite(
        (1L to 20L).map(k => (k, s"v$k", k * 1.0)).toDF("k", "t", "x"),
        root, retain = 8, rowTracking = true)
      val v0 = Lake.currentVersion(spark, root).get
      Lake.updateWhere(spark, root, col("k") % 5 === 0,
        Map("x" -> (col("x") + 100.0)), retain = 8, dvMaxRows = dvMaxRows)
      Lake.deleteWhere(spark, root, col("k") === 7L, retain = 8,
        dvMaxRows = dvMaxRows)
      Lake.commitAppend(Seq((21L, "v21", 21.0)).toDF("k", "t", "x"), root,
        retain = 8)
      val v1 = Lake.currentVersion(spark, root).get
      def feed(keys: Seq[String]) =
        rows(Lake.changesBetween(spark, root, v0, v1, keys)
          .select("k", "t", "x", "change_type"))
      val keyed = feed(Seq("k"))
      val keyless = feed(Nil)
      assert(keyless === keyed,
        s"keyless feed must equal the keyed feed (dvMaxRows=$dvMaxRows)")
      // and the pairing is REAL: updates carry both images
      assert(keyless.count(_.last == "update_preimage") === 4)
      assert(keyless.count(_.last == "update_postimage") === 4)
      assert(keyless.count(_.last == "delete") === 1)
      assert(keyless.count(_.last == "insert") === 1)
      assert(!Lake.changesBetween(spark, root, v0, v1, Nil)
        .columns.contains(Lake.RowIdCol))
    }
    scenario(dvMaxRows = 0L)     // copy-on-write rewrites
    scenario(dvMaxRows = 1000L)  // deletion-vector fast paths
    // without tracking, keyless refuses with the remedy
    val plain = tmpTable("graft-rid-refuse")
    Lake.commitOverwrite(Seq((1L, "a")).toDF("k", "t"), plain, retain = 8)
    Lake.commitAppend(Seq((2L, "b")).toDF("k", "t"), plain, retain = 8)
    assert(intercept[IllegalArgumentException] {
      Lake.changesBetween(spark, plain, 0L, 1L, Nil)
    }.getMessage.contains("row tracking"))
  }

  test("ids survive COW rewrites, compaction and MERGE updates; MERGE inserts allocate fresh") {
    val root = tmpTable("graft-rid-stable")
    Lake.commitOverwrite(
      (1L to 10L).map(k => (k, k * 1.0)).toDF("k", "x"), root,
      retain = 8, rowTracking = true)
    def ridByK: Map[Long, Long] = Lake.readCommittedAtRaw(spark, root,
        Lake.currentVersion(spark, root).get)
      .select("k", Lake.RowIdCol).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val before = ridByK
    // COW update: the rewritten copy keeps its id
    Lake.updateWhere(spark, root, col("k") === 3L,
      Map("x" -> lit(333.0)), retain = 8, dvMaxRows = 0L)
    assert(ridByK === before)
    // fragment + compact: layout-only, ids untouched
    Lake.commitAppend(Seq((11L, 11.0)).toDF("k", "x"), root, retain = 8)
    Lake.commitAppend(Seq((12L, 12.0)).toDF("k", "x"), root, retain = 8)
    val preCompact = ridByK
    val vPre = Lake.currentVersion(spark, root).get
    Lake.compactCommitted(spark, root, minBytes = Long.MaxValue, retain = 8)
    assert(ridByK === preCompact)
    // …which the keyless feed confirms: a compaction is invisible
    assert(Lake.changesBetween(spark, root, vPre,
      Lake.currentVersion(spark, root).get, Nil).count() === 0L)
    // MERGE: updates preserve, inserts allocate fresh unique ids
    spark.sql("DROP TABLE IF EXISTS ridmerge")
    spark.sql(s"CREATE TABLE ridmerge USING `graft-lake` OPTIONS (root '$root')")
    spark.sql("MERGE INTO ridmerge t USING (SELECT 5 AS k, 555.0 AS x " +
      "UNION ALL SELECT 40 AS k, 40.0 AS x) s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET x = s.x " +
      "WHEN NOT MATCHED THEN INSERT (k, x) VALUES (s.k, s.x)")
    val after = ridByK
    assert(after(5L) === preCompact(5L), "MERGE UPDATE must keep the id")
    assert(!preCompact.values.toSet.contains(after(40L)),
      "MERGE INSERT must allocate a fresh id")
    val all = ridsOf(root)
    assert(all.distinct.length === all.length, "ids stay globally unique")
    spark.sql("DROP TABLE ridmerge")
  }

  test("concurrent appends allocate disjoint id blocks (OCC re-stage on a moved mark)") {
    val root = tmpTable("graft-rid-race")
    Lake.commitOverwrite(Seq((1L, "a")).toDF("k", "t"), root,
      retain = 8, rowTracking = true)
    // the loser stages under mark 1, an interloper advances it to 3,
    // the loser's retry re-stages its rows under [3, 5) — no overlap
    var fired = false
    Lake.beforePublish = () => {
      if (!fired) {
        fired = true
        Lake.commitAppend(Seq((10L, "x"), (11L, "y")).toDF("k", "t"),
          root, retain = 8)
        ()
      }
    }
    try Lake.commitAppend(Seq((20L, "p"), (21L, "q")).toDF("k", "t"),
      root, retain = 8)
    finally Lake.beforePublish = () => ()
    val ids = ridsOf(root)
    assert(ids.length === 5 && ids.distinct.length === 5,
      s"concurrent allocations must stay disjoint, got $ids")
    assert(ids.sorted === (0L to 4L), s"blocks must be gap-free: $ids")
    assert(Lake.rowTracking(spark, root).contains(5L))
  }

  test("the DataFrameWriter option declares tracking at creation; appends inherit") {
    val root = tmpTable("graft-rid-writer")
    Seq((1L, "a"), (2L, "b")).toDF("k", "t").write.format("graft-lake")
      .option("root", root).option("rowTracking", "true")
      .mode("overwrite").save()
    assert(Lake.rowTracking(spark, root).contains(2L))
    Seq((3L, "c")).toDF("k", "t").write.format("graft-lake")
      .option("root", root).mode("append").save()
    assert(ridsOf(root).sorted === Seq(0L, 1L, 2L))
    intercept[IllegalArgumentException] {
      Seq((4L, "d")).toDF("k", "t").write.format("graft-lake")
        .option("root", root).option("rowTracking", "yes")
        .mode("append").save()
    }
    // the supported exposed-id surface (external state keyed by row
    // identity); untracked tables refuse instead of serving NULL ids
    assert(rows(Lake.readCommittedWithRowId(spark, root)
      .select("k", Lake.RowIdCol)) ===
      Set(Seq(1L, 0L), Seq(2L, 1L), Seq(3L, 2L)))
    val plain = tmpTable("graft-rid-expose-refuse")
    Lake.commitOverwrite(Seq((1L, "x")).toDF("k", "t"), plain, retain = 8)
    intercept[IllegalArgumentException] {
      Lake.readCommittedWithRowId(spark, plain)
    }
  }

  test("RESTORE re-points the row-id mark authoritatively; pre-tracking targets restore to untracked") {
    val root = tmpTable("graft-rid-restore")
    Lake.commitOverwrite(Seq((1L, "a")).toDF("k", "t"), root, retain = 8) // v0 untracked
    Lake.enableRowTracking(spark, root)                                   // v1 tracked
    Lake.commitAppend(Seq((2L, "b")).toDF("k", "t"), root, retain = 8)    // v2
    val markV2 = Lake.rowTracking(spark, root).get
    // restore to the TRACKED v1: the mark re-points to v1's (ids the
    // restored-away rows consumed become reusable, the identity rule)
    Lake.restoreCommitted(spark, root, 1L, retain = 8)
    assert(Lake.rowTracking(spark, root).exists(_ < markV2))
    assert(ridsOf(root).sorted === Seq(0L))
    // appends keep allocating from the restored mark
    Lake.commitAppend(Seq((3L, "c")).toDF("k", "t"), root, retain = 8)
    assert(ridsOf(root).distinct.length === 2)
    // restore to the PRE-tracking v0: the table is untracked again —
    // no mark, no hidden column, keyless feeds refuse honestly
    Lake.restoreCommitted(spark, root, 0L, retain = 8)
    assert(Lake.rowTracking(spark, root).isEmpty)
    assert(rows(Lake.readCommitted(spark, root)) === Set(Seq(1L, "a")))
    val live = Lake.currentVersion(spark, root).get
    intercept[IllegalArgumentException] {
      Lake.changesBetween(spark, root, live - 1, live, Nil)
    }
  }

  test("enableRowTracking backfills an existing table once; no-op when already on") {
    val root = tmpTable("graft-rid-enable")
    Lake.commitOverwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "t"), root,
      retain = 8)
    Lake.commitAppend(Seq((3L, "c")).toDF("k", "t"), root, retain = 8)
    val v = Lake.enableRowTracking(spark, root)
    assert(ridsOf(root).sorted === Seq(0L, 1L, 2L))
    assert(requiresOf(root)("rowtracking"))
    // rows and schema unchanged from the user's side
    assert(rows(Lake.readCommitted(spark, root)) ===
      Set(Seq(1L, "a"), Seq(2L, "b"), Seq(3L, "c")))
    // idempotent
    assert(Lake.enableRowTracking(spark, root) === v)
    // a keyless feed works from here on
    Lake.updateWhere(spark, root, col("k") === 2L, Map("t" -> lit("B")),
      retain = 8)
    val live = Lake.currentVersion(spark, root).get
    val feed = rows(Lake.changesBetween(spark, root, v, live, Nil))
    assert(feed === Set(
      Seq(2L, "b", "update_preimage"), Seq(2L, "B", "update_postimage")))
    // the SQL spelling: graft_changes with NO key argument
    assert(rows(spark.sql(
      s"SELECT k, t, change_type FROM graft_changes('$root', $v, $live)")) ===
      feed)
  }

  test("an append racing enableRowTracking refuses instead of committing id-less rows") {
    val root = tmpTable("graft-rid-race-enable")
    Lake.commitOverwrite(Seq((1L, "a")).toDF("k", "t"), root, retain = 8)
    // the one window the removed-dirs rebase check cannot see: the
    // tracking enable lands AFTER this append read the allocator state
    // but BEFORE it read its base version — without the presence check
    // the append would win the next slot and commit rows with no
    // physical _row_id while inheriting the live mark (half-tracked)
    Lake.afterAppendStage = () => {
      Lake.afterAppendStage = () => ()
      Lake.enableRowTracking(spark, root, retain = 8); ()
    }
    val e = intercept[java.util.ConcurrentModificationException] {
      Lake.commitAppend(Seq((2L, "b")).toDF("k", "t"), root, retain = 8)
    }
    assert(e.getMessage.contains("changed row tracking"))
    // the re-run stages under the live declaration and stamps ids
    Lake.commitAppend(Seq((2L, "b")).toDF("k", "t"), root, retain = 8)
    assert(ridsOf(root).sorted === Seq(0L, 1L))
  }

  test("engine-owned _row_id refuses in UPDATE SET, MERGE assignments and CDC merge batches") {
    val root = tmpTable("graft-rid-own")
    Lake.commitOverwrite(Seq((1L, "a")).toDF("k", "t"), root,
      retain = 8, rowTracking = true)
    assert(intercept[IllegalArgumentException] {
      Lake.updateWhere(spark, root, col("k") === 1L,
        Map(Lake.RowIdCol -> lit(0L)))
    }.getMessage.contains("engine-owned"))
    assert(intercept[IllegalArgumentException] {
      Lake.mergeInto(spark, root, Seq((1L, "z")).toDF("k", "t"),
        on = Seq((col("t.k"), col("k"))),
        matched = Seq(graft.sources.LakeMergeUpdate(None,
          Map(Lake.RowIdCol -> lit(0L)))))
    }.getMessage.contains("engine-owned"))
    assert(intercept[IllegalArgumentException] {
      Lake.mergeInto(spark, root, Seq((2L, "z")).toDF("k", "t"),
        on = Seq((col("t.k"), col("k"))),
        notMatched = Seq(graft.sources.LakeMergeInsert(None,
          Map("k" -> col("s.k"), Lake.RowIdCol -> lit(7L)))))
    }.getMessage.contains("engine-owned"))
    assert(intercept[IllegalArgumentException] {
      Lake.mergeCommitted(spark, root,
        Seq((1L, "z", 99L, 1L, false)).toDF(
          "k", "t", Lake.RowIdCol, "v", "del"),
        Seq("k"), "v", "del")
    }.getMessage.contains("engine-owned"))
    // nothing above committed: the table is untouched
    assert(rows(Lake.readCommitted(spark, root)) === Set(Seq(1L, "a")))
  }

  test("an overwrite racing an append refuses instead of reusing the append's row ids or identity keys") {
    // The overwrite allocates its blocks from the marks of the snapshot
    // it read first; the gate holds its first batch evaluation (the
    // allocation count) while an append advances those marks.
    def race(root: String, batch: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
        append: => Unit): Unit = {
      val gated = batch(spark.range(7L, 8L, 1L, 1).toDF()
        .where(udf((k: Long) => OverwriteGate.pass(k)).apply(col("id"))))
      OverwriteGate.arm()
      val overwrite = scala.concurrent.Future(Lake.commitOverwrite(gated, root, retain = 8))(
        scala.concurrent.ExecutionContext.global)
      try {
        assert(OverwriteGate.entered.await(60, java.util.concurrent.TimeUnit.SECONDS))
        append
      } finally OverwriteGate.release.countDown()
      val e = intercept[java.util.ConcurrentModificationException] {
        scala.concurrent.Await.result(overwrite, scala.concurrent.duration.Duration(120, "s"))
      }
      assert(e.getMessage.contains("row-id or identity mark"))
      assert(Lake.currentVersion(spark, root) === Some(1L))
      // the refused overwrite leaves no staged dir behind: the data
      // dirs are the establishing commit's and the append's
      assert(new java.io.File(root).list().count(n => !n.startsWith("_") &&
        !n.startsWith(".")) === 2, new java.io.File(root).list().toSeq)
    }
    val rid = tmpTable("graft-rid-race-overwrite")
    Lake.commitOverwrite(Seq((1L, "a")).toDF("k", "t"), rid,
      retain = 8, rowTracking = true)
    race(rid, _.select(col("id").as("k"), lit("o").as("t")),
      Lake.commitAppend(Seq((2L, "b")).toDF("k", "t"), rid, retain = 8))
    assert(ridsOf(rid).sorted === Seq(0L, 1L))
    // the re-run allocates past the append's block
    Lake.commitOverwrite(Seq((7L, "o")).toDF("k", "t"), rid, retain = 8)
    assert(ridsOf(rid) === Seq(2L))

    val ids = tmpTable("graft-id-race-overwrite")
    Lake.commitOverwrite(Seq("a").toDF("t"), ids, retain = 8, identity = Some("id"))
    race(ids, _.select(lit("o").as("t")),
      Lake.commitAppend(Seq("b").toDF("t"), ids, retain = 8))
    assert(Lake.identityColumn(spark, ids) === Some(("id", 3L)))
  }
}

/** Holds the first evaluation of a gated batch until the test thread
  * releases it (a Scala object, so the UDF reaches it without being
  * serialized with it). */
private object OverwriteGate {
  @volatile var entered = new java.util.concurrent.CountDownLatch(1)
  @volatile var release = new java.util.concurrent.CountDownLatch(1)
  def arm(): Unit = {
    entered = new java.util.concurrent.CountDownLatch(1)
    release = new java.util.concurrent.CountDownLatch(1)
  }
  def pass(k: Long): Boolean = {
    entered.countDown()
    release.await(120, java.util.concurrent.TimeUnit.SECONDS)
  }
}
