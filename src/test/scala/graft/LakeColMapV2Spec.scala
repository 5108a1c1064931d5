package graft

import graft.sources.Lake
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Id-mode column mapping (`#colmap2`) — the round-17 lift of the
  * nested-DROP refusal. Per-field immutable ids are assigned to
  * EXISTING names at upgrade (zero file rewrites, Iceberg's
  * name-mapping trick); file access stays name-keyed because vanilla
  * Spark cannot mix id- and name-matching per file (pinned below);
  * soundness comes from frozen physical names + tombstones: a
  * dropped-then-re-added field gets a fresh id AND a fresh physical
  * name, so the dropped bytes are unreachable by construction. */
class LakeColMapV2Spec extends SparkSpec {
  import spark.implicits._

  private def tmpTable(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).resolve("t").toString

  private def requiresOf(root: String): Set[String] = {
    val v = Lake.currentVersion(spark, root).get
    new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(root, s"_commit_$v")), "UTF-8")
      .split("\n").find(_.startsWith("#require="))
      .map(_.stripPrefix("#require=").split(",").map(_.trim)
        .filter(_.nonEmpty).toSet).getOrElse(Set.empty)
  }

  private def dirsOf(root: String): Seq[String] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    Lake.snapshotDirNames(spark, root, Lake.currentVersion(spark, root).get)
  }

  /** meta = struct(x int, v double) over two file generations. */
  private def seed(root: String): Unit = {
    def df(ks: Seq[Long]) = ks.map(k => (k, k.toInt, k * 0.5))
      .toDF("k", "x", "v")
      .select(col("k"), struct(col("x"), col("v")).as("meta"))
    Lake.commitOverwrite(df(1L to 5L), root, retain = 8)
    Lake.commitAppend(df(6L to 10L), root, retain = 8)
    // DDL below commits with the inherited retention — keep the whole
    // history readable for the time-travel assertions
    Lake.setTableProperties(spark, root, Map("graft.retain" -> "16"))
    ()
  }

  test("nested DROP is one manifest write; a re-added name NEVER resurrects the dropped bytes") {
    val root = tmpTable("graft-cmv2-drop")
    seed(root)
    val dirsBefore = dirsOf(root)
    // SQL spelling auto-upgrades the table to id-mode
    spark.sql("DROP TABLE IF EXISTS cmv2drop")
    spark.sql(s"CREATE TABLE cmv2drop USING `graft-lake` OPTIONS (root '$root')")
    val vPre = Lake.currentVersion(spark, root).get
    spark.sql("ALTER TABLE cmv2drop DROP COLUMN meta.x")
    assert(requiresOf(root)("colmap2"))
    assert(dirsOf(root) === dirsBefore) // zero data I/O
    assert(spark.table("cmv2drop").select("meta.*").columns.toSeq === Seq("v"))
    // time travel still serves the dropped field under its version
    assert(Lake.readCommittedAt(spark, root, vPre)
      .select("meta.x").collect().map(_.getInt(0)).sorted === (1 to 10).toArray)
    // RE-ADD the same name: a fresh id + fresh physical name — every
    // pre-existing row reads NULL, never the dropped generation's bytes
    spark.sql("ALTER TABLE cmv2drop ADD COLUMN meta.x INT")
    assert(spark.sql("SELECT count(*) FROM cmv2drop WHERE meta.x IS NULL")
      .collect().head.getLong(0) === 10L)
    // new writes land under the fresh physical name and read back
    spark.sql("INSERT INTO cmv2drop VALUES (11, named_struct('v', 5.5, 'x', 777))")
    assert(rows(spark.sql(
      "SELECT k, meta.x FROM cmv2drop WHERE meta.x IS NOT NULL")) ===
      Set(Seq(11L, 777)))
    // and the old generation still reads its v values exactly
    assert(spark.sql("SELECT sum(meta.v) FROM cmv2drop")
      .collect().head.getDouble(0) === (1L to 11L).map(_ * 0.5).sum)
    spark.sql("DROP TABLE cmv2drop")
  }

  test("nested RENAME keeps the id and the frozen physical name: stats keep pruning, files untouched") {
    val root = tmpTable("graft-cmv2-rename")
    def df(ks: Seq[Long]) = ks.map(k => (k, k.toInt, k * 0.5))
      .toDF("k", "x", "v")
      .select(col("k"), struct(col("x"), col("v")).as("meta"))
    Lake.commitOverwrite(df(1L to 100L), root, retain = 8,
      statsCols = Seq("meta.v"))
    Lake.commitAppend(df(101L to 200L), root, retain = 8)
    val dirsBefore = dirsOf(root)
    Lake.renameNestedColumn(spark, root, Seq("meta", "v"), "score")
    assert(requiresOf(root)("colmap2"))
    assert(dirsOf(root) === dirsBefore)
    // reads serve the new name, values exact
    assert(Lake.readCommitted(spark, root).select("meta.score")
      .agg(sum("score")).collect().head.getDouble(0) ===
      (1L to 200L).map(_ * 0.5).sum)
    // data skipping still fires: the stats lines are keyed by the
    // FROZEN physical path, which the rename never touched
    val (_, skipped) = Lake.pruneDirs(spark, root, col("meta.score") > 75.0)
    assert(skipped.nonEmpty,
      "a range predicate on the renamed nested field must still prune")
    // a write after the rename stages under the frozen physical name
    // and both generations read under the renamed schema
    Lake.commitAppend(df(201L to 210L)
      .withColumn("meta", struct(col("meta.x").as("x"),
        col("meta.v").as("score"))).drop("x", "v"), root, retain = 8)
    assert(Lake.readCommitted(spark, root).count() === 210)
    // predicate reads across both physical generations stay exact
    assert(Lake.readCommittedWhere(spark, root, col("meta.score") > 102.0)
      .count() === 6) // 205..210 have score 102.5..105
  }

  test("a write whose schema evolution re-introduces a dropped nested field refuses with the ADD COLUMN remedy") {
    val root = tmpTable("graft-cmv2-stale")
    seed(root)
    Lake.dropNestedColumn(spark, root, Seq("meta", "x"))
    // a stale writer still carrying meta.x must not silently re-key it
    val stale = Seq((11L, 11, 5.5)).toDF("k", "x", "v")
      .select(col("k"), struct(col("x"), col("v")).as("meta"))
    val e = intercept[IllegalStateException] {
      Lake.commitAppend(stale, root, retain = 8)
    }
    assert(e.getMessage.contains("ADD COLUMN"))
    // nothing committed, nothing leaked into the snapshot
    assert(Lake.readCommitted(spark, root).count() === 10)
  }

  test("refusals: CHECK/generated references, struct-emptying drops, existing rename targets") {
    val root = tmpTable("graft-cmv2-refuse")
    seed(root)
    Lake.addCheckConstraint(spark, root, "vpos", "meta.v >= 0")
    assert(intercept[IllegalArgumentException] {
      Lake.dropNestedColumn(spark, root, Seq("meta", "v"))
    }.getMessage.contains("vpos"))
    assert(intercept[IllegalArgumentException] {
      Lake.renameNestedColumn(spark, root, Seq("meta", "v"), "w")
    }.getMessage.contains("vpos"))
    // dropping the container a constraint reaches INTO refuses too
    assert(intercept[IllegalArgumentException] {
      Lake.dropColumn(spark, root, "meta")
    }.getMessage.contains("vpos"))
    Lake.dropCheckConstraint(spark, root, "vpos")
    // a rename target that exists refuses
    assert(intercept[IllegalArgumentException] {
      Lake.renameNestedColumn(spark, root, Seq("meta", "v"), "x")
    }.getMessage.contains("already exists"))
    // dropping the only remaining field of a struct refuses
    Lake.dropNestedColumn(spark, root, Seq("meta", "x"))
    assert(intercept[IllegalArgumentException] {
      Lake.dropNestedColumn(spark, root, Seq("meta", "v"))
    }.getMessage.contains("empty"))
  }

  test("conformance pin: new files carry parquet.field.id; vanilla Spark cannot name-fallback id reads") {
    val root = tmpTable("graft-cmv2-ids")
    seed(root)
    Lake.upgradeColumnMapping(spark, root)
    // ids are stable across a rename — capture before
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
    val r = new org.apache.hadoop.fs.Path(root)
    val v2a = Lake.tableMeta(fs, r,
      Lake.currentVersion(spark, root).get).colMap2.get
    val idOfK = v2a.fields.find(f => f.container == 0 && f.logical == "k").get.id
    Lake.renameNestedColumn(spark, root, Seq("meta", "v"), "score")
    val v2b = Lake.tableMeta(fs, r,
      Lake.currentVersion(spark, root).get).colMap2.get
    assert(v2b.fields.find(f => f.container == 0 && f.logical == "k")
      .get.id === idOfK, "ids are immutable across DDL")
    val metaId = v2b.fields.find(f => f.container == 0 && f.logical == "meta").get
    val scoreEnt = v2b.fields.find(f =>
      f.container == metaId.id && f.logical == "score").get
    assert(scoreEnt.phys === "v", "rename froze the physical name")
    // TOP-LEVEL rename on an id-mode table also carries its id (the
    // rename carry reaches both engines) and freezes the physical name
    Lake.renameColumn(spark, root, "k", "key")
    val v2c = Lake.tableMeta(fs, r,
      Lake.currentVersion(spark, root).get).colMap2.get
    val keyEnt = v2c.fields.find(f => f.container == 0 && f.logical == "key").get
    assert(keyEnt.id === idOfK && keyEnt.phys === "k",
      "a top-level rename must keep the id and the frozen physical name")
    Lake.renameColumn(spark, root, "key", "k") // restore for the footer check
    // a post-upgrade write stamps each known field's id in the footer
    Lake.commitAppend(Seq((11L, 11, 5.5)).toDF("k", "x", "v")
      .select(col("k"), struct(col("x"), col("v").as("score")).as("meta")),
      root, retain = 8)
    val newDir = dirsOf(root).last
    val file = fs.listStatus(new org.apache.hadoop.fs.Path(r, newDir))
      .filter(f => f.getPath.getName.endsWith(".parquet")).head.getPath
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        file, spark.sparkContext.hadoopConfiguration))
    val msg = try footer.getFooter.getFileMetaData.getSchema
      finally footer.close()
    def fieldId(name: String): Int =
      msg.getFields.get(msg.getFieldIndex(name)).getId.intValue
    assert(fieldId("k") === idOfK)
    assert(fieldId("meta") === metaId.id)
    // WHY access stays name-keyed (the documented vanilla-Spark
    // boundary): with fieldId.read enabled, a file carrying NO ids
    // cannot fall back to name matching — it errors (or, with
    // ignoreMissing, silently yields NULLs). Pin both, so a future
    // Spark that learns per-file fallback shows up as a test failure
    // and an opportunity.
    val plain = java.nio.file.Files
      .createTempDirectory("graft-cmv2-plain").resolve("p").toString
    Seq((1L, "a")).toDF("k", "t").write.parquet(plain)
    val idMd = new MetadataBuilder().putLong("parquet.field.id", 1L).build()
    val idSchema = StructType(Seq(StructField("k", LongType, true, idMd)))
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    try {
      val err = intercept[Exception] {
        spark.read.schema(idSchema).parquet(plain).collect()
      }
      def chain(t: Throwable): Seq[String] =
        if (t == null) Nil
        else Option(t.getMessage).toSeq ++ chain(t.getCause)
      assert(chain(err).exists(_.toLowerCase.contains("field id")),
        s"expected the missing-field-id refusal, got: ${chain(err)}")
      spark.conf.set("spark.sql.parquet.fieldId.read.ignoreMissing", "true")
      val nulls = spark.read.schema(idSchema).parquet(plain).collect()
      assert(nulls.forall(_.isNullAt(0)),
        "ignoreMissing yields NULLs, not name-matched values — " +
          "pure-id reads would corrupt every pre-upgrade file")
    } finally {
      spark.conf.unset("spark.sql.parquet.fieldId.read.enabled")
      spark.conf.unset("spark.sql.parquet.fieldId.read.ignoreMissing")
    }
  }

  test("DML, maintenance, restore and the change feed compose with id-mode") {
    val root = tmpTable("graft-cmv2-dml")
    seed(root)
    val vSeed = Lake.currentVersion(spark, root).get
    val vUpgraded = Lake.upgradeColumnMapping(spark, root)
    Lake.renameNestedColumn(spark, root, Seq("meta", "v"), "score")
    val vRenamed = Lake.currentVersion(spark, root).get
    // nested UPDATE through the renamed name
    Lake.updateWhere(spark, root, col("k") === 3L,
      Map("meta" -> struct(col("meta.x"), lit(99.0).as("score"))),
      retain = 8, dvMaxRows = 0)
    assert(Lake.readCommittedWhere(spark, root, col("k") === 3L)
      .select("meta.score").collect().head.getDouble(0) === 99.0)
    // compaction re-stages under the frozen physical names
    Lake.compactCommitted(spark, root, retain = 8)
    assert(Lake.readCommitted(spark, root).agg(sum("meta.score"))
      .collect().head.getDouble(0) ===
      (1L to 10L).map(_ * 0.5).sum - 1.5 + 99.0)
    // the change feed SERVES rename-crossing ranges through the id
    // tree (round 18 lifted the refusal); a pure-metadata rename
    // range diffs to nothing — the dirs never moved
    assert(Lake.changesBetween(spark, root, vUpgraded, vRenamed, Seq("k"))
      .count() === 0L)
    assert(Lake.changesBetween(spark, root, vRenamed,
      Lake.currentVersion(spark, root).get, Seq("k"))
      .where(col("change_type") === "update_postimage").count() === 1)
    // RESTORE to the pre-upgrade version re-points the tree with it
    Lake.restoreCommitted(spark, root, vSeed)
    assert(Lake.readCommitted(spark, root).select("meta.v").count() === 10)
  }

  test("multi-column DROP is atomic (one commit, mixed paths); constant casts prune on the Column path") {
    val root = tmpTable("graft-cmv2-multidrop")
    def df(ks: Seq[Long]) = ks.map(k => (k, k.toInt, k * 0.5, s"s$k"))
      .toDF("k", "x", "v", "extra")
      .select(col("k"), struct(col("x"), col("v")).as("meta"), col("extra"))
    Lake.commitOverwrite(df(1L to 5L), root, retain = 8)
    spark.sql("DROP TABLE IF EXISTS cmv2multi")
    spark.sql(s"CREATE TABLE cmv2multi USING `graft-lake` OPTIONS (root '$root')")
    val vPre = Lake.currentVersion(spark, root).get
    // a statement with one BAD path applies NOTHING — not even the
    // id-mode upgrade commit
    assert(intercept[Exception] {
      spark.sql("ALTER TABLE cmv2multi DROP COLUMNS (extra, meta.absent)")
    }.getMessage.contains("no field"))
    assert(Lake.currentVersion(spark, root).get === vPre)
    // mixed top-level + nested drop lands as upgrade + ONE drop commit
    spark.sql("ALTER TABLE cmv2multi DROP COLUMNS (extra, meta.x)")
    assert(spark.table("cmv2multi").columns.toSeq === Seq("k", "meta"))
    assert(spark.table("cmv2multi").select("meta.*").columns.toSeq === Seq("v"))
    assert(Lake.currentVersion(spark, root).get === vPre + 2)
    spark.sql("DROP TABLE cmv2multi")

    // constant CASTS of literals prune on the programmatic path (SQL
    // folds them before pushdown; Columns do not)
    val croot = tmpTable("graft-constcast")
    def dd(lo: String, n: Int) = (0 until n).map(i =>
      (i.toLong, java.sql.Date.valueOf(lo).toLocalDate.plusDays(i)))
      .map { case (k, d) => (k, java.sql.Date.valueOf(d)) }
      .toDF("k", "d")
    Lake.commitOverwrite(dd("1995-01-01", 10), croot, retain = 8,
      statsCols = Seq("d"))
    Lake.commitAppend(dd("1998-01-01", 10), croot, retain = 8)
    val (_, skipped) = Lake.pruneDirs(spark, croot,
      col("d") >= lit("1998-01-01").cast("date"))
    assert(skipped.size === 1,
      "a cast-of-literal bound must fold and prune like a typed literal")
    assert(Lake.readCommittedWhere(spark, croot,
      col("d") >= lit("1998-01-01").cast("date")).count() === 10)
  }


  test("a commit racing the pre-DDL window is refused, never folded over (CME, nothing applied)") {
    val root = tmpTable("graft-cmv2-race")
    seed(root)
    // an evolving append lands BETWEEN the drop statement's validation
    // read and its auto id-mode upgrade commit — the exact window the
    // post-upgrade drift check guards: committing the stale folded
    // schema would silently remove (and tombstone) the new column
    try {
      Lake.beforeColMapUpgrade = () => {
        Lake.beforeColMapUpgrade = () => ()
        Lake.commitAppend(
          Seq((99L, 9, 9.0, "fresh")).toDF("k", "x", "v", "extra")
            .select(col("k"), struct(col("x"), col("v")).as("meta"),
              col("extra")),
          root, retain = 8)
        ()
      }
      val e = intercept[java.util.ConcurrentModificationException] {
        Lake.dropNestedColumn(spark, root, Seq("meta", "x"))
      }
      assert(e.getMessage.contains("between validation and the id-mode upgrade"))
    } finally Lake.beforeColMapUpgrade = () => ()
    // the interloper's column SURVIVES and the drop applied nothing
    val cols = Lake.readCommitted(spark, root).columns.toSeq
    assert(cols.contains("extra"))
    assert(Lake.readCommitted(spark, root)
      .select("meta.*").columns.toSeq === Seq("x", "v"))
    // retried against the current table, the drop lands cleanly
    Lake.dropNestedColumn(spark, root, Seq("meta", "x"))
    assert(Lake.readCommitted(spark, root)
      .select("meta.*").columns.toSeq === Seq("v"))
    assert(Lake.readCommitted(spark, root).columns.toSeq
      .contains("extra"))

    // the nested-RENAME spelling shares the guard
    val root2 = tmpTable("graft-cmv2-race2")
    seed(root2)
    try {
      Lake.beforeColMapUpgrade = () => {
        Lake.beforeColMapUpgrade = () => ()
        Lake.commitAppend(
          Seq((99L, 9, 9.0, "fresh")).toDF("k", "x", "v", "extra")
            .select(col("k"), struct(col("x"), col("v")).as("meta"),
              col("extra")),
          root2, retain = 8)
        ()
      }
      val e = intercept[java.util.ConcurrentModificationException] {
        Lake.renameNestedColumn(spark, root2, Seq("meta", "v"), "score")
      }
      assert(e.getMessage.contains("between validation and the id-mode upgrade"))
    } finally Lake.beforeColMapUpgrade = () => ()
    assert(Lake.readCommitted(spark, root2).columns.toSeq.contains("extra"))
    Lake.renameNestedColumn(spark, root2, Seq("meta", "v"), "score")
    assert(Lake.readCommitted(spark, root2)
      .select("meta.*").columns.toSeq === Seq("x", "score"))
  }


  test("the change feed serves RENAME-crossing ranges through the id tree; drops still refuse") {
    val root = tmpTable("graft-cmv2-cdf")
    def df(ks: Seq[Long]) = ks.map(k => (k, k.toInt, k * 0.5))
      .toDF("k", "x", "v")
      .select(col("k"), struct(col("x"), col("v")).as("meta"))
    // row tracking on, so the KEYLESS feed can pair the same range
    Lake.commitOverwrite(df(1L to 5L), root, retain = 32,
      rowTracking = true)
    Lake.commitAppend(df(6L to 10L), root, retain = 32)
    Lake.setTableProperties(spark, root, Map("graft.retain" -> "32"))
    val vFrom = Lake.currentVersion(spark, root).get
    // changes inside the window: one delete BEFORE the renames...
    Lake.deleteWhere(spark, root, col("k") === 3L, retain = 32)
    // ...then a nested rename (auto-upgrades to id-mode) and a
    // top-level rename OF THE KEY COLUMN itself
    Lake.renameNestedColumn(spark, root, Seq("meta", "v"), "score")
    Lake.renameColumn(spark, root, "k", "kk")
    // ...and an insert AFTER them, under the new names
    Lake.commitAppend(
      Seq((11L, 11, 5.5)).toDF("kk", "x", "score")
        .select(col("kk"), struct(col("x"), col("score")).as("meta")),
      root, retain = 32)
    val vTo = Lake.currentVersion(spark, root).get

    // KEYED feed, keyed by the CURRENT name of the renamed key column:
    // the old side translates through the id tree, so the delete's
    // pre-image carries its stored values under the new names
    val keyed = Lake.changesBetween(spark, root, vFrom, vTo, Seq("kk"))
      .select(col("change_type"), col("kk"), col("meta.x"),
        col("meta.score"))
    val keyedRows = rows(keyed)
    assert(keyedRows === Set(
      Seq("delete", 3L, 3, 1.5),
      Seq("insert", 11L, 11, 5.5)))

    // KEYLESS (row-tracking) feed over the same range agrees exactly
    val keyless = Lake.changesBetween(spark, root, vFrom, vTo, Nil)
      .select(col("change_type"), col("kk"), col("meta.x"),
        col("meta.score"))
    assert(rows(keyless) === keyedRows)

    // a DROP inside the range still refuses (the span-split remedy)
    val vDrop = Lake.dropNestedColumn(spark, root, Seq("meta", "x"))
    Lake.commitAppend(
      Seq((12L, 6.5)).toDF("kk", "score")
        .select(col("kk"), struct(col("score")).as("meta")),
      root, retain = 32)
    val vTo2 = Lake.currentVersion(spark, root).get
    val e = intercept[IllegalArgumentException] {
      Lake.changesBetween(spark, root, vFrom, vTo2, Seq("kk")).collect()
    }
    assert(e.getMessage.contains("drop"))
    // but the span SPLIT AT the drop commit serves fine
    assert(rows(Lake.changesBetween(spark, root, vDrop, vTo2, Seq("kk"))
      .select(col("change_type"), col("kk"), col("meta.score"))) ===
      Set(Seq("insert", 12L, 6.5)))
  }


  test("REORG APPLY (PURGE) strips tombstoned physical columns from rewritten files; answers and tombstones stay") {
    val root = tmpTable("graft-cmv2-purge")
    // a FAT droppable field, so the storage shrink is measurable
    def df(ks: Seq[Long]) = ks.map(k => (k, "x" * 2000, k * 0.5))
      .toDF("k", "fat", "v")
      .select(col("k"), struct(col("fat"), col("v")).as("meta"))
    Lake.commitOverwrite(df(1L to 200L), root, retain = 8)
    Lake.commitAppend(df(201L to 400L), root, retain = 8)
    Lake.setTableProperties(spark, root, Map("graft.retain" -> "0"))
    Lake.dropNestedColumn(spark, root, Seq("meta", "fat"))
    def dataBytes: Long = {
      val fs = org.apache.hadoop.fs.FileSystem.get(
        new java.net.URI(root), spark.sparkContext.hadoopConfiguration)
      Lake.snapshotDirNames(spark, root,
        Lake.currentVersion(spark, root).get)
        .map(d => fs.getContentSummary(
          new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(root),
            d)).getLength).sum
    }
    def firstFileSchema: org.apache.spark.sql.types.StructType = {
      val d = Lake.snapshotDirNames(spark, root,
        Lake.currentVersion(spark, root).get).head
      val f = new java.io.File(new java.io.File(root, d).getPath)
        .listFiles().find(_.getName.endsWith(".parquet")).get
      spark.read.parquet(f.getPath).schema
    }
    val before = dataBytes
    // the drop was metadata-only: the dead bytes are still stored
    assert(firstFileSchema.fields.find(_.name == "meta").exists(
      _.dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
        .fieldNames.contains("fat")))
    val answerBefore = rows(Lake.readCommitted(spark, root))
    // PURGE: no DVs anywhere — the dead-column probe alone must drive
    // the rewrite
    val v = Lake.reorgCommitted(spark, root, retain = 0)
    assert(v > 0)
    // staged files lack the dead physical name; answers unchanged
    assert(firstFileSchema.fields.find(_.name == "meta").forall(
      !_.dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
        .fieldNames.contains("fat")))
    assert(rows(Lake.readCommitted(spark, root)) === answerBefore)
    assert(dataBytes < before / 4,
      s"purge must reclaim the fat column's bytes ($before -> $dataBytes)")
    // tombstone bookkeeping STAYS (re-mint safety is id-based): a
    // re-added `fat` mints a fresh id + phys name and reads NULL
    assert(Lake.reorgCommitted(spark, root, retain = 0) === v,
      "a second purge must be a no-op (no DVs, no dead bytes left)")
    spark.sql("DROP TABLE IF EXISTS cmv2purge")
    spark.sql(s"CREATE TABLE cmv2purge USING `graft-lake` OPTIONS (root '$root')")
    spark.sql("ALTER TABLE cmv2purge ADD COLUMN meta.fat STRING")
    assert(spark.sql(
      "SELECT count(*) FROM cmv2purge WHERE meta.fat IS NULL")
      .collect().head.getLong(0) === 400L)
    spark.sql("DROP TABLE cmv2purge")

    // top-level retired names purge the same way
    val root2 = tmpTable("graft-ret-purge")
    (Seq.empty[Int]: Seq[Int]) // keep linter quiet about style
    Lake.commitOverwrite((1L to 200L).map(k => (k, "y" * 2000, k))
      .toDF("k", "fat", "n"), root2, retain = 0)
    Lake.dropColumn(spark, root2, "fat", retain = 0)
    val ans2 = rows(Lake.readCommitted(spark, root2))
    Lake.reorgCommitted(spark, root2, retain = 0)
    assert(rows(Lake.readCommitted(spark, root2)) === ans2)
    val fs2 = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(root2), spark.sparkContext.hadoopConfiguration)
    val d2 = Lake.snapshotDirNames(spark, root2,
      Lake.currentVersion(spark, root2).get).head
    val f2 = new java.io.File(new java.io.File(root2, d2).getPath)
      .listFiles().find(_.getName.endsWith(".parquet")).get
    assert(!spark.read.parquet(f2.getPath).schema.fieldNames.contains("fat"))
  }

}
