package graft

import graft.sources.{Lake, LakeMergeInsert, LakeMergeUpdate}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types.{IntegerType, LongType, StringType}

/** A scripted history that commits every kind of lake operation, so
  * that the manifests it leaves carry every table-level and per-dir
  * line kind:
  * stats / bloom / partition appends, CHECK add and drop, properties,
  * DV delete, update, MERGE, REORG purge, compaction, z-order (per
  * partition and unpartitioned), rename
  * (v1 map), added / widened / defaulted columns, schema evolution,
  * CDC merges, restore, identity BY DEFAULT, row tracking, generated partition and
  * plain columns, id-mode upgrade and drop (`#colmap2` + `#colretired`),
  * nested DDL, COPY INTO, a bucketed shallow clone, a streaming fold
  * commit, CONVERT, a SQL CREATE with an identity start, and a tiered
  * table with restores across its deletion vector. `TableMetaSpec` and
  * `DirMetaSpec` round-trip every manifest (and segment) it writes.
  *
  * As a main it also dumps every manifest and segment, normalized, for
  * comparing two builds byte for byte:
  * {{{
  * sbt "Test/runMain graft.ManifestHistory /tmp/hist"   # writes /tmp/hist/dump.txt
  * }}}
  * The dump drops `#ts=` lines, writes the output dir as `<base>`, and
  * renames the writer nonces (`z…` data dirs, `_seg_…` segments,
  * data-file uuids) to `z#1`, `_seg_#2`, `uuid#3`, … in order of first
  * appearance; everything else is the file bytes. */
object ManifestHistory {

  /** Run the history under `base`; returns the table roots written. */
  def run(spark: SparkSession, base: String): Seq[String] = {
    import spark.implicits._
    val retain = 100
    def root(n: String) = new java.io.File(base, n).getAbsolutePath

    // -- a: partitioned, stats + blooms, every row and metadata op
    val a = root("a")
    def rowsA(ks: Seq[Int]) =
      ks.map(k => (k.toLong, s"c${k % 2}", k * 1.5)).toDF("k", "cat", "v")
    Lake.commitOverwrite(rowsA(1 to 6), a, retain = retain,
      rowCount = Some(6L), statsCols = Seq("k", "v"), bloomCols = Seq("k"),
      partitionBy = Seq("cat"))
    Lake.commitAppend(rowsA(7 to 9), a, retain = retain, rowCount = Some(3L))
    Lake.addCheckConstraint(spark, a, "pos", "v >= 0", retain = retain)
    Lake.commitAppend(rowsA(10 to 11), a, retain = retain)
    Lake.dropCheckConstraint(spark, a, "pos", retain = retain)
    Lake.setTableProperties(spark, a,
      Map("owner" -> "etl", "graft.retain" -> "100"), retain = retain)
    Lake.unsetTableProperties(spark, a, Seq("owner"), retain = retain)
    Lake.deleteWhere(spark, a, col("k") === 3L, retain = retain)
    Lake.updateWhere(spark, a, col("k") === 4L, Map("v" -> lit(99.0)),
      retain = retain)
    Lake.mergeInto(spark, a, rowsA(Seq(5, 12)).toDF("sk", "scat", "sv"),
      on = Seq((col("t.k"), col("sk"))),
      matched = Seq(LakeMergeUpdate(None, Map("v" -> col("s.sv")))),
      notMatched = Seq(LakeMergeInsert(None, Map(
        "k" -> col("s.sk"), "cat" -> col("s.scat"), "v" -> col("s.sv")))),
      retain = retain)
    Lake.deleteWhere(spark, a, col("k") === 6L, retain = retain)
    Lake.reorgCommitted(spark, a, retain = retain)
    Lake.compactCommitted(spark, a, retain = retain)
    Lake.clusterCommitted(spark, a, Seq("k"), retain = retain)
    Lake.renameColumn(spark, a, "v", "value", retain = retain)
    Lake.addColumns(spark, a, Seq("n" -> IntegerType), retain = retain)
    Lake.alterColumnType(spark, a, "n", LongType, retain = retain)
    Lake.addColumnWithDefault(spark, a, "d", IntegerType, "7", retain = retain)
    Lake.alterColumnDefaults(spark, a, Seq("d" -> Some("8")), retain = retain)
    Lake.evolveSchema(spark, a,
      Lake.readCommitted(spark, a).schema.add("note", StringType),
      retain = retain)
    Lake.restoreCommitted(spark, a, 3L, retain = retain)

    // -- b: identity BY DEFAULT, row tracking, generated columns,
    //    id-mode upgrade and drop, nested DDL
    val b = root("b")
    def rowsB(ks: Seq[Int]) = ks.map(k =>
      (java.sql.Timestamp.valueOf(f"2024-01-${k % 3 + 1}%02d 10:00:00"),
        k.toLong, k * 2.0, (k, s"m$k"))).toDF("ts", "k", "v", "meta")
    Lake.commitOverwrite(rowsB(1 to 4), b, retain = retain,
      statsCols = Seq("k"), partitionBy = Seq("day"),
      generatedColumns = Map("day" -> "to_date(ts)", "kk" -> "k * 2"),
      identity = Some("id"), identityByDefault = true, rowTracking = true)
    Lake.commitAppend(rowsB(5 to 6), b, retain = retain)
    Lake.updateWhere(spark, b, col("k") === 2L, Map("v" -> lit(0.0)),
      retain = retain)
    Lake.upgradeColumnMapping(spark, b, retain = retain)
    Lake.renameNestedColumn(spark, b, Seq("meta", "_2"), "label",
      retain = retain)
    Lake.addNestedColumn(spark, b, Seq("meta", "extra"), StringType,
      retain = retain)
    Lake.dropColumn(spark, b, "v", retain = retain)
    Lake.commitAppend(rowsB(7 to 8).drop("v").select(col("ts"), col("k"),
      col("meta._1").as("_1"), col("meta._2").as("label"))
      .selectExpr("ts", "k", "named_struct('_1', _1, 'label', label, " +
        "'extra', cast(null as string)) as meta"), b, retain = retain)

    // -- c: COPY INTO from a landing dir
    val c = root("c")
    val landing = root("landing")
    Lake.commitOverwrite(Seq((0L, "seed")).toDF("k", "t"), c, retain = retain)
    Seq(1, 2).foreach { i =>
      Seq((i.toLong, s"f$i")).toDF("k", "t").coalesce(1).write
        .parquet(root(s"stage$i"))
      val f = new java.io.File(root(s"stage$i")).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      new java.io.File(landing).mkdirs()
      java.nio.file.Files.copy(f.toPath,
        new java.io.File(landing, s"part$i.parquet").toPath)
    }
    Lake.copyInto(spark, c, landing, retain = retain)

    // -- d → e: bucketed table and its shallow clone
    val d = root("d")
    Lake.commitOverwrite((1 to 8).map(k => (k.toLong, s"t$k")).toDF("k", "t"),
      d, retain = retain, statsCols = Seq("k"), bucketBy = Some((4, Seq("k"))))
    val e = root("e")
    Lake.cloneCommitted(spark, d, e, retain = retain)

    // -- f: streaming fold commits (pre-written version dirs)
    val f = root("f")
    Seq(0L, 1L).foreach { v =>
      val batch = Seq((v, s"fold$v")).toDF("k", "t")
      batch.write.parquet(new java.io.File(f, s"v$v").getAbsolutePath)
      Lake.commitVersion(spark, f, v, if (v == 0L) Seq("v0") else Seq("v0", "v1"),
        retain, Some(batch.schema))
    }

    // -- g: CONVERT a plain parquet dir
    val g = root("g")
    Seq((1L, "x"), (2L, "y")).toDF("k", "t").coalesce(1).write.parquet(g)
    Lake.convertParquet(spark, g, statsCols = Seq("k"), bloomCols = Seq("k"),
      retain = retain)

    // -- h: SQL CREATE with an identity START WITH
    val h = root("h")
    spark.sql("DROP TABLE IF EXISTS manifest_history_h")
    spark.sql(
      s"""CREATE TABLE manifest_history_h (
         |  id BIGINT GENERATED BY DEFAULT AS IDENTITY (START WITH 100),
         |  name STRING
         |) USING `graft-lake` OPTIONS (root '$h')""".stripMargin)
    spark.sql("INSERT INTO manifest_history_h (name) VALUES ('alloc')")
    spark.sql("DROP TABLE manifest_history_h")

    // -- i: a tiered table (segments, drops, overrides)
    val i = root("i")
    Lake.commitOverwrite(Seq((0L, "t0")).toDF("k", "t"), i, retain = retain,
      rowCount = Some(1L), statsCols = Seq("k"))
    Lake.setTableProperties(spark, i, Map("graft.seg.threshold" -> "4"),
      retain = retain)
    (1 to 6).foreach(k => Lake.commitAppend(Seq((k.toLong, s"t$k")).toDF("k", "t"),
      i, retain = retain, rowCount = Some(1L)))
    Lake.deleteWhere(spark, i, col("k") === 2L, retain = retain)
    val iDv = Lake.currentVersion(spark, i).get
    Lake.compactCommitted(spark, i, retain = retain, minBytes = 1L << 30)
    Lake.restoreCommitted(spark, i, iDv, retain = retain)
    Lake.restoreCommitted(spark, i, iDv - 1, retain = retain)

    // -- j: CDC-shaped MERGE, copy-on-write and deletion-vector paths
    val j = root("j")
    def changes(rs: (Long, Long, String, Boolean)*) =
      rs.toDF("k", "ver", "t", "is_del")
    Lake.commitOverwrite(Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("k", "ver", "t"),
      j, retain = retain, statsCols = Seq("k"))
    Lake.commitAppend(Seq((3L, 5L, "c")).toDF("k", "ver", "t"), j, retain = retain)
    Lake.mergeCommitted(spark, j, changes((2L, 21L, "B", false), (3L, 6L, "c", true)),
      Seq("k"), "ver", "is_del", retain = retain, dvMaxRows = 0L)
    Lake.mergeCommitted(spark, j, changes((1L, 11L, "A", false)),
      Seq("k"), "ver", "is_del", retain = retain)
    Lake.clusterCommitted(spark, j, Seq("k"), retain = retain)

    Seq(a, b, c, d, e, f, g, h, i, j)
  }

  /** Every manifest (`_commit_<v>`, in version order) and segment of
    * the roots under `base`, with `#ts=` lines dropped, `base` written
    * as `<base>`, and writer nonces (staged dirs, segments, data-file
    * uuids) renamed in order of first appearance. */
  def normalizedDump(base: String, roots: Seq[String]): String = {
    val names = scala.collection.mutable.LinkedHashMap.empty[String, String]
    val nonce = ("(z[0-9a-f]{12}|_seg_[0-9a-f]{12}|" +
      "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12})").r
    def norm(l: String): String = nonce.replaceAllIn(
      l.replace(new java.io.File(base).getAbsolutePath, "<base>"), m =>
        names.getOrElseUpdate(m.matched,
          (if (m.matched.startsWith("z")) "z#"
           else if (m.matched.startsWith("_seg_")) "_seg_#" else "uuid#") +
            (names.size + 1)))
    val out = new StringBuilder
    roots.foreach { r =>
      val files = new java.io.File(r).listFiles().toSeq.map(_.getName)
      val commits = files.filter(n => n.startsWith("_commit_") &&
        !n.endsWith(".tmp")).sortBy(_.stripPrefix("_commit_").toLong)
      def lines(n: String) = scala.io.Source.fromFile(new java.io.File(r, n),
        "UTF-8").getLines().toList
      val rootName = new java.io.File(r).getName
      commits.foreach { n =>
        out ++= s"== $rootName/$n\n"
        lines(n).filterNot(_.startsWith("#ts=")).foreach(l => out ++= norm(l) + "\n")
      }
      // segments in the order their names first appeared
      val segs = files.filter(_.startsWith("_seg_"))
        .sortBy(s => names.keys.toSeq.indexOf(s))
      segs.foreach { n =>
        out ++= s"== $rootName/${norm(n)}\n"
        lines(n).foreach(l => out ++= norm(l) + "\n")
      }
    }
    out.toString
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 1, "usage: ManifestHistory <empty output dir>")
    val base = new java.io.File(args(0))
    require(!base.exists() || base.list().isEmpty, s"$base is not empty")
    base.mkdirs()
    val tables = new java.io.File(base, "tables").getAbsolutePath
    val roots = run(SparkSpec.spark, tables)
    val dump = normalizedDump(tables, roots)
    java.nio.file.Files.write(new java.io.File(base, "dump.txt").toPath,
      dump.getBytes("UTF-8"))
    println(s"MANIFEST_HISTORY roots=${roots.size} lines=${dump.count(_ == '\n')}")
    SparkSpec.spark.stop()
  }
}
