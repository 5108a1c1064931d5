package graft

import graft.sources.{Lake, TableMeta}

/** The table-level manifest codec: [[TableMeta.parse]] keeps the
  * tolerance of the line readers it replaced, and [[TableMeta.render]]
  * writes back exactly the table-level lines of every manifest a
  * history of every commit op produces. */
class TableMetaSpec extends SparkSpec {

  private val tableLevel = Seq("#schema=", "#rows=", "#op=", "#ts=",
    "#statscols=", "#bloomcols=", "#partcols=", "#bucketby=", "#check=",
    "#colmap=", "#colmap2=", "#colretired=", "#genpart=", "#gencol=",
    "#genparttz=", "#prop_", "#identity=", "#idmode=", "#rowid=",
    "#ingested=", "#require=")

  test("malformed lines read as absent, as the per-kind readers did") {
    val m = TableMeta.parse(Seq(
      "#identity=nocolon",
      "#bucketby=four:k",
      "#check=nocolon",
      "#check=ok:k > 0",
      "#genpart=nocolon",
      "#genpart=day:to_date(ts)",
      "#gencol=:k * 2",
      "#prop_a=1",
      "#prop_b=2",
      "#prop_a=3",
      "#schema={\"type\":\"struct\",\"fields\":[]}",
      "#schema=not json",
      "#rows=many",
      "#require= dv , ,colmap"))
    assert(m.identity.isEmpty)
    assert(m.bucketBy.isEmpty)
    assert(m.checks === Seq("ok" -> "k > 0"))
    assert(m.genParts === Seq("day" -> "to_date(ts)"))
    assert(m.genCols.isEmpty)
    assert(m.props === Map("a" -> "3", "b" -> "2"), "a duplicate #prop_ key keeps the last value")
    assert(m.schema.exists(_.isEmpty), "a second #schema= line is ignored")
    assert(m.rows.isEmpty)
    assert(m.requires === Seq("dv", "colmap"))
    assert(TableMeta.requiresOf(Seq("#require=seg,dv")) === Seq("seg", "dv"))
  }

  test("render writes the conditional lines only with what they qualify") {
    val v2 = Lake.ColMapV2(2, Seq(Lake.ColMapField(1, 0, "a", "b")), Nil)
    val m = TableMeta(colMap = Map("a" -> "b"), colMap2 = Some(v2),
      idMode = Some("bydefault"), genTz = Some("UTC"))
    val lines = TableMeta.render(m)
    assert(!lines.exists(_.startsWith("#colmap=")), "v1 map only without #colmap2")
    assert(lines.exists(_.startsWith("#colmap2=")))
    assert(!lines.exists(_.startsWith("#idmode=")), "#idmode only with an identity")
    assert(!lines.exists(_.startsWith("#genparttz=")), "#genparttz only with generated columns")
    val withDecls = TableMeta.render(m.copy(colMap2 = None,
      identity = Some(("id", 5L)), genCols = Seq("kk" -> "k * 2")))
    assert(withDecls === Seq("#colmap=a:b", "#gencol=kk:k * 2",
      "#genparttz=UTC", "#identity=id:5", "#idmode=bydefault"))
    // the colmap2 tree round-trips and derives the flat map
    val back = TableMeta.parse(lines)
    assert(back.colMap2 === Some(v2) && back.colMap === Map("a" -> "b"))
  }

  test("render(parse(manifest)) reproduces the table-level lines of every manifest of a full history") {
    val base = java.nio.file.Files.createTempDirectory("graft-tablemeta").toString
    val roots = ManifestHistory.run(spark, base)
    var manifests = 0
    val seen = scala.collection.mutable.Set.empty[String]
    roots.foreach { r =>
      new java.io.File(r).listFiles().toSeq
        .filter(f => f.getName.startsWith("_commit_") && !f.getName.endsWith(".tmp"))
        .foreach { f =>
          val src = scala.io.Source.fromFile(f, "UTF-8")
          val lines = try src.getLines().map(_.trim).filter(_.nonEmpty).toList
            finally src.close()
          val want = lines.filter(l => tableLevel.exists(l.startsWith))
          assert(TableMeta.render(TableMeta.parse(lines)) === want,
            s"${f.getPath} does not round-trip")
          want.foreach(l => seen += tableLevel.find(l.startsWith).get)
          manifests += 1
        }
    }
    assert(manifests > 40)
    assert(seen.toSet === tableLevel.toSet,
      s"the history never wrote ${tableLevel.filterNot(seen).mkString(", ")}")
  }
}
