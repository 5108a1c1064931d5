package graft

import graft.sources.DirMeta

/** The per-dir manifest codec: [[DirMeta.parse]] keeps the tolerance of
  * the five line readers it replaced, [[DirMeta.render]] writes the
  * canonical line order, and the two round-trip the per-dir lines of
  * every manifest and segment a history of every commit op produces. */
class DirMetaSpec extends SparkSpec {

  test("malformed per-dir lines read as absent, as the per-kind readers did") {
    val m = DirMeta.parse(Seq(
      "#stats_={\"k\":1}", "#bloom_=b", "#part_=p", "#dv_=v",
      "#fstats_=f", "#fstats_/f=x",
      "#fstats_d2=nofile",
      "#statscols=k",
      "#stats_nodelim",
      "d1", "#op=append",
      "#stats_d1={\"k\":1}",
      "#stats_d1={\"k\":2}",
      "#fstats_d1/f2=b", "#fstats_d1/f1=a", "#fstats_d1/f1=a2",
      "#dv_d3={\"f\":[1]}"))
    assert(m === Map(
      "d1" -> DirMeta(stats = Some("{\"k\":2}"),
        files = Map("f1" -> "a2", "f2" -> "b")),
      "d3" -> DirMeta(dv = Some("{\"f\":[1]}"))),
      "empty dir keys, an #fstats_ line without /file and #statscols= " +
        "read as absent; a repeated line keeps its last value")
    assert(DirMeta.parse(Seq("#stats_d1=a", "#part_d2=p"), _ == "d2") ===
      Map("d2" -> DirMeta(part = Some("p"))))
    assert(DirMeta.perDirKey("#fstats_d1/f=x") === Some("d1"))
    assert(DirMeta.perDirKey("#statscols=k").isEmpty)
    assert(DirMeta.perDirKey("#segsum_s=x").isEmpty)
  }

  test("render writes stats, fstats sorted by file, bloom, part, dv") {
    val m = DirMeta(stats = Some("S"), files = Map("f2" -> "B", "f1" -> "A"),
      bloom = Some("L"), part = Some("P"), dv = Some("V"))
    val lines = DirMeta.render("d", m)
    assert(lines === Seq("#stats_d=S", "#fstats_d/f1=A", "#fstats_d/f2=B",
      "#bloom_d=L", "#part_d=P", "#dv_d=V"))
    assert(DirMeta.parse(lines) === Map("d" -> m))
    assert(m.kinds === 5 && DirMeta.empty.isEmpty)
    assert(DirMeta.render("d", DirMeta(dv = Some("V"))) === Seq("#dv_d=V"))
    assert(DirMeta.dvs(Map("d" -> m, "e" -> DirMeta(stats = Some("S")))) ===
      Map("d" -> "V"))
  }

  test("render(parse(lines)) reproduces the per-dir lines of every manifest and segment of a full history") {
    val base = java.nio.file.Files.createTempDirectory("graft-dirmeta").toString
    val roots = ManifestHistory.run(spark, base)
    var files = 0
    val seen = scala.collection.mutable.Set.empty[String]
    roots.foreach { r =>
      new java.io.File(r).listFiles().toSeq
        .filter(f => (f.getName.startsWith("_commit_") ||
          f.getName.startsWith("_seg_")) && !f.getName.endsWith(".tmp"))
        .foreach { f =>
          val src = scala.io.Source.fromFile(f, "UTF-8")
          val lines = try src.getLines().map(_.trim).filter(_.nonEmpty).toList
            finally src.close()
          val want = lines.filter(DirMeta.perDirKey(_).isDefined)
          val parsed = DirMeta.parse(lines)
          val dirs = want.flatMap(DirMeta.perDirKey).distinct
          assert(dirs.flatMap(d => DirMeta.render(d, parsed(d))) === want,
            s"${f.getPath} does not round-trip")
          want.foreach(l => seen += l.takeWhile(_ != '_'))
          files += 1
        }
    }
    assert(files > 40)
    assert(seen.toSet === Set("#stats", "#fstats", "#bloom", "#part", "#dv"),
      "the history must write every per-dir line kind")
  }
}
