package graft.sources

/** The PER-DIR state of one data dir in a manifest (`_commit_<v>`) or
  * segment (`_seg_<name>`): the raw JSON of the five per-dir line kinds
  * (Delta's `AddFile` action keeps a file's stats and its deletion
  * vector in one record; this is that record for a graft dir). The
  * companion owns the line grammar — [[parse]] and [[render]] are the
  * only reader and writer of these lines — and [[Lake.dirMeta]] serves
  * one cached parse per snapshot, keyed by dir.
  *
  * Entries are WHOLE: a commit that passes an entry for a dir replaces
  * every line of it (a deletion-vector commit passes the previous
  * entry with its new `dv`), and a dir without an entry carries its
  * previous lines verbatim ([[Lake.commitManifest]]).
  *
  * TOLERANCE: a malformed line reads as absent, never as an error — an
  * empty dir key, an `#fstats_` line without `/<file>`; the table-level
  * `#statscols=` is a different prefix and never reads as `#stats_`. A
  * repeated line keeps its LAST value.
  *
  * @param stats `#stats_<dir>=<json>` — the dir's min/max ranges on the
  *   table's stat columns ([[Lake.parseStatsJson]]).
  * @param files `#fstats_<dir>/<file>=<json>` — FILE-level ranges inside
  *   the dir, by file name; written by commits that pay one
  *   column-pruned pass over their fresh dir (clustering above all). A
  *   file on disk absent here is always kept.
  * @param bloom `#bloom_<dir>=<json>` — per-column Bloom filters
  *   ([[Lake.parseBloomJson]]).
  * @param part `#part_<dir>=<json>` — the dir's exact partition tuple
  *   ([[Lake.parsePartJson]]).
  * @param dv `#dv_<dir>=<json>` — the deletion vector, the one MUTABLE
  *   per-dir line ([[Lake.parseDvJson]]). */
private[graft] final case class DirMeta(
    stats: Option[String] = None,
    files: Map[String, String] = Map.empty,
    bloom: Option[String] = None,
    part: Option[String] = None,
    dv: Option[String] = None) {

  /** How many line KINDS the dir carries (the tiering threshold counts
    * a dir's `#fstats_` lines as one). */
  def kinds: Int =
    stats.size + (if (files.isEmpty) 0 else 1) + bloom.size + part.size + dv.size

  def isEmpty: Boolean = kinds == 0
}

private[graft] object DirMeta {
  val empty: DirMeta = DirMeta()

  private val StatsPrefix = "#stats_"
  private val FileStatsPrefix = "#fstats_"
  private val BloomPrefix = "#bloom_"
  private val PartPrefix = "#part_"
  private val DvPrefix = "#dv_"

  /** The dir a per-dir line describes (the override/drop key of tiered
    * expansion); None for table-level lines and dir names. */
  def perDirKey(l: String): Option[String] = {
    def keyOf(prefix: String, stopAtSlash: Boolean): Option[String] = {
      val eq = l.indexOf('=', prefix.length)
      if (eq <= prefix.length) None
      else {
        val k = l.substring(prefix.length, eq)
        if (stopAtSlash) {
          val s = k.indexOf('/')
          if (s > 0) Some(k.take(s)) else Some(k)
        } else Some(k)
      }
    }
    if (l.startsWith(FileStatsPrefix)) keyOf(FileStatsPrefix, true)
    else if (l.startsWith(StatsPrefix)) keyOf(StatsPrefix, false)
    else if (l.startsWith(BloomPrefix)) keyOf(BloomPrefix, false)
    else if (l.startsWith(PartPrefix)) keyOf(PartPrefix, false)
    else if (l.startsWith(DvPrefix)) keyOf(DvPrefix, false)
    else None
  }

  /** Parse the per-dir lines of an (expanded) body or a segment; every
    * other line is ignored. `keep` filters dirs by key BEFORE their
    * values are materialized — the carry's summary check reads a
    * handful of dirs out of a large segment. */
  def parse(lines: Seq[String],
      keep: String => Boolean = _ => true): Map[String, DirMeta] = {
    val acc = new java.util.HashMap[String, DirMeta](
      math.max(16, lines.knownSize))
    def entry(d: String): DirMeta = {
      val cur = acc.get(d)
      if (cur == null) empty else cur
    }
    lines.foreach { l =>
      val prefix =
        if (l.isEmpty || l.charAt(0) != '#') null
        else if (l.startsWith(StatsPrefix)) StatsPrefix
        else if (l.startsWith(FileStatsPrefix)) FileStatsPrefix
        else if (l.startsWith(BloomPrefix)) BloomPrefix
        else if (l.startsWith(PartPrefix)) PartPrefix
        else if (l.startsWith(DvPrefix)) DvPrefix
        else null
      val i = if (prefix == null) -1 else l.indexOf('=', prefix.length)
      if (prefix != null && i > prefix.length) {
        val key = l.substring(prefix.length, i)
        if (prefix eq FileStatsPrefix) {
          val s = key.indexOf('/')
          if (s > 0) {
            val d = key.substring(0, s)
            if (keep(d)) {
              val m = entry(d)
              acc.put(d, m.copy(files =
                m.files.updated(key.substring(s + 1), l.substring(i + 1))))
            }
          }
        } else if (keep(key)) {
          val j = Some(l.substring(i + 1))
          val m = entry(key)
          acc.put(key,
            if (prefix eq StatsPrefix) m.copy(stats = j)
            else if (prefix eq BloomPrefix) m.copy(bloom = j)
            else if (prefix eq PartPrefix) m.copy(part = j)
            else m.copy(dv = j))
        }
      }
    }
    val out = Map.newBuilder[String, DirMeta]
    acc.forEach((d, m) => out += d -> m)
    out.result()
  }

  /** The lines of dir `d`, in the CANONICAL order — stats, fstats sorted
    * by file, bloom, part, dv — that every writer emits (the tiered
    * carry compares and replaces whole per-dir line sets). */
  def render(d: String, m: DirMeta): Seq[String] =
    m.stats.map(StatsPrefix + d + "=" + _).toSeq ++
      m.files.toSeq.sortBy(_._1).map { case (f, j) => FileStatsPrefix + d + "/" + f + "=" + j } ++
      m.bloom.map(BloomPrefix + d + "=" + _) ++
      m.part.map(PartPrefix + d + "=" + _) ++
      m.dv.map(DvPrefix + d + "=" + _)

  /** The deletion vectors of a per-dir map: dir -> `#dv_` json. */
  def dvs(dirMeta: Map[String, DirMeta]): Map[String, String] =
    dirMeta.flatMap { case (d, m) => m.dv.map(d -> _) }

  /** The deletion vectors of `dirs` only — a scan that opens a subset
    * of the snapshot needs no other dir's vector. */
  def dvs(dirMeta: Map[String, DirMeta], dirs: Iterable[String]): Map[String, String] =
    dirs.iterator.flatMap(d => dirMeta.get(d).flatMap(_.dv).map(d -> _)).toMap
}
