package graft.sources

import org.apache.spark.sql.types.{DataType, StructType}

/** The TABLE-LEVEL state of one manifest (`_commit_<v>`): every
  * `#tag=` line that describes the snapshot as a whole rather than one
  * of its data dirs. The companion owns the line grammar — [[parse]]
  * and [[render]] are the only reader and writer of these 21 line
  * kinds — and [[Lake.tableMeta]] serves one cached parse per
  * manifest.
  *
  * Segments carry ONLY per-dir metadata, so every table-level line
  * lives INLINE in the marker body: the parse reads the RAW body
  * ([[Lake.manifestBodyRaw]]), which keeps metadata lookups
  * O(batch + log n) on tiered tables instead of forcing the O(dirs)
  * segment expansion [[Lake.manifestBody]] pays. Per-dir lines
  * (`#stats_`, `#fstats_`, `#bloom_`, `#part_`, `#dv_` — [[DirMeta]])
  * and the tiered bookkeeping (`#seg=`, `#segdrop=`, `#segsum_`) are
  * not part of it.
  *
  * INHERITANCE: every field except `schema`, `rows`, `op`, `ts` and
  * `requires` is table state — a commit starts from the previous
  * snapshot's `TableMeta` and changes only what its operation owns
  * (the `meta` update of [[Lake.commitManifest]]); the per-commit
  * fields are written fresh by every commit (a `None` writes no line).
  * Each manifest version carries its own copy, so time travel and
  * RESTORE see every version under the state it had.
  *
  * TOLERANCE: a malformed line reads as absent, never as an error —
  * an `#identity=` without `:` or a non-integer `#bucketby=` count is
  * None, a `#check=` / `#genpart=` / `#gencol=` without a name is
  * skipped. Single-valued kinds keep their FIRST line; `#prop_` keys
  * keep their LAST value.
  *
  * @param schema `#schema=<DataType json>` — the committed table
  *   schema: appends MERGE it (add-nullable-column evolution) and
  *   readers pass it to the scan explicitly — which both makes
  *   mixed-schema snapshots read correctly (files missing a column
  *   yield NULLs) and skips footer-based schema inference entirely (at
  *   100 TB, one manifest read instead of a list-and-read-footers
  *   job). Manifests written before this line existed read as before
  *   (inferred schema). Column DEFAULTs ride inside it as field
  *   metadata (`#require=default`).
  * @param rows `#rows=<n>` — the snapshot's exact row count, carried
  *   when the writer knows it (a load counts its fresh rows anyway; an
  *   append adds the batch to the previous snapshot's count;
  *   compaction is row-preserving). Metadata-only `count(*)`: on a
  *   100 TB table the count answers from ONE manifest read instead of
  *   a full scan. Absent when a writer could not know it cheaply (e.g.
  *   a merge with deletes) — honesty over a counting job; the chain
  *   resumes at the next counted commit.
  * @param op `#op=` — the operation that committed the version
  *   (DESCRIBE HISTORY, the append rebase's row-preserving test, the
  *   fold-table guards).
  * @param ts `#ts=<epoch millis>` — the commit instant, stamped INTO
  *   the manifest body at publish. `TIMESTAMP AS OF` /
  *   `startingTimestamp` / DESCRIBE HISTORY resolve from this line,
  *   NOT from the marker file's mtime: a table-root backup/restore,
  *   `cp -r` migration, or object-store copy rewrites mtimes and would
  *   silently re-date the whole history (re-resolving past
  *   time-travel queries to different versions). The line travels
  *   with the bytes. Pre-existing manifests without the line fall back
  *   to mtime ([[Lake.commitMillis]]) — same answer they always gave.
  * @param statsCols `#statscols=<c1,c2>` — the table's STAT COLUMNS,
  *   established by the first commit passing `statsCols` and inherited
  *   by every later commit, so a commit path that computes no stats
  *   (e.g. the streaming fold) doesn't sever the chain — its new dir
  *   is merely unstat'd.
  * @param bloomCols `#bloomcols=<c1,c2>` — the BLOOM COLUMNS,
  *   established and inherited like stat columns.
  * @param partCols `#partcols=<c1,c2>` — the PARTITION COLUMNS,
  *   established by the first commit passing `partitionBy` and
  *   inherited so COW rewrites and folds never sever the declared
  *   layout. Forward-only evolution (a later declaration governs new
  *   dirs, old dirs keep their `#part_` tuples) stamps no `#require=`
  *   feature: old builds read evolved tables through the same
  *   keep-when-untupled rule.
  * @param bucketBy `#bucketby=<n>:<c1,c2>` — the table CO-LOCATION
  *   layout, established by the first commit passing `bucketBy`,
  *   inherited by every later commit and COW rewrite; a divergent
  *   re-declaration is refused (one layout per table, like
  *   `#partcols`). Semantics-bearing (`bucket`): a build that ignored
  *   it would stage plain files into a bucketed table.
  * @param checks `#check=<name>:<sql expression>` lines, one per CHECK
  *   constraint, inherited like every table-property line and replaced
  *   by ADD/DROP CONSTRAINT (and by RESTORE, to the target's set).
  * @param colMap the flat LOGICAL → PHYSICAL column-name map for the
  *   columns whose names diverge (Delta's column-mapping 'name' mode):
  *   `#colmap=<logical>:<physical>,…`, or — on an id-mode table —
  *   DERIVED from `colMap2` ([[Lake.flatColMap]]). Under id-mode the v1
  *   line is not written (writing both would be a dual source of
  *   truth). Empty = identity. Semantics-bearing (`colmap`): a
  *   pre-colmap build would read dropped columns' bytes back.
  * @param colMap2 `#colmap2=<json>` — the id-mode field tree (ids,
  *   containers, logical and frozen physical names, tombstones).
  *   Semantics-bearing (`colmap2`): a build without it would drop the
  *   tree on commit-on-top, losing the tombstones that keep dropped
  *   nested bytes unreachable on re-add. It RECONCILES against the
  *   committed schema at the commit choke point rather than simply
  *   inheriting.
  * @param retired `#colretired=<p1,p2>` — physical names retired by
  *   DROP COLUMN, so a re-add of the same logical name allocates a
  *   fresh physical name instead of resurrecting the dropped bytes.
  *   Inherits; counts toward `colmap`.
  * @param genParts `#genpart=<col>:<exprText>` — GENERATED columns that
  *   participate in the partition layout (Delta's `GENERATED ALWAYS
  *   AS`). Semantics-bearing (`genpart`).
  * @param genCols `#gencol=<col>:<exprText>` — the same contract for
  *   generated columns outside the partition layout. Semantics-bearing
  *   (`gencol`): an old build's omitting append would commit them
  *   NULL.
  * @param genTz `#genparttz=<zone>` — the session time zone generated
  *   expressions evaluate under, pinned at ESTABLISHMENT (a different
  *   writer session must not re-date it) and inherited; written only
  *   while the table has generated columns.
  * @param props `#prop_<key>=<value>` — durable table properties
  *   (Delta's TBLPROPERTIES), inherited by every commit and replaced
  *   only by the property DDL (and RESTORE).
  * @param identity `#identity=<col>:<next>` — the identity declaration
  *   and its high-water mark. Allocating commits advance the mark
  *   ATOMICALLY with the rows that consumed it; restore re-points
  *   both. Semantics-bearing (`identity`).
  * @param idMode `#idmode=bydefault` — GENERATED BY DEFAULT (absent =
  *   ALWAYS). Inherits with the declaration and is written only with
  *   an identity. Semantics-bearing (`idmode`): an old build committing
  *   on top would drop the line and silently revert the allocator to
  *   ALWAYS.
  * @param rowId `#rowid=<next>` — the row-tracking high-water mark.
  *   Metadata commits and COW rewrites allocate nothing and inherit
  *   it; allocating commits advance it atomically with their rows;
  *   RESTORE sets it authoritatively (None restores to untracked).
  *   Semantics-bearing (`rowtracking`): an old build's append would
  *   not stamp ids, silently breaking keyless update pairing.
  * @param ingested `#ingested=<fileName>:<len>` — the COPY INTO file
  *   ledger. Inherits (a plain append between two COPYs must not
  *   amnesia the loaded set). Semantics-bearing (`ingest`): a
  *   pre-ingest build committing on top would rebuild the body without
  *   the ledger, after which a re-run COPY INTO re-loads every landing
  *   file and doubles rows.
  * @param requires `#require=<feature,…>` — EXACTLY the
  *   semantics-bearing features this snapshot carries, derived afresh
  *   by every commit (see [[Lake.SupportedFeatures]] and the gate in
  *   [[Lake.checkRequiredFeatures]], which reads the raw lines through
  *   [[TableMeta.requiresOf]] before any parse). */
private[graft] final case class TableMeta(
    schema: Option[StructType] = None,
    rows: Option[Long] = None,
    op: Option[String] = None,
    ts: Option[Long] = None,
    statsCols: Seq[String] = Nil,
    bloomCols: Seq[String] = Nil,
    partCols: Seq[String] = Nil,
    bucketBy: Option[(Int, Seq[String])] = None,
    checks: Seq[(String, String)] = Nil,
    colMap: Map[String, String] = Map.empty,
    colMap2: Option[Lake.ColMapV2] = None,
    retired: Seq[String] = Nil,
    genParts: Seq[(String, String)] = Nil,
    genCols: Seq[(String, String)] = Nil,
    genTz: Option[String] = None,
    props: Map[String, String] = Map.empty,
    identity: Option[(String, Long)] = None,
    idMode: Option[String] = None,
    rowId: Option[Long] = None,
    ingested: Seq[String] = Nil,
    requires: Seq[String] = Nil) {

  /** EVERY generated column, partition-participating or not — the
    * spelling the write-side contract (materialize + validate) and the
    * DDL guards consume. */
  def genAll: Seq[(String, String)] = genParts ++ genCols

  /** A commit's layout declaration: each NON-EMPTY column list (and a
    * defined bucket layout) replaces the inherited one, an empty one
    * inherits — the rule the `effective*` validators resolve against. */
  def declaring(statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil,
      partCols: Seq[String] = Nil,
      bucketBy: Option[(Int, Seq[String])] = None): TableMeta =
    copy(
      statsCols = if (statsCols.nonEmpty) statsCols else this.statsCols,
      bloomCols = if (bloomCols.nonEmpty) bloomCols else this.bloomCols,
      partCols = if (partCols.nonEmpty) partCols else this.partCols,
      bucketBy = bucketBy.orElse(this.bucketBy))
}

private[graft] object TableMeta {
  val empty: TableMeta = TableMeta()

  private val SchemaPrefix = "#schema="
  private val RowsPrefix = "#rows="
  private val OpPrefix = "#op="
  private val TsPrefix = "#ts="
  // `#statscols=` is a DIFFERENT prefix from the per-dir `#stats_`
  private val StatsColsPrefix = "#statscols="
  private val BloomColsPrefix = "#bloomcols="
  private val PartColsPrefix = "#partcols="
  private val BucketByPrefix = "#bucketby="
  private val CheckPrefix = "#check="
  private val ColMapPrefix = "#colmap="
  private val ColMap2Prefix = "#colmap2="
  private val ColRetiredPrefix = "#colretired="
  private val GenPartPrefix = "#genpart="
  private val GenColPrefix = "#gencol="
  private val GenTzPrefix = "#genparttz="
  private val PropPrefix = "#prop_"
  private val IdentityPrefix = "#identity="
  private val IdModePrefix = "#idmode="
  private val RowIdPrefix = "#rowid="
  private val IngestedPrefix = "#ingested="
  private val RequirePrefix = "#require="

  private def firstOf(lines: Seq[String], p: String): Option[String] =
    lines.collectFirst { case l if l.startsWith(p) => l.substring(p.length) }

  private def colList(s: String): Seq[String] =
    s.split(",").iterator.map(_.trim).filter(_.nonEmpty).toSeq

  /** `<name><sep><value>` lines of one kind; a line without a name
    * before `sep` is skipped. */
  private def pairsOf(lines: Seq[String], p: String,
      sep: Char): Seq[(String, String)] =
    lines.collect {
      case l if l.startsWith(p) && l.indexOf(sep, p.length) > p.length =>
        val i = l.indexOf(sep, p.length)
        l.substring(p.length, i) -> l.substring(i + 1)
    }

  /** The `#require=` feature list of raw manifest lines — the one
    * spelling of it, shared by the parse and the feature gate (which
    * must run on the raw lines BEFORE any other interpretation). */
  def requiresOf(lines: Seq[String]): Seq[String] =
    firstOf(lines, RequirePrefix).map(colList).getOrElse(Nil)

  /** Parse the table-level lines of a RAW manifest body; every other
    * line is ignored. */
  def parse(lines: Seq[String]): TableMeta = {
    val colMap2 = firstOf(lines, ColMap2Prefix).flatMap(Lake.parseColMap2)
    TableMeta(
      schema = firstOf(lines, SchemaPrefix)
        .map(j => DataType.fromJson(j).asInstanceOf[StructType]),
      rows = firstOf(lines, RowsPrefix).flatMap(_.toLongOption),
      op = firstOf(lines, OpPrefix),
      ts = firstOf(lines, TsPrefix).flatMap(_.toLongOption),
      statsCols = firstOf(lines, StatsColsPrefix).map(colList).getOrElse(Nil),
      bloomCols = firstOf(lines, BloomColsPrefix).map(colList).getOrElse(Nil),
      partCols = firstOf(lines, PartColsPrefix).map(colList).getOrElse(Nil),
      bucketBy = firstOf(lines, BucketByPrefix).flatMap { body =>
        val i = body.indexOf(':')
        if (i <= 0) None
        else body.take(i).toIntOption.map(n => (n, colList(body.drop(i + 1))))
      },
      checks = pairsOf(lines, CheckPrefix, ':'),
      colMap = colMap2.map(Lake.flatColMap).getOrElse(
        firstOf(lines, ColMapPrefix).map(colList(_).flatMap { e =>
          val i = e.indexOf(':')
          if (i <= 0) None else Some(e.take(i) -> e.drop(i + 1))
        }.toMap).getOrElse(Map.empty)),
      colMap2 = colMap2,
      retired = firstOf(lines, ColRetiredPrefix).map(colList).getOrElse(Nil),
      genParts = pairsOf(lines, GenPartPrefix, ':'),
      genCols = pairsOf(lines, GenColPrefix, ':'),
      genTz = firstOf(lines, GenTzPrefix),
      props = pairsOf(lines, PropPrefix, '=').toMap,
      identity = firstOf(lines, IdentityPrefix).flatMap { body =>
        val i = body.lastIndexOf(':')
        if (i <= 0) None
        else body.drop(i + 1).toLongOption.map(n => (body.take(i), n))
      },
      idMode = firstOf(lines, IdModePrefix),
      rowId = firstOf(lines, RowIdPrefix).flatMap(_.toLongOption),
      ingested = lines.collect {
        case l if l.startsWith(IngestedPrefix) => l.substring(IngestedPrefix.length)
      },
      requires = requiresOf(lines))
  }

  /** The table-level lines of `m`, in manifest order. Conditional
    * lines: the v1 `#colmap=` only without a `#colmap2` tree,
    * `#idmode=` only with an identity, `#genparttz=` only with
    * generated columns; empty lists and maps write nothing. */
  def render(m: TableMeta): Seq[String] = {
    def cols(p: String, cs: Seq[String]): Seq[String] =
      if (cs.isEmpty) Nil else Seq(p + cs.mkString(","))
    m.op.map(OpPrefix + _).toSeq ++
      m.ts.map(TsPrefix + _) ++
      m.schema.map(s => SchemaPrefix + s.json) ++
      m.rows.map(RowsPrefix + _) ++
      cols(StatsColsPrefix, m.statsCols) ++
      cols(BloomColsPrefix, m.bloomCols) ++
      cols(PartColsPrefix, m.partCols) ++
      m.bucketBy.map { case (n, cs) => BucketByPrefix + n + ":" + cs.mkString(",") } ++
      m.checks.map { case (n, e) => CheckPrefix + n + ":" + e } ++
      (if (m.colMap.nonEmpty && m.colMap2.isEmpty)
        Seq(ColMapPrefix + m.colMap.toSeq.sorted
          .map { case (l, p) => s"$l:$p" }.mkString(","))
       else Nil) ++
      m.colMap2.map(v2 => ColMap2Prefix + Lake.colMap2Json(v2)) ++
      cols(ColRetiredPrefix, m.retired) ++
      m.genParts.map { case (c, e) => GenPartPrefix + c + ":" + e } ++
      m.genCols.map { case (c, e) => GenColPrefix + c + ":" + e } ++
      (if (m.genAll.nonEmpty) m.genTz.map(GenTzPrefix + _).toSeq else Nil) ++
      m.props.toSeq.sortBy(_._1).map { case (k, v) => PropPrefix + k + "=" + v } ++
      m.identity.map { case (c, n) => IdentityPrefix + c + ":" + n } ++
      (if (m.identity.nonEmpty) m.idMode.map(IdModePrefix + _).toSeq else Nil) ++
      m.rowId.map(RowIdPrefix + _) ++
      m.ingested.map(IngestedPrefix + _) ++
      cols(RequirePrefix, m.requires)
  }
}
