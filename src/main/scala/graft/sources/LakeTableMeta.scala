package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Table-level metadata state: partition/bucket layout, CHECK constraints, durable properties, generated and identity columns, the COPY INTO ledger, and column mapping with its DDL.
  *
  * Mechanically split from the [[Lake]] object (one object, many
  * files): every member keeps its semantics and its package-private
  * reach; [[Lake]] mixes the traits back into the single public
  * surface. See Lake.scala for the protocol overview. */
private[graft] trait LakeTableMeta { this: Lake.type =>

  // ---- hive-style partition columns as first-class prune keys ------
  //
  // `#partcols=<c1,c2>` names the table's PARTITION COLUMNS
  // (established by the first commit passing `partitionBy`, inherited
  // by every later commit), and one `#part_<dir>=<json>` line per
  // partitioned data dir records the EXACT value tuple every row of
  // that dir carries. A partitioned commit stages one dir per
  // distinct partition-value tuple — the date-partitioned layout
  // every 100 TB fact table uses — and the values prune BEFORE
  // stats/bloom fire: `WHERE year = 1998` on a year-partitioned table
  // reads exactly the matching dirs, manifest-read planning cost.
  //
  // Differences from min/max stats that make partitions first-class:
  // the value is exact (min==max by construction, so equality,
  // ranges and IN prune precisely), and a NULL-valued partition dir
  // is PRUNED by any comparison predicate (NULL satisfies none) where
  // stats must conservatively keep it. Partition columns stay IN the
  // data files (dirs are self-contained; the manifest line is
  // metadata, not hive path encoding), so every reader — time travel,
  // clone, compaction, COW rewrites — composes unchanged: a rewrite's
  // fresh dir simply carries no #part_ line and is always scanned.

  /** Per-BATCH distinct-partition-tuple cap for [[stageBatch]] (a dir
    * per tuple is the layout contract, so a batch staging thousands of
    * dirs wants a coarser key). `var` only as a test seam — specs
    * lower it to exercise the maintenance fallback without staging a
    * thousand real dirs. */
  private[graft] var stageTupleCap: Int = 1000

  // ---- hash-bucketed layout as a table property ---------------------
  //
  // `#bucketby=<n>:<c1,c2>` declares the table CO-LOCATION layout
  // (established by the first commit passing `bucketBy`, inherited by
  // every later commit and COW rewrite, divergent re-declaration
  // refused — one layout per table, like #partcols). Every data write
  // to a bucketed table stages through Spark's own bucketed writer, so
  // files carry the engine's bucket-id naming and the Murmur3 hash
  // Spark's HashPartitioning uses — which is what lets [[readBucketed]]
  // (and SQL reads through the catalog) expose
  // `outputPartitioning = HashPartitioning(cols, n)` on the scan:
  // joins and aggregations on the bucket key read the stored side with
  // ZERO exchanges. This closes the stored-index gap: a band index or
  // df multiset stored in a lake table now gets OCC, time travel and
  // the change feed AND shuffle-free probes — previously those lived
  // in catalog `bucketBy` tables only (sources/Bucketing.scala).
  //
  // Bucketing COMPOSES with hive-style partition columns (each
  // partition tuple's dir writes bucketed; bucket grouping is exact
  // across any pruned dir subset because key placement is global) —
  // the standard date-partitioned + key-bucketed fact layout. Z-order
  // refuses on bucketed tables (a clustered rewrite would destroy the
  // bucket naming the read contract depends on; compaction instead
  // preserves the layout by re-staging through the bucketed writer),
  // and an APPEND cannot introduce bucketing to an existing unbucketed
  // table (earlier dirs lack the naming — re-layout via overwrite).

  // ---- CHECK constraints as a table property -----------------------
  //
  // `#check=<name>:<sql expression>` lines (one per constraint,
  // inherited like every table-property line) are Delta's CHECK
  // constraints / DLT expectations: EVERY commit that introduces or
  // rewrites rows validates them in ONE extra aggregate job over the
  // batch (never the table) and refuses naming the violated
  // constraints and their violation counts. SQL NULL semantics: a row
  // passes when the expression is TRUE or NULL, violates only on
  // FALSE. Row-preserving maintenance (compact, z-order, restore) and
  // predicate DELETE skip validation — they cannot create a violating
  // row that did not already exist.

  /** ONE aggregate job over `df`: refuse (naming every violated
    * constraint and its row count) if any CHECK constraint of the
    * commit's base snapshot `base` (the table at `r`) fails. O(batch) —
    * the validation scans what the commit was going to write anyway,
    * never the table. */
  private[sources] def validateChecks(base: TableMeta, r: Path,
      df: org.apache.spark.sql.DataFrame, what: String,
      gens: Seq[(String, String)] = Nil): Unit = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, sum, when}
    // generated columns gate through the same machinery: a batch
    // SUPPLYING a generated column must agree with the expression
    // row-for-row (`<=>`: exact, never NULL), or the layout the
    // readers prune by would lie
    val effGens = if (gens.nonEmpty) gens else base.genAll
    val genChecks = effGens.map { case (c, e) =>
      s"gen_$c" -> s"`$c` <=> ($e)" }
    val cs = base.checks ++ genChecks
    if (cs.isEmpty) return
    // a batch OMITTING a committed column evolves it NULL-backfilled
    // (mergeSchemas marks it nullable, old readers see NULL) — so the
    // checks validate against that SAME view: the omitted column joins
    // the batch as a typed NULL and `c IS NOT NULL` refuses the
    // omission up front, instead of the constraint silently claiming
    // to hold over rows that read NULL. This IS the engine's NOT NULL
    // enforcement: declare `ADD CONSTRAINT … CHECK (c IS NOT NULL)`
    // and neither a NULL-carrying nor a column-omitting batch commits.
    val widened = base.schema match {
      case Some(s) =>
        s.fields.filterNot(f => df.columns.contains(f.name))
          .foldLeft(df)((d, f) =>
            d.withColumn(f.name, lit(null).cast(f.dataType)))
      case None => df
    }
    val counts = widened.agg(
      sum(when(!coalesce(expr(cs.head._2), lit(true)), 1L).otherwise(0L))
        .as(cs.head._1),
      cs.tail.map { case (n, e) =>
        sum(when(!coalesce(expr(e), lit(true)), 1L).otherwise(0L)).as(n)
      }: _*).collect().head
    val violated = cs.zipWithIndex.collect {
      case ((n, e), i) if !counts.isNullAt(i) && counts.getLong(i) > 0 =>
        s"$n (${counts.getLong(i)} rows violate `$e`)"
    }
    if (violated.nonEmpty) throw new IllegalArgumentException(
      s"$what at $r violates CHECK constraint(s): " +
        violated.mkString("; ") + " — fix the rows or drop the constraint")
  }

  /** ADD a CHECK constraint (Delta's ALTER TABLE ADD CONSTRAINT):
    * validates the EXISTING table first (one aggregate job over the
    * live snapshot), then commits the property — same dirs, one
    * manifest write. Every later row-introducing commit validates its
    * batch against it. */
  def addCheckConstraint(spark: SparkSession, root: String,
      name: String, sqlExpr: String, retain: Int = -1): Long = {
    require(name.nonEmpty && !name.exists(":=,\n#".contains(_)),
      s"constraint name '$name' may not contain ':', '=', ',', '#', or newline")
    require(!sqlExpr.contains("\n"),
      "constraint expression must be a single manifest line")
    commitDdl(spark, root, retain, s"adding constraint '$name'") { (cur, m) =>
      require(!m.checks.exists(_._1 == name),
        s"constraint '$name' already exists on $root — drop it first")
      // the new constraint must hold on the existing rows
      import org.apache.spark.sql.functions.{coalesce, expr, lit, sum, when}
      val bad = readCommittedAt(spark, root, cur)
        .agg(sum(when(!coalesce(expr(sqlExpr), lit(true)), 1L).otherwise(0L)))
        .collect().head.getLong(0)
      require(bad == 0,
        s"cannot add constraint '$name': $bad existing rows violate " +
          s"`$sqlExpr` — clean the table first (Delta's ADD CONSTRAINT rule)")
      Some(DdlPlan(m.schema, s"add constraint $name",
        _.copy(checks = m.checks :+ (name -> sqlExpr))))
    }
  }

  /** DROP a CHECK constraint — same dirs, one manifest write. */
  def dropCheckConstraint(spark: SparkSession, root: String,
      name: String, retain: Int = -1): Long =
    commitDdl(spark, root, retain, s"dropping constraint '$name'") { (_, m) =>
      require(m.checks.exists(_._1 == name),
        s"no constraint '$name' on $root (have: " +
          m.checks.map(_._1).mkString("[", ", ", "]") + ")")
      Some(DdlPlan(m.schema, s"drop constraint $name",
        _.copy(checks = m.checks.filterNot(_._1 == name))))
    }

  /** The live CHECK constraints of a table: (name, sql expression). */
  def checkConstraints(spark: SparkSession, root: String): Seq[(String, String)] =
    liveMeta(fsFor(spark, root), new Path(root)).checks

  // ---- durable table properties (#prop_<key>=<value>) --------------
  //
  // Delta's TBLPROPERTIES: arbitrary (key, value) strings stored AS
  // TABLE STATE in the manifest chain, inherited by every commit like
  // `#partcols`/`#statscols`, replaced only by the property DDL.
  // Engine-reserved keys parameterize behaviors that were per-call
  // arguments before round 14 — per-call args remain explicit
  // overrides, but the TABLE now owns the default, so two writers
  // that pass nothing cannot silently fight over the time-travel
  // horizon or the DV bound:
  //
  //   graft.retain     — retention horizon (superseded versions kept)
  //   graft.dvMaxRows  — deletion-vector bound for DELETE/UPDATE/MERGE
  //
  // Each manifest version carries its own map, so time travel and
  // RESTORE see every version under the properties it had.
  final val PropRetain = "graft.retain"
  // tiered-manifest knobs (see the protocol note in Lake.scala): the
  // inline per-dir line count past which a commit spills to segments,
  // the segment-list length cap (smallest segments merge into the
  // commit's new segment past it), and the drift fraction (dropped +
  // overridden dirs) past which a carried segment rewrites instead
  final val PropSegThreshold = "graft.seg.threshold"
  final val PropSegMax = "graft.seg.max"
  final val PropSegWaste = "graft.seg.waste"
  final val PropDvMaxRows = "graft.dvMaxRows"
  /** Small-dir count that triggers post-append auto-compaction
    * (Delta's autoOptimize.autoCompact as a table property): when the
    * live snapshot holds at least this many dirs under
    * [[Lake.AutoCompactMinBytes]] after an append commits, the append
    * call runs an incremental bin-pack before returning. Unset = off. */
  final val PropAutoCompact = "graft.autoCompact"
  /** When "true", every staged write COALESCES its slice to
    * ceil(estimated bytes / 128 MB) output files instead of one file
    * per shuffle partition (Delta's optimizeWrite): a 32-thread tiny
    * append stages ONE file, not 32 splinters. Shuffle-free (coalesce
    * merges partitions); estimates come from the plan's size stats
    * and unknown/huge estimates leave the slice untouched. */
  final val PropOptimizeWrite = "graft.optimizeWrite"

  /** The live snapshot's table properties (empty when none set). */
  def tableProperties(spark: SparkSession, root: String): Map[String, String] =
    liveMeta(fsFor(spark, root), new Path(root)).props

  /** Effective dvMaxRows: an explicit per-call value (>= 0) wins; the
    * omitted-arg sentinel -1 inherits the `graft.dvMaxRows` property of
    * the commit's base snapshot `base`, defaulting to 10000. */
  private[sources] def effDvMaxRows(base: TableMeta, arg: Long): Long = {
    require(arg >= -1L,
      s"dvMaxRows must be >= 0 (or -1 = inherit $PropDvMaxRows), got $arg")
    val v =
      if (arg >= 0L) arg
      else base.props.get(PropDvMaxRows).map { s =>
        s.toLongOption.filter(_ >= 0L).getOrElse(
          throw new IllegalArgumentException(
            s"table property $PropDvMaxRows='$s' is not a non-negative long"))
      }.getOrElse(10000L)
    require(v < Int.MaxValue, s"dvMaxRows must fit an Int, got $v")
    v
  }

  /** Validate one property (key, value) against the manifest line
    * grammar and the reserved keys' value domains. */
  private[sources] def validateProp(k: String, v: String): Unit = {
    require(k.nonEmpty && !k.exists("=\n#".contains(_)),
      s"property key '$k' may not be empty or contain '=', '#', or newline")
    require(!v.contains("\n"), s"property $k value must be a single line")
    if (k == PropRetain) require(v.toIntOption.exists(_ >= 0),
      s"$PropRetain must be a non-negative integer, got '$v'")
    if (k == PropDvMaxRows) require(
      v.toLongOption.exists(n => n >= 0L && n < Int.MaxValue),
      s"$PropDvMaxRows must be a non-negative Int-ranged long, got '$v'")
    if (k == PropAutoCompact) require(v.toIntOption.exists(_ >= 2),
      s"$PropAutoCompact must be an integer >= 2 (the small-dir count " +
        s"that triggers post-append compaction), got '$v'")
    if (k == PropOptimizeWrite) require(v == "true" || v == "false",
      s"$PropOptimizeWrite must be 'true' or 'false', got '$v'")
    // tiered-manifest knobs: a typo'd value would otherwise silently
    // fall back to the default (the commit-side reads are tolerant)
    if (k == PropSegThreshold) require(v.toIntOption.exists(_ > 0),
      s"$PropSegThreshold must be a positive integer (the inline " +
        s"per-dir line count past which commits spill to segments), got '$v'")
    if (k == PropSegMax) require(v.toIntOption.exists(_ > 1),
      s"$PropSegMax must be an integer > 1 (the segment-list length " +
        s"cap), got '$v'")
    if (k == PropSegWaste) require(
      v.toDoubleOption.exists(w => w > 0 && w <= 1),
      s"$PropSegWaste must be in (0, 1] (the dropped+overridden " +
        s"fraction past which a carried segment rewrites), got '$v'")
  }

  /** `ALTER TABLE t SET TBLPROPERTIES (…)`: merge `props` into the
    * table's property map — same dirs, one manifest write, the
    * constraint-commit OCC discipline (lost slot refuses loudly;
    * concurrent property commits serialize by version, last writer
    * wins per key exactly as Delta's metadata conflict rule). */
  def setTableProperties(spark: SparkSession, root: String,
      props: Map[String, String], retain: Int = -1): Long = {
    require(props.nonEmpty, "SET TBLPROPERTIES needs at least one pair")
    props.foreach { case (k, v) => validateProp(k, v) }
    commitDdl(spark, root, retain, "SET TBLPROPERTIES") { (_, m) =>
      Some(DdlPlan(m.schema,
        "set tblproperties " + props.keys.toSeq.sorted.mkString(","),
        _.copy(props = m.props ++ props)))
    }
  }

  /** `ALTER TABLE t UNSET TBLPROPERTIES [IF EXISTS] (…)`. Absent keys
    * refuse unless `ifExists` (Spark's own UNSET semantics). */
  def unsetTableProperties(spark: SparkSession, root: String,
      keys: Seq[String], ifExists: Boolean = false,
      retain: Int = -1): Long = {
    require(keys.nonEmpty, "UNSET TBLPROPERTIES needs at least one key")
    commitDdl(spark, root, retain, "UNSET TBLPROPERTIES") { (_, m) =>
      val missing = keys.filterNot(m.props.contains)
      if (!ifExists) require(missing.isEmpty,
        s"cannot UNSET absent table properties on $root: " +
          missing.sorted.mkString("[", ", ", "]") + " (use IF EXISTS)")
      Some(DdlPlan(m.schema, "unset tblproperties " + keys.sorted.mkString(","),
        _.copy(props = m.props -- keys)))
    }
  }

  // ---- generated columns (derived partition keys) ------------------
  //
  // `#genpart=<col>:<exprText>` declares a GENERATED column (Delta's
  // `GENERATED ALWAYS AS`): its value is a deterministic expression of
  // other columns, materialized into every batch the writer stages (a
  // batch omitting it gets it computed; a batch supplying it is
  // validated row-by-row through the same one-aggregate-job gate CHECK
  // constraints use — `p <=> expr` — so a stale copy refuses instead
  // of silently corrupting the layout). The payoff is at READ time: a
  // query filtering the SOURCE column prunes the GENERATED partition
  // column — `WHERE ts BETWEEN a AND b` on a `p = year(ts)`-partitioned
  // 100 TB fact derives `p BETWEEN year(a) AND year(b)` and reads only
  // the matching partition dirs, Delta's generated-column partition
  // filter rule. Range derivation is restricted to a MONOTONE
  // whitelist (year, to_date, date_trunc, cast-to-date); any
  // single-column deterministic expression derives equality and IS
  // NULL conjuncts. Expressions over TimestampType evaluate under the
  // session time zone, so the zone is recorded at establishment
  // (`#genparttz=`) and derivation quietly disables when a reading
  // session's zone differs — pruning weakens, never lies.
  // `#gencol=<col>:<exprText>` — the SAME generated-column contract
  // (materialize omitting batches, validate supplying ones row-for-row)
  // for columns NOT participating in the partition layout. One
  // declaration surface (`generatedColumns`); the engine splits the
  // lines by partition membership so partition-participating ones keep
  // their dir-tuple derivation and the rest stay plain derived columns
  // (still usable for stats/bloom skipping through deriveGenPreds).

  // ---- identity columns (GENERATED ALWAYS AS IDENTITY) -------------
  //
  // `#identity=<col>:<next>` declares a writer-materialized surrogate
  // key (the reference's `id SERIAL PRIMARY KEY`,
  // /root/reference/dags/sql/news.sql:2, at lake scale): batches MUST
  // omit the column (GENERATED ALWAYS — an explicit value could
  // collide with the allocator), each append allocates the contiguous
  // block [next, next + n) and advances the high-water mark IN THE
  // SAME manifest write, so the mark and the rows that consumed it
  // commit atomically. OCC composes: an append that loses its slot to
  // a concurrent allocator re-reads the mark, RE-STAGES its batch
  // under the new block, and retries — concurrent appends allocate
  // disjoint, gap-free-per-commit ranges with no coordinator beyond
  // the manifest slot itself.
  // `#idmode=bydefault` — Delta's GENERATED BY DEFAULT AS IDENTITY:
  // the allocator fills ONLY rows omitting (or NULL-ing) the column;
  // explicit values pass through VERBATIM and the high-water mark
  // advances past them, so the allocator never reuses an explicitly
  // written key — but BY DEFAULT does NOT guarantee uniqueness against
  // explicit values (Delta's documented rule; it exists for migrations
  // seeding existing SERIAL keys). Absent line = GENERATED ALWAYS
  // (batches must omit the column). Semantics-bearing → `#require=
  // idmode`: an old build committing on top would drop the line and
  // silently revert the table to ALWAYS.

  /** BY DEFAULT fill: rows whose identity value is NULL take the
    * contiguous block [start, start + nNull); explicit values pass
    * through verbatim (cast to LongType). Returns the filled frame and
    * the advanced mark — max(block end, max explicit + 1), so future
    * allocations never collide with keys this batch wrote explicitly.
    * `nNull`/`maxExplicit` are the caller's precomputed aggregates
    * (the OCC rebase re-fills at a moved mark without re-counting). */
  private[sources] def fillIdentityNulls(df: org.apache.spark.sql.DataFrame,
      c: String, start: Long, nNull: Long): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    val typed = df.withColumn(c,
      col(c).cast(org.apache.spark.sql.types.LongType))
    if (nNull == 0L) typed
    else {
      val nulls = typed.where(col(c).isNull).drop(c)
      typed.where(col(c).isNotNull).unionByName(
        materializeIdentity(nulls, c, start)
          .select(typed.columns.map(col).toSeq: _*))
    }
  }

  // -- row tracking ----------------------------------------------------
  //
  // Delta's row tracking for KEYLESS change feeds: a hidden LongType
  // `_row_id` column materialized physically at write under the
  // identity allocator's block protocol (`#rowid=<next>` carries the
  // high-water mark, advanced atomically with the rows that consumed
  // it). Ids are STABLE: an UPDATE's rewritten copy keeps its id (the
  // copy is read from the stored files, id included), a COW rewrite /
  // compaction / z-order re-stages stored rows verbatim, and only
  // genuinely new rows (appends, MERGE inserts) allocate fresh ids —
  // which is exactly what lets `changesBetween` pair update pre/post
  // images on a table with NO natural key. The column is hidden from
  // every user-facing read (readCommitted*, the SQL relation, the
  // stream source); only the diff engine and the rewrite engines see
  // it. Semantics-bearing → `#require=rowtracking` (an old build's
  // append would not stamp ids, silently breaking pairing).
  private[graft] val RowIdCol = "_row_id"

  /** Is row tracking live on the table (and if so, the next id)? */
  def rowTracking(spark: SparkSession, root: String): Option[Long] = {
    val fs = fsFor(spark, root)
    val r = new Path(root)
    liveMeta(fs, r).rowId
  }

  /** Strip the hidden row-id field from a user-facing schema. */
  private[sources] def publicSchema(
      s: org.apache.spark.sql.types.StructType):
      org.apache.spark.sql.types.StructType =
    if (!s.fieldNames.contains(RowIdCol)) s
    else org.apache.spark.sql.types.StructType(
      s.fields.filterNot(_.name == RowIdCol))

  /** Enable row tracking on an EXISTING table: one maintenance-style
    * rewrite stamps ids over the current rows (O(table), priced
    * honestly — Delta's backfill is the same full pass), after which
    * every write allocates. Layout (partitioning, stats, blooms,
    * bucketing) is inherited by the overwrite path's table-property
    * resolution. No-op if already enabled. */
  def enableRowTracking(spark: SparkSession, root: String,
      retain: Int = -1): Long = {
    val (cur, curMeta) = liveSnapshot(spark, root)
    if (curMeta.rowId.isDefined) return cur
    requireNotFoldTable(curMeta, root, "enable row tracking on")
    carriedSchema(curMeta, root, "enable row tracking")
    commitOverwrite(readCommittedAt(spark, root, cur), root,
      retain = retain, rowTracking = true)
  }

  /** Rewrite-path row-id repair: rows whose `_row_id` is NULL are
    * genuinely NEW (a MERGE insert, a CDC upsert) and take the next
    * block; rows carrying an id keep it (the stability contract).
    * Returns the frame plus the advanced mark to commit — None when
    * the base snapshot `base` is untracked (frame untouched). One count
    * job over the new rows only, and only on tracked tables. */
  private[sources] def assignFreshRowIds(base: TableMeta,
      df: org.apache.spark.sql.DataFrame):
      (org.apache.spark.sql.DataFrame, Option[Long]) = {
    import org.apache.spark.sql.functions.col
    base.rowId match {
      case None => (df, None)
      case Some(m) if !df.columns.contains(RowIdCol) =>
        val n = df.count()
        (materializeIdentity(df, RowIdCol, m), Some(m + n))
      case Some(m) =>
        val newRows = df.where(col(RowIdCol).isNull).drop(RowIdCol)
        val n = newRows.count()
        if (n == 0) (df, Some(m))
        else (df.where(col(RowIdCol).isNotNull).unionByName(
          materializeIdentity(newRows, RowIdCol, m)
            .select(df.columns.map(col).toSeq: _*)), Some(m + n))
    }
  }

  /** The live identity declaration: (column, next value to allocate). */
  def identityColumn(spark: SparkSession, root: String): Option[(String, Long)] = {
    val fs = fsFor(spark, root)
    val r = new Path(root)
    liveMeta(fs, r).identity
  }

  /** Declaration resolution (the [[effectiveGenParts]] discipline):
    * `want` on the first declaring commit, inherited afterwards,
    * divergence refused. */
  private[sources] def effectiveIdentityCol(r: Path, pre: TableMeta,
      want: Option[String]): Option[String] = {
    val prev = pre.identity.map(_._1)
    want match {
      case None => prev
      case Some(c) =>
        require(c.nonEmpty && !c.exists("=,:\n#".contains(_)),
          s"identity column name '$c' may not contain '=', ',', ':', '#', or newline")
        require(prev.isEmpty || prev.contains(c),
          s"table at $r declares identity column '${prev.get}'; a commit " +
            s"cannot re-declare it as '$c' — one identity per table")
        Some(c)
    }
  }

  /** Materialize the contiguous id block [start, start + n) into
    * `idCol` (LongType, gap-free per commit by construction).
    * `zipWithIndex` is a distributed two-pass (per-partition counts,
    * then offset map) — O(batch), no single-partition shuffle, the
    * price of contiguity. Assignment order within the batch is
    * partition order (arbitrary but valid: identity guarantees
    * uniqueness + per-commit contiguity, not row affinity). */
  private[sources] def materializeIdentity(df: org.apache.spark.sql.DataFrame,
      idCol: String, start: Long): org.apache.spark.sql.DataFrame = {
    val spark = df.sparkSession
    val out = df.schema.add(idCol,
      org.apache.spark.sql.types.LongType, nullable = false)
    spark.createDataFrame(
      df.rdd.zipWithIndex.map { case (row, i) =>
        org.apache.spark.sql.Row.fromSeq(row.toSeq :+ (start + i)) },
      out)
  }

  /** SQL `INSERT INTO t (named, cols)` pads every UNNAMED column with
    * NULL. For identity/generated columns an all-NULL padded copy
    * means "omitted" — drop it so the allocator/expression recomputes
    * (Delta's rule). One aggregate job probes every carried special
    * column at once; a copy with ANY real value stays (generated
    * copies then validate row-for-row; identity refuses upstream). */
  private[sources] def dropAllNullSpecials(df: org.apache.spark.sql.DataFrame,
      gens: Seq[(String, String)], ident: Option[(String, Long)],
      establishing: Boolean = false):
      org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.{col, count, lit}
    val carried = (gens.map(_._1) ++ ident.map(_._1).toSeq).distinct
      .filter(df.columns.contains)
    if (carried.isEmpty) return df
    val counts = df.agg(count(lit(1)),
      carried.map(c => count(col(c))): _*).collect().head
    // an EMPTY batch on a table with NO committed version is the
    // establishing commit of a governed CREATE TABLE — keep its columns
    // (and their declared ORDER). On an ESTABLISHED table a zero-row
    // batch is a real pipeline case (an empty incremental INSERT whose
    // padded specials must read as OMITTED, not as a seeding attempt),
    // so it falls through to the all-NULL drop below — every carried
    // column has count 0 and drops, exactly the omitted semantics.
    if (counts.getLong(0) == 0L && establishing) return df
    carried.zipWithIndex
      .filter { case (_, i) => counts.getLong(i + 1) == 0L }
      .map(_._1).foldLeft(df)(_.drop(_))
  }

  /** The table's established generated columns: `want` on the first
    * declaring commit, inherited afterwards, divergence refused —
    * a generated column is a TABLE property like the partition
    * layout. */
  private[sources] def effectiveGenParts(r: Path, pre: TableMeta,
      want: Map[String, String]): Seq[(String, String)] = {
    want.foreach { case (c, e) =>
      require(c.nonEmpty && !c.exists("=,:\n#".contains(_)),
        s"generated column name '$c' may not contain '=', ',', ':', '#', or newline")
      require(!e.contains("\n"),
        s"generated column expression for '$c' must be a single manifest line")
    }
    // resolution covers EVERY generated column — partition-derived
    // (#genpart) and plain (#gencol) alike; the caller re-splits by
    // partition membership when it builds the commit lines
    val prev = pre.genAll
    if (want.isEmpty) prev
    else {
      val w = want.toSeq.sortBy(_._1)
      require(prev.isEmpty || prev.sortBy(_._1) == w,
        s"table at $r declares generated columns ${prev.toMap}; a commit " +
          s"cannot re-declare them as $want — one generation per table")
      w
    }
  }

  /** Materialize every declared generated column the batch omits. */
  private[sources] def materializeGenerated(df: org.apache.spark.sql.DataFrame,
      gens: Seq[(String, String)]): org.apache.spark.sql.DataFrame =
    gens.foldLeft(df) { case (d, (c, e)) =>
      if (d.columns.contains(c)) d
      else d.withColumn(c, org.apache.spark.sql.functions.expr(e))
    }

  /** Monotone-or-equality classification of one generated-column
    * expression: Some((sourceColumn, rangeDerivable)). */
  private[sources] def classifyGenExpr(spark: SparkSession,
      text: String): Option[(String, Boolean)] = {
    import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal => CLit}
    val parsed = scala.util.Try(
      spark.sessionState.sqlParser.parseExpression(text)).toOption
      .getOrElse(return None)
    def attrOf(e: org.apache.spark.sql.catalyst.expressions.Expression):
        Option[String] = e match {
      case a: UnresolvedAttribute if a.nameParts.length == 1 =>
        Some(a.nameParts.head)
      case _ => None
    }
    def eqOnly: Option[(String, Boolean)] = {
      val attrs = parsed.collect {
        case a: UnresolvedAttribute => a.nameParts.mkString(".") }.distinct
      if (attrs.length == 1) Some((attrs.head, false)) else None
    }
    parsed match {
      case f: UnresolvedFunction =>
        (f.nameParts.last.toLowerCase(java.util.Locale.ROOT),
            f.arguments) match {
          case ("year", Seq(a)) if attrOf(a).isDefined =>
            Some((attrOf(a).get, true))
          case ("to_date", Seq(a)) if attrOf(a).isDefined =>
            Some((attrOf(a).get, true))
          case ("date_trunc", Seq(_: CLit, a)) if attrOf(a).isDefined =>
            Some((attrOf(a).get, true))
          case ("trunc", Seq(a, _: CLit)) if attrOf(a).isDefined =>
            Some((attrOf(a).get, true))
          case _ => eqOnly
        }
      case c: Cast if attrOf(c.child).isDefined &&
          c.dataType == org.apache.spark.sql.types.DateType =>
        Some((attrOf(c.child).get, true))
      case _ => eqOnly
    }
  }

  /** Evaluate generated expression `text` at the source-column literal
    * `v` (normalized) — one driver-local job over `range(1)` (the
    * select resolves functions and folds; no data is touched). None
    * when anything refuses: derivation then just doesn't happen. */
  private[sources] def evalGenAt(spark: SparkSession, text: String, srcCol: String,
      srcType: org.apache.spark.sql.types.DataType,
      v: NormVal): Option[NormVal] = scala.util.Try {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{Literal => CLit}
    import org.apache.spark.sql.types._
    val internal: Any = (v, srcType) match {
      case (NumV(bd), ByteType)    => bd.toByteExact
      case (NumV(bd), ShortType)   => bd.toShortExact
      case (NumV(bd), IntegerType | DateType) => bd.toIntExact
      case (NumV(bd), LongType | TimestampType | TimestampNTZType) =>
        bd.toLongExact
      case (NumV(bd), FloatType)   => bd.toFloat
      case (NumV(bd), DoubleType)  => bd.toDouble
      case (NumV(bd), d: DecimalType) =>
        org.apache.spark.sql.types.Decimal(bd, d.precision, d.scale)
      case (StrV(u), StringType)   => u
      case _ => return None
    }
    val substituted = spark.sessionState.sqlParser.parseExpression(text)
      .transform {
        case a: UnresolvedAttribute if a.nameParts == Seq(srcCol) =>
          CLit(internal, srcType)
      }
    val out = spark.range(1)
      .select(org.apache.spark.sql.graft.Shim.column(substituted))
      .collect().head.get(0)
    normExternal(out)
  }.toOption.flatten

  /** Derivation-safety profile of a generated expression that is NOT
    * on the monotone whitelist: (deterministic, nullPreserving,
    * tzDependent).
    * Determinism is read off the ANALYZED tree (the unresolved one
    * reports children-only determinism, so `rand()` would lie) and
    * additionally refuses the query-time-anchored family
    * (current_date/now/…): those are Catalyst-"deterministic" within
    * one query but evaluate differently at read time than at the
    * establishing write, which would derive wrong equalities.
    * NULL-preservation is proven by EVALUATION at a NULL source
    * literal — the only exact check for arbitrary expressions
    * (`coalesce(x, 0)`, `isnull(x)`, `hash(x) % 16` all correctly
    * fail it, so `x IS NULL` never derives `p IS NULL` for them).
    * tzDependent is true when the ANALYZED tree contains any
    * session-zone-anchored node (`TimeZoneAwareExpression`, or a
    * `Cast` whose from/to pair needs a zone) — REGARDLESS of the
    * source column's type: `from_unixtime(x)` over a LongType x and
    * `date_trunc` over a DateType x both evaluate in the session
    * zone, so a cross-zone reader would map predicate values
    * differently than the writer materialized partition values and
    * prune dirs that contain matching rows. Callers refuse every
    * derivation of a tz-dependent expression unless the reading
    * session's zone matches the establishing writer's (`#gentz`).
    * None when the expression refuses to resolve. */
  private[sources] def genExprProfile(spark: SparkSession, text: String,
      srcCol: String, srcType: org.apache.spark.sql.types.DataType):
      Option[(Boolean, Boolean, Boolean)] = scala.util.Try {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{Cast,
      TimeZoneAwareExpression, Literal => CLit}
    val substituted = spark.sessionState.sqlParser.parseExpression(text)
      .transform {
        case a: UnresolvedAttribute if a.nameParts == Seq(srcCol) =>
          CLit(null, srcType)
      }
    val df = spark.range(1)
      .select(org.apache.spark.sql.graft.Shim.column(substituted))
    val timeAnchored = Set("currentdate", "currenttimestamp", "now",
      "localtimestamp", "currenttimezone", "currenttime")
    val analyzed = df.queryExecution.analyzed.expressions
    val det = analyzed.forall(e =>
      e.deterministic && e.find(c => timeAnchored.contains(
        c.nodeName.toLowerCase(java.util.Locale.ROOT))).isEmpty)
    val tzDep = analyzed.exists(e => e.find {
      case c: Cast => Cast.needsTimeZone(c.child.dataType, c.dataType)
      case _: TimeZoneAwareExpression => true
      case _ => false
    }.isDefined)
    val nullAtNull = det && df.collect().head.isNullAt(0)
    (det, nullAtNull, tzDep)
  }.toOption

  /** Extra prunable conjuncts on GENERATED columns, derived from the
    * query's conjuncts on their source columns (all in LOGICAL names;
    * callers translate afterwards). Monotone expressions derive
    * ranges (strict bounds weaken to inclusive — f is non-strictly
    * monotone; temporal sources only), equality/IN derives when the
    * expression is proven deterministic, and IS NULL only when it is
    * additionally proven NULL-preserving (the whitelist is both by
    * construction; anything else proves it via [[genExprProfile]] or
    * doesn't derive). Purely an optimization: the
    * derived conjuncts are implied by the originals, so Keep AND
    * whole-dir-Drop proofs stay exact. */
  private[sources] def deriveGenPreds(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, r: Path, v: Long,
      preds: Seq[Pred]): Seq[Pred] = {
    val meta = tableMeta(fs, r, v)
    val gens = meta.genAll
    if (gens.isEmpty || preds.isEmpty) return Nil
    val schema = meta.schema.getOrElse(return Nil)
    val tzOk = meta.genTz.forall(
      _ == spark.sessionState.conf.sessionLocalTimeZone)
    gens.flatMap { case (p, text) =>
      classifyGenExpr(spark, text) match {
        case None => Nil
        case Some((src, monotone0)) =>
          val srcFieldOpt = schema.fields.find(_.name == src)
          if (srcFieldOpt.isEmpty) Nil
          // session-zone-dependent evaluation: derive only when the
          // reading session matches the establishing one
          else if (srcFieldOpt.get.dataType ==
              org.apache.spark.sql.types.TimestampType && !tzOk) Nil
          else {
          import org.apache.spark.sql.types.{DateType, TimestampNTZType, TimestampType}
          val srcType = srcFieldOpt.get.dataType
          // the monotone whitelist (year/to_date/date_trunc/trunc/
          // cast-to-date) is deterministic and NULL-preserving by
          // construction; an eqOnly-classified expression must PROVE
          // both before ANY derivation happens (PEq needs determinism,
          // PNull additionally needs f(NULL) = NULL)
          lazy val prof = genExprProfile(spark, text, src, srcType)
          // session-zone safety gates EVERY derivation, not just
          // timestamp sources: `from_unixtime(x)` over a long and
          // `date_trunc` over a date are both zone-anchored, so a
          // cross-zone reader maps values differently than the writer
          // did. Safe when the zones match (tzOk) or the analyzed tree
          // is proven zone-free; when the profile refuses to resolve,
          // refuse derivation under a mismatched zone.
          val tzSafe = tzOk || prof.exists(!_._3)
          // range derivation needs a TEMPORAL source (Delta's gate):
          // lexical string order is not monotone under date parsing
          // (' 2021-03-04' < '2020-1-5' lexically), so a string-typed
          // source falls back to equality-only derivation
          val monotone = monotone0 && tzSafe && (srcType == DateType ||
            srcType == TimestampType || srcType == TimestampNTZType)
          val detOk = tzSafe && (monotone0 || prof.exists(_._1))
          val nullOk = tzSafe && (monotone0 || prof.exists(p => p._1 && p._2))
          preds.filter(_.col == src).flatMap { pr =>
            def at(nv: NormVal): Option[NormVal] =
              evalGenAt(spark, text, src, srcFieldOpt.get.dataType, nv)
            // a DISCRETE source type tightens strict bounds by one
            // unit before mapping: `d < 1998-01-01` derives
            // `year <= year(1997-12-31) = 1997`, not the weak `<= 1998`
            def discreteStep(nv: NormVal, delta: Int): Option[NormVal] = {
              import org.apache.spark.sql.types._
              (nv, srcFieldOpt.get.dataType) match {
                case (NumV(bd), ByteType | ShortType | IntegerType |
                     LongType | DateType | TimestampType |
                     TimestampNTZType) => Some(NumV(bd + delta))
                case _ => None
              }
            }
            pr.op match {
              case PEq if detOk =>
                val mapped = pr.values.map(at)
                if (mapped.exists(_.isEmpty)) Nil
                else Seq(Pred(p, PEq, mapped.flatten))
              case PNull if nullOk => Seq(Pred(p, PNull, Nil))
              case PLt if monotone =>
                discreteStep(pr.values.head, -1).orElse(Some(pr.values.head))
                  .flatMap(at).map(d => Pred(p, PLe, Seq(d))).toSeq
              case PLe if monotone =>
                at(pr.values.head).map(d => Pred(p, PLe, Seq(d))).toSeq
              case PGt if monotone =>
                discreteStep(pr.values.head, 1).orElse(Some(pr.values.head))
                  .flatMap(at).map(d => Pred(p, PGe, Seq(d))).toSeq
              case PGe if monotone =>
                at(pr.values.head).map(d => Pred(p, PGe, Seq(d))).toSeq
              case _ => Nil
            }
          }
          }
      }
    }
  }

  // ---- COPY INTO (idempotent landing-zone ingestion) ----------------
  //
  // `#ingested=<fileName>:<len>` manifest lines record which landing
  // files a table has already loaded (Delta's COPY INTO file ledger):
  // re-running the same COPY commits NOTHING, so a crash-retried cron
  // never double-loads. Entries are SELF-BOUNDED: each COPY keeps only
  // the entries whose file still exists in the landing dir (a file
  // removed from the zone can never re-ingest, so its entry carries no
  // information) — the ledger is O(landing dir), not O(history).
  // Dedup keys on the NAME alone (Delta's rule): a landing file
  // rewritten in place is NOT reloaded — landing zones are
  // append-only by contract, and re-loading a mutated file would
  // double its rows.

  /** `COPY INTO <table> FROM '<dir>'`: append every parquet file of
    * the landing dir that is not yet in the table's ingestion ledger,
    * as ONE ordinary append commit (schema evolution, CHECK
    * constraints, partition/bucket layout, identity allocation — the
    * full staging choke point applies) that atomically records the
    * loaded file names. Idempotent: a re-run lists, finds every file
    * recorded, and commits nothing. Concurrency: the commit refuses
    * (loudly) if ANY commit interleaves — a lost race means the
    * ledger this COPY read may be stale, and the re-run the error
    * demands re-reads it, skipping whatever the winner loaded. At
    * 100 TB the cost model is O(new files): the listing is one
    * directory scan and the append stages only unrecorded files.
    * @return (committed version, files ingested this run) */
  def copyInto(spark: SparkSession, root: String, srcDir: String,
      retain: Int = -1, statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil): (Long, Long) = {
    val fs = fsFor(spark, root)
    val r = new Path(root)
    val cur = currentVersion(spark, root).getOrElse(
      throw new java.util.NoSuchElementException(
        s"no committed table at $root — COPY INTO loads into an " +
          "existing table; establish it with commitOverwrite/CREATE TABLE"))
    val sfs = fsFor(spark, srcDir)
    val sp = new Path(srcDir)
    require(sfs.exists(sp), s"COPY INTO source dir does not exist: $srcDir")
    require(sfs.makeQualified(sp) != fs.makeQualified(r),
      "COPY INTO source must not be the table root itself")
    val landing = sfs.listStatus(sp).iterator
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet") &&
        !st.getPath.getName.startsWith(".") &&
        !st.getPath.getName.startsWith("_"))
      .map(st => (st.getPath.getName, st.getLen))
      .toSeq.sortBy(_._1)
    landing.foreach { case (n, _) => require(!n.exists(":=,\n#".contains(_)),
      s"landing file name '$n' cannot ride the ingestion ledger") }
    val landingNames = landing.map(_._1).toSet
    val prevLedger = tableMeta(fs, r, cur).ingested
    val recordedNames = prevLedger.map(_.takeWhile(_ != ':')).toSet
    val newFiles = landing.filterNot { case (n, _) => recordedNames(n) }
    if (newFiles.isEmpty) return (cur, 0L)
    val keptLedger = prevLedger.filter(e =>
      landingNames(e.takeWhile(_ != ':')))
    val ledger = keptLedger ++ newFiles.map { case (n, l) => s"$n:$l" }
    val df = spark.read.parquet(
      newFiles.map { case (n, _) => new Path(sp, n).toString }: _*)
    val v = commitAppend(df, root, retain = retain, statsCols = statsCols,
      bloomCols = bloomCols, op = s"copy into from $srcDir",
      ingested = Some(ledger), requireBase = Some(cur))
    (v, newFiles.size.toLong)
  }

  // ---- column mapping (rename / drop as metadata) ------------------
  //
  // `#colmap=<logical>:<physical>,…` records — for the columns whose
  // names diverge — the PHYSICAL name under which the table's data
  // files store a committed (LOGICAL) column: Delta's column-mapping
  // 'name' mode. Physical names FREEZE at column birth, so a RENAME is
  // one manifest write (same dirs; the `#schema` field takes the new
  // logical name; the map entry re-points) and a DROP is one manifest
  // write that also RETIRES the physical name (`#colretired=…`) so a
  // later re-add of the same logical name allocates a fresh physical
  // name instead of resurrecting the dropped column's bytes from old
  // files. Readers scan under physical names and alias back to
  // logical at the user boundary; writers rename logical→physical
  // before staging; every other manifest line (`#partcols`,
  // `#statscols`, `#bucketby`, per-dir stat/bloom/part keys) is keyed
  // PHYSICALLY and therefore never rewrites on rename. Each manifest
  // version carries its own map, so time travel serves every version
  // under the names it had. Absent lines mean identity — pre-mapping
  // tables read and write exactly as before, at zero cost.

  private[sources] def colMapAt(spark: SparkSession, root: String,
      version: Long): Map[String, String] =
    tableMeta(fsFor(spark, root), new Path(root), version).colMap

  /** The physical (file) path of logical column path `c`: an exact
    * map hit wins (so a top-level column whose name contains a literal
    * dot maps as itself), else the LONGEST mapped prefix translates
    * and the tail rides verbatim — container renames compose down to
    * unentried descendants. v1 maps only ever hold top-level keys,
    * where this reduces to the original head-segment rule. */
  private[sources] def physName(map: Map[String, String], c: String): String =
    map.getOrElse(c, {
      var i = c.lastIndexOf('.')
      while (i > 0) {
        map.get(c.take(i)) match {
          case Some(p) => return p + c.drop(i)
          case None => i = c.lastIndexOf('.', i - 1)
        }
      }
      c
    })

  /** Logical schema → the PHYSICAL schema its files store (field
    * renames only, nested included under id-mode; order, types and
    * nullability are shared). */
  private[sources] def physSchema(
      schema: org.apache.spark.sql.types.StructType,
      map: Map[String, String]): org.apache.spark.sql.types.StructType =
    if (map.isEmpty) schema
    else {
      val nested = map.keys.exists(_.contains('.'))
      def go(st: org.apache.spark.sql.types.StructType,
          prefix: String): org.apache.spark.sql.types.StructType =
        org.apache.spark.sql.types.StructType(st.fields.map { f =>
          val lpath = if (prefix.isEmpty) f.name else prefix + "." + f.name
          val newName = map.get(lpath) match {
            case Some(full) => full.substring(full.lastIndexOf('.') + 1)
            case None => f.name
          }
          val dt = f.dataType match {
            case s: org.apache.spark.sql.types.StructType
                if nested && map.keys.exists(_.startsWith(lpath + ".")) =>
              go(s, lpath)
            case other => other
          }
          f.copy(name = newName, dataType = dt)
        })
      go(schema, "")
    }

  /** Batch with LOGICAL names → the PHYSICAL names staging writes.
    * Top-level divergence is a zero-cost `toDF` rename; NESTED
    * divergence (id-mode) rewrites the diverging containers through a
    * struct cast — positional, codegen'd, a projection not a shuffle.
    * When the table carries an id tree, every field the tree knows is
    * additionally stamped with its `parquet.field.id` (Spark's own
    * write wiring puts it in the footer), the provenance a future
    * pure-id reader keys on; fields minted by THIS commit get their
    * ids from the next write. */
  private[sources] def toPhysicalDf(df: org.apache.spark.sql.DataFrame,
      map: Map[String, String],
      v2: Option[ColMapV2] = None): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types.{Metadata, MetadataBuilder, StructType}
    if (map.isEmpty && v2.isEmpty) return df
    val byKey = v2.map(_.fields.map(f => (f.container, f.logical) -> f).toMap)
      .getOrElse(Map.empty)
    def idOf(container: Int, name: String): Option[ColMapField] =
      byKey.get((container, name))
    // physical target field (renamed, nested-renamed, id-stamped)
    def physField(f: org.apache.spark.sql.types.StructField,
        prefix: String, container: Int):
        org.apache.spark.sql.types.StructField = {
      val lpath = if (prefix.isEmpty) f.name else prefix + "." + f.name
      val ent = idOf(container, f.name)
      val newName = map.get(lpath) match {
        case Some(full) => full.substring(full.lastIndexOf('.') + 1)
        case None => ent.map(_.phys).getOrElse(f.name)
      }
      val md = ent match {
        case Some(e) => new MetadataBuilder().withMetadata(f.metadata)
          .putLong("parquet.field.id", e.id.toLong).build()
        case None => f.metadata
      }
      val dt = f.dataType match {
        case s: StructType =>
          StructType(s.fields.map(physField(_, lpath,
            ent.map(_.id).getOrElse(-1))))
        case other => other
      }
      f.copy(name = newName, dataType = dt, metadata = md)
    }
    val target = StructType(df.schema.fields.map(physField(_, "", 0)))
    val nestedChange = df.schema.fields.zip(target.fields).exists {
      case (a, b) => a.dataType != b.dataType
    }
    if (!nestedChange) {
      // rename-only fast path; top-level aliases carry the id metadata
      if (v2.isEmpty) df.toDF(target.fields.map(_.name).toIndexedSeq: _*)
      else df.select(df.schema.fields.zip(target.fields).toSeq.map {
        case (lf, pf) =>
          org.apache.spark.sql.functions
            .col("`" + lf.name.replace("`", "``") + "`")
            .as(pf.name, pf.metadata)
      }: _*)
    } else
      // struct cast renames nested fields positionally (types are
      // shared, so this is a name-level rewrite the optimizer keeps
      // inside codegen) and carries the nested id metadata
      df.select(df.schema.fields.zip(target.fields).toSeq.map {
        case (lf, pf) =>
          val c = org.apache.spark.sql.functions
            .col("`" + lf.name.replace("`", "``") + "`")
          (if (lf.dataType == pf.dataType) c
           else c.cast(org.apache.spark.sql.graft.Shim
             .asNullableType(pf.dataType)))
            .as(pf.name, pf.metadata)
      }: _*)
  }

  /** Physically-named read → the LOGICAL names callers see: the
    * rename-back dual of [[toPhysicalDf]]. Top-level divergence is a
    * `toDF`; nested divergence casts each diverging container back to
    * its logical struct shape. `s` is the committed LOGICAL schema. */
  private[sources] def renameToLogical(df: org.apache.spark.sql.DataFrame,
      s: org.apache.spark.sql.types.StructType,
      map: Map[String, String]): org.apache.spark.sql.DataFrame =
    if (map.isEmpty) df
    else if (!map.keys.exists(_.contains('.')))
      df.toDF(s.fieldNames.toIndexedSeq: _*)
    else df.select(s.fields.toSeq.zip(df.schema.fields.toSeq).map {
      case (lf, pf) =>
        val c = org.apache.spark.sql.functions
          .col("`" + pf.name.replace("`", "``") + "`")
        (if (pf.dataType == lf.dataType) c
         else c.cast(org.apache.spark.sql.graft.Shim
           .asNullableType(lf.dataType))).as(lf.name)
    }: _*)

  /** Prunable conjuncts re-keyed to physical names (per-dir stat /
    * bloom / partition / file-stat lines are keyed physically). */
  private[sources] def predsToPhysical(preds: Seq[Pred],
      map: Map[String, String]): Seq[Pred] =
    if (map.isEmpty) preds else preds.map(p => p.copy(col = physName(map, p.col)))

  /** Logical column names → physical, for user-supplied column lists
    * (statsCols / bloomCols / partitionBy / bucketBy / z-order). */
  private[sources] def colsToPhysical(cols: Seq[String],
      map: Map[String, String]): Seq[String] =
    if (map.isEmpty) cols else cols.map(physName(map, _))

  /** Names of `checks` whose expression references column `c`
    * (parsed, case-insensitive; an unparseable expression is
    * conservatively treated as referencing). */
  private[sources] def checksReferencing(spark: SparkSession,
      checks: Seq[(String, String)], c: String): Seq[String] =
    checks.collect { case (n, e) if
        scala.util.Try(spark.sessionState.sqlParser.parseExpression(e))
          .map(_.exists {
            case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
              u.nameParts.exists(_.equalsIgnoreCase(c))
            case _ => false
          }).getOrElse(true) => n }

  /** Extend `map` with physical-name assignments for the columns of
    * `schema` it does not cover: identity (no entry) unless the name
    * is already claimed as a mapped physical name or retired — then a
    * fresh `<name>_r<version>` allocates, so a column re-added after
    * a rename/drop can never read another column's bytes. */
  private[sources] def allocPhysical(schema: org.apache.spark.sql.types.StructType,
      map: Map[String, String], retired: Seq[String],
      version: Long): Map[String, String] = {
    if (map.isEmpty && retired.isEmpty) return map
    var out = map
    // ALL mapped physical names are claimed — including those of live
    // columns the batch omits — plus every retired name
    var used = map.values.toSet ++ retired
    schema.fieldNames.filterNot(out.contains).foreach { n =>
      if (!used(n)) used += n
      else {
        require(!n.exists("=,:\n#".contains(_)),
          s"column name '$n' needs a #colmap entry (its name collides " +
            "with a retired or mapped physical column) but contains " +
            "'=', ',', ':', '#', or newline — rename it in the batch")
        var cand = s"${n}_r$version"
        var i = 0
        while (used(cand)) { i += 1; cand = s"${n}_r${version}_$i" }
        out += n -> cand
        used += cand
      }
    }
    out
  }

  // ---- id-mode column mapping (#colmap2) ----------------------------
  //
  // Delta's `columnMapping.mode = id`, adapted to the one constraint
  // vanilla Spark imposes (pinned by LakeColMapV2Spec's conformance
  // test): the parquet reader CANNOT mix id-matching and name-matching
  // per file — with `spark.sql.parquet.fieldId.read.enabled` a file
  // carrying no ids reads every id-ed column as NULL (or errors), so
  // pure-id reads would corrupt every file written before the upgrade.
  // The sound Spark-native shape is therefore Iceberg's NAME-MAPPING
  // trick inverted: per-field immutable numeric ids are the CANONICAL
  // identity (assigned to existing names at upgrade, zero file
  // rewrites), file ACCESS stays name-keyed, and the invariant that
  // makes that sound is that each id's physical name is FROZEN and
  // never reused inside its container — a dropped-then-re-added field
  // gets a fresh id and a fresh physical name, so old bytes are
  // unreachable by construction. New files additionally carry each
  // field's id as `parquet.field.id` (Spark's own write wiring), the
  // durable provenance a future pure-id reader needs.
  //
  // `#colmap2=<json>` holds the field tree: one entry per struct
  // field, nested included — `i` the immutable id, `c` the container's
  // id (0 = root), `l` the field's LOGICAL name within its container,
  // `p` its PHYSICAL (file) name — plus `dead` tombstones (container
  // id, physical name) for dropped fields and `next`, the id
  // high-water mark. The flat logical-path → physical-path map every
  // reader/writer consumes is DERIVED from the tree, so the v1
  // `#colmap=` machinery keeps working unchanged; the v1 line stops
  // being written once the tree exists. Array/map interiors are leaf
  // entries (no per-element identity — DDL inside them refuses, as in
  // name mode). Semantics-bearing → `#require=colmap2`: an old build
  // committing on top would drop the tree and resurrect dropped
  // nested bytes on re-add.

  private[graft] final case class ColMapField(
      id: Int, container: Int, logical: String, phys: String)
  private[graft] final case class ColMapV2(
      next: Int, fields: Seq[ColMapField], dead: Seq[(Int, String)])

  private[sources] def colMap2Json(m: ColMapV2): String = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.createObjectNode()
    root.put("next", m.next)
    val fs = om.createArrayNode()
    m.fields.foreach { f =>
      val n = om.createObjectNode()
      n.put("i", f.id); n.put("c", f.container)
      n.put("l", f.logical); n.put("p", f.phys)
      fs.add(n); ()
    }
    root.set[com.fasterxml.jackson.databind.JsonNode]("fields", fs)
    val ds = om.createArrayNode()
    m.dead.foreach { case (c, p) =>
      val n = om.createObjectNode()
      n.put("c", c); n.put("p", p)
      ds.add(n); ()
    }
    root.set[com.fasterxml.jackson.databind.JsonNode]("dead", ds)
    om.writeValueAsString(root)
  }

  private[sources] def parseColMap2(json: String): Option[ColMapV2] =
    scala.util.Try {
      val om = new com.fasterxml.jackson.databind.ObjectMapper()
      val root = om.readTree(json)
      val fields = Seq.newBuilder[ColMapField]
      root.get("fields").forEach { n =>
        fields += ColMapField(n.get("i").asInt, n.get("c").asInt,
          n.get("l").asText, n.get("p").asText)
      }
      val dead = Seq.newBuilder[(Int, String)]
      root.get("dead").forEach { n =>
        dead += ((n.get("c").asInt, n.get("p").asText))
      }
      ColMapV2(root.get("next").asInt, fields.result(), dead.result())
    }.toOption

  /** The flat logical-path → physical-path translation a tree implies:
    * one entry per field whose OWN name diverges, keyed by the full
    * dotted logical path and valued with the full dotted physical path
    * (container translation composes through [[physName]]'s
    * longest-prefix rule for unentried descendants). Tree order is
    * parent-before-child by construction ([[reconcileColMap2]] emits a
    * pre-order walk). */
  private[graft] def flatColMap(v2: ColMapV2): Map[String, String] = {
    val lp = scala.collection.mutable.Map(0 -> "")
    val pp = scala.collection.mutable.Map(0 -> "")
    val out = Map.newBuilder[String, String]
    v2.fields.foreach { f =>
      def join(a: String, b: String) = if (a.isEmpty) b else a + "." + b
      val l = join(lp.getOrElse(f.container, ""), f.logical)
      val p = join(pp.getOrElse(f.container, ""), f.phys)
      lp(f.id) = l; pp(f.id) = p
      if (f.logical != f.phys) out += l -> p
    }
    out.result()
  }

  /** Fold the NEW committed schema against the previous field tree:
    * fields matching a previous entry by (container id, logical name)
    * — or reached through `carry` (newLogicalPath → prevLogicalPath,
    * the rename spelling) — KEEP their id and frozen physical name;
    * anything else is a new field and mints the next id with a
    * physical name taken from `flat` (the commit's staged translation
    * — identity unless a DDL pre-allocated a fresh name). Previous
    * entries no rule matched are dropped fields: their (container,
    * phys) tombstones so the name can never be minted again in that
    * container. Minting a physical name a live or dead sibling holds
    * REFUSES — committing it would let old bytes answer for the new
    * field (the resurrection this mode exists to prevent). */
  private[sources] def reconcileColMap2(prev: Option[ColMapV2],
      schema: org.apache.spark.sql.types.StructType,
      flat: Map[String, String],
      carry: Map[String, String]): ColMapV2 = {
    val prevFields = prev.map(_.fields).getOrElse(Nil)
    val byKey = prevFields.map(f => (f.container, f.logical) -> f).toMap
    val childrenOf = prevFields.groupBy(_.container)
    def prevByPath(path: String): Option[ColMapField] = {
      var container = 0
      var ent: Option[ColMapField] = None
      path.split('.').foreach { seg =>
        ent = byKey.get((container, seg))
        ent match {
          case Some(e) => container = e.id
          case None => return None
        }
      }
      ent
    }
    var next = prev.map(_.next).getOrElse(1)
    val out = Seq.newBuilder[ColMapField]
    val matched = scala.collection.mutable.Set.empty[Int]
    // phys names already spoken for per container: every PREVIOUS
    // entry's name (matched entries keep theirs; unmatched ones are
    // dying and must not be resurrected) plus tombstones plus names
    // minted earlier in this walk
    val claimed = scala.collection.mutable.Set.empty[(Int, String)]
    prevFields.foreach(f => claimed += ((f.container, f.phys)))
    prev.foreach(_.dead.foreach(claimed += _))
    def walk(st: org.apache.spark.sql.types.StructType,
        container: Int, prefix: String, physPrefix: String): Unit =
      st.fields.foreach { f =>
        val lpath = if (prefix.isEmpty) f.name else prefix + "." + f.name
        val ent = byKey.get((container, f.name))
          .orElse(carry.get(lpath).flatMap(prevByPath))
        val (id, phys) = ent match {
          case Some(e) => matched += e.id; (e.id, e.phys)
          case None =>
            val full = physName(flat, lpath)
            val p =
              if (physPrefix.isEmpty) full
              else full.stripPrefix(physPrefix + ".")
            if (claimed((container, p)))
              throw new IllegalStateException(
                s"column-mapping conflict: field '$lpath' would take " +
                  s"physical name '$p', which a dropped or concurrent " +
                  "field of the same container already holds — old " +
                  "bytes would answer for the new field. Re-add the " +
                  "column with ALTER TABLE ... ADD COLUMN (which " +
                  "allocates a fresh physical name) instead of " +
                  "re-introducing it through a write's schema evolution.")
            val i = next; next += 1
            (i, p)
        }
        claimed += ((container, phys))
        out += ColMapField(id, container, f.name, phys)
        f.dataType match {
          case s: org.apache.spark.sql.types.StructType =>
            walk(s, id,
              lpath,
              if (physPrefix.isEmpty) phys else physPrefix + "." + phys)
          case _ =>
        }
      }
    walk(schema, 0, "", "")
    // a dropped container retires its own name; its children die with
    // it (their namespace — the container id — is unreachable once the
    // id is never reissued), but tombstoning them too is free and keeps
    // the dead list self-describing
    val newDead = (prev.map(_.dead).getOrElse(Nil) ++
      prevFields.filterNot(f => matched(f.id))
        .map(f => (f.container, f.phys))).distinct
    ColMapV2(next, out.result(), newDead)
  }

  /** Per-id full logical paths of a tree (pre-order: containers
    * precede their children by construction). */
  private[sources] def colMap2Paths(v2: ColMapV2): Map[Int, String] = {
    val lp = scala.collection.mutable.Map(0 -> "")
    val out = Map.newBuilder[Int, String]
    v2.fields.foreach { f =>
      val base = lp.getOrElse(f.container, "")
      val l = if (base.isEmpty) f.logical else base + "." + f.logical
      lp(f.id) = l
      out += f.id -> l
    }
    out.result()
  }

  /** Evolve the committed schema TOWARD `incoming` by the APPEND rule
    * (add nullable columns — nested included via struct merge — and
    * lossless type widening; anything lossy refuses loudly) in ONE
    * metadata commit with zero data I/O. No-op when nothing changes.
    * This is what the SQL `MERGE WITH SCHEMA EVOLUTION` spelling runs
    * before re-analyzing the merge: the v1 analyzer expands star
    * actions against the target schema, so the target must carry the
    * evolved shape BEFORE resolution — the same rule
    * [[LakeMutations.mergeCommitted]]'s allowSchemaEvolution applies
    * at execution. */
  def evolveSchema(spark: SparkSession, root: String,
      incoming: org.apache.spark.sql.types.StructType,
      retain: Int = -1): Long =
    commitDdl(spark, root, retain, "evolving the schema") { (cur, m) =>
      val schema = carriedSchema(m, root, "evolve")
      require(!incoming.fieldNames.contains(RowIdCol),
        s"'$RowIdCol' is engine-owned under row tracking — the incoming " +
          "schema must omit it")
      val merged = mergeSchemas(schema, incoming)
      if (merged == schema) None
      else {
        requireNotFoldTable(m, root, "evolve the schema of")
        // new top-level names allocate physical names that can never
        // collide with a mapped or retired one, exactly like an
        // evolving append's staging would
        val newMap = allocPhysical(merged, m.colMap, m.retired, cur + 1)
        Some(DdlPlan(Some(merged), "evolve schema", _.copy(colMap = newMap)))
      }
    }

  /** TEST SEAM: runs after a nested-DDL statement validates against its
    * snapshot and BEFORE its auto id-mode upgrade commit — the window a
    * concurrent commit occupies when it must be detected by the
    * post-upgrade drift check rather than silently folded over. */
  private[graft] var beforeColMapUpgrade: () => Unit = () => ()

  /** Upgrade a table to id-mode column mapping: one metadata commit
    * assigns immutable ids to every EXISTING field (nested included)
    * under its current physical name — zero data I/O, zero file
    * rewrites (the Iceberg name-mapping trick). After this, nested
    * RENAME and DROP are one-manifest-write operations, and every
    * staged file carries `parquet.field.id`. No-op when already
    * upgraded. Stamps `#require=colmap2` — older builds refuse the
    * table rather than silently dropping the tree. */
  def upgradeColumnMapping(spark: SparkSession, root: String,
      retain: Int = -1): Long =
    commitDdl(spark, root, retain, "upgrading column mapping") { (_, m) =>
      if (m.colMap2.isDefined) None
      else {
        carriedSchema(m, root, "upgrade")
        requireNotFoldTable(m, root, "upgrade column mapping on")
        Some(DdlPlan(m.schema, "upgrade column mapping",
          colMap2Establish = true))
      }
    }

  /** [[commitDdl]] for the nested rename and drop. `validate` checks
    * the statement against the live snapshot and returns the op's name
    * (for refusals) and its plan against a base snapshot. Ids must
    * assign to the PRE-DDL names, so the table first upgrades to
    * id-mode as its own commit (a no-op when done), and the DDL then
    * commits against the post-upgrade base. A commit landing between
    * validation and the upgrade (an evolving append, a DDL) would
    * otherwise be silently folded over — its schema republished stale,
    * its new columns tombstoned by the reconcile — so drift in anything
    * the validation read refuses; the upgrade itself changes none of
    * it (it only assigns ids to the EXISTING names). */
  private def commitNestedDdl(spark: SparkSession, root: String,
      retain: Int)(validate: TableMeta => (String, TableMeta => DdlPlan)): Long = {
    val (cur, curMeta) = liveSnapshot(spark, root)
    val (what, plan) = validate(curMeta)
    beforeColMapUpgrade()
    upgradeColumnMapping(spark, root, retain)
    def validated(m: TableMeta) = (m.schema, m.colMap, m.checks, m.genAll)
    commitDdl(spark, root, retain, what) { (base, baseMeta) =>
      if (base != cur && validated(baseMeta) != validated(curMeta))
        throw new java.util.ConcurrentModificationException(
          s"$what on $root raced a concurrent commit that changed the " +
            "table's schema or constraints between validation and the " +
            "id-mode upgrade — retry against the current table")
      Some(plan(baseMeta))
    }
  }

  /** Attribute paths (dotted, as written) referenced by stored
    * expression texts whose path OVERLAPS `path` — equal, descendant,
    * or ancestor, under the session resolver. An unparseable
    * expression is conservatively treated as referencing. */
  private[sources] def refsOverlapping(spark: SparkSession,
      exprs: Seq[(String, String)], path: Seq[String]): Seq[String] = {
    val res = org.apache.spark.sql.internal.SQLConf.get.resolver
    def overlaps(a: Seq[String]): Boolean = {
      val n = math.min(a.length, path.length)
      a.take(n).zip(path.take(n)).forall { case (x, y) => res(x, y) }
    }
    exprs.collect { case (name, e) if
        scala.util.Try(spark.sessionState.sqlParser.parseExpression(e))
          .map(_.exists {
            case u: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
              overlaps(u.nameParts)
            case _ => false
          }).getOrElse(true) => name }
  }

  /** Remove the field at `path` — the schema-surgery core of nested
    * DROP COLUMN. Refuses a missing path, a non-struct intermediate,
    * and emptying a struct (parquet cannot represent an empty group —
    * drop the container instead). Segments resolve under the session
    * resolver; returns (new schema, canonical path as spelled in the
    * schema). */
  private[sources] def dropFieldAt(
      schema: org.apache.spark.sql.types.StructType, path: Seq[String]):
      (org.apache.spark.sql.types.StructType, Seq[String]) = {
    import org.apache.spark.sql.types.StructType
    val res = org.apache.spark.sql.internal.SQLConf.get.resolver
    require(path.nonEmpty, "empty column path")
    val i = schema.fieldNames.indexWhere(res(_, path.head))
    require(i >= 0, s"no field '${path.head}'")
    val f = schema.fields(i)
    if (path.length == 1) {
      require(schema.length > 1,
        s"dropping '${f.name}' would empty its struct — parquet cannot " +
          "represent an empty group; drop the container column instead")
      (StructType(schema.fields.patch(i, Nil, 1)), Seq(f.name))
    } else f.dataType match {
      case st: StructType =>
        val (inner, canon) = dropFieldAt(st, path.tail)
        val rebuilt = schema.fields.clone()
        rebuilt(i) = f.copy(dataType = inner)
        (StructType(rebuilt), f.name +: canon)
      case other => throw new IllegalArgumentException(
        s"'${f.name}' is ${other.simpleString}, not a struct — cannot " +
          "drop a field inside it")
    }
  }

  /** Rename the field at `path` to `newName` in place. Refuses a
    * missing path, a non-struct intermediate, and an existing target
    * name (session resolver). Returns (new schema, canonical old path,
    * canonical new path). */
  private[sources] def renameFieldAt(
      schema: org.apache.spark.sql.types.StructType, path: Seq[String],
      newName: String): (org.apache.spark.sql.types.StructType,
        Seq[String], Seq[String]) = {
    import org.apache.spark.sql.types.StructType
    val res = org.apache.spark.sql.internal.SQLConf.get.resolver
    require(path.nonEmpty, "empty column path")
    val i = schema.fieldNames.indexWhere(res(_, path.head))
    require(i >= 0, s"no field '${path.head}'")
    val f = schema.fields(i)
    if (path.length == 1) {
      require(!schema.fieldNames.exists(res(_, newName)),
        s"field '$newName' already exists beside '${f.name}'")
      val rebuilt = schema.fields.clone()
      rebuilt(i) = f.copy(name = newName)
      (StructType(rebuilt), Seq(f.name), Seq(newName))
    } else f.dataType match {
      case st: StructType =>
        val (inner, oldCanon, newCanon) = renameFieldAt(st, path.tail, newName)
        val rebuilt = schema.fields.clone()
        rebuilt(i) = f.copy(dataType = inner)
        (StructType(rebuilt), f.name +: oldCanon, f.name +: newCanon)
      case other => throw new IllegalArgumentException(
        s"'${f.name}' is ${other.simpleString}, not a struct — cannot " +
          "rename a field inside it")
    }
  }

  /** DROP a NESTED field as METADATA — the operation name-mode column
    * mapping refused through round 16: one manifest write removes the
    * field from the committed schema and tombstones its (container id,
    * physical name) in the id tree, so a later re-add of the same name
    * allocates a FRESH physical name and can never read the dropped
    * bytes back (the honest boundary that forced the old refusal).
    * Zero data I/O; old versions still serve the field under time
    * travel. Auto-upgrades the table to id-mode (`#colmap2`) when
    * needed. Refuses: paths a CHECK constraint or generated column
    * reaches into (or through), legacy and fold tables. */
  def dropNestedColumn(spark: SparkSession, root: String,
      path: Seq[String], retain: Int = -1): Long = {
    require(path.length >= 2,
      s"dropNestedColumn needs a nested path (got ${path.mkString(".")}) " +
        "— use dropColumn for top-level columns")
    // one engine: the batch path owns the guards, the id-mode upgrade
    // and the tombstone bookkeeping
    dropColumnsAtPaths(spark, root, Seq(path), retain)
  }

  /** RENAME a NESTED field as METADATA: one manifest write — the field
    * keeps its immutable id and FROZEN physical name (data files, and
    * every physically-keyed stats/bloom line, are untouched at any
    * table size); only the committed schema's logical name moves.
    * Auto-upgrades to id-mode. Refuses: an existing target name, paths
    * a CHECK constraint or generated column reaches into, legacy and
    * fold tables. */
  def renameNestedColumn(spark: SparkSession, root: String,
      path: Seq[String], newName: String, retain: Int = -1): Long = {
    require(path.length >= 2,
      s"renameNestedColumn needs a nested path (got ${path.mkString(".")}) " +
        "— use renameColumn for top-level columns")
    require(newName.nonEmpty && !newName.exists("=,:\n#.".contains(_)),
      s"field name '$newName' may not contain '=', ',', ':', '#', '.', " +
        "or newline")
    commitNestedDdl(spark, root, retain) { m =>
      val schema = carriedSchema(m, root, "rename")
      requireNotFoldTable(m, root, "rename a nested column of")
      val (newSchema, oldCanon, newCanon) =
        try renameFieldAt(schema, path, newName)
        catch { case e: IllegalArgumentException =>
          throw new IllegalArgumentException(
            s"cannot rename ${path.mkString(".")} at $root: ${e.getMessage}")
        }
      val refs = refsOverlapping(spark, m.checks, oldCanon)
      require(refs.isEmpty,
        s"cannot rename ${oldCanon.mkString(".")}: CHECK constraint(s) " +
          refs.mkString("[", ", ", "]") + " reference it — drop them, " +
          "rename, and re-add them under the new name")
      val genRefs = refsOverlapping(spark, m.genAll, oldCanon)
      require(genRefs.isEmpty,
        s"cannot rename ${oldCanon.mkString(".")}: generated column(s) " +
          genRefs.mkString("[", ", ", "]") + " derive from (or through) it")
      (s"renaming ${oldCanon.mkString(".")}", _ => DdlPlan(Some(newSchema),
        s"rename column ${oldCanon.mkString(".")} -> " + newCanon.mkString("."),
        colMap2Carry = Map(newCanon.mkString(".") -> oldCanon.mkString("."))))
    }
  }

  /** RENAME a column as METADATA (Delta's column mapping): one
    * manifest write, ZERO data I/O at any table size — the immutable
    * data files keep the column's physical name, the committed schema
    * takes the new logical one, and the `#colmap` line re-points.
    * Superseded versions keep their own names under time travel.
    * Refuses: unknown source, duplicate target, a manifest-hostile
    * target name, a column referenced by a CHECK constraint (the
    * stored expression text would silently stop binding — drop the
    * constraint, rename, re-add it under the new name), pre-schema
    * (legacy) tables, and fold-maintained tables (their sink writes
    * data dirs outside the staging choke point that applies the map).
    * Optimistically concurrent like every maintenance commit.
    * @return the committed version carrying the renamed schema */
  def renameColumn(spark: SparkSession, root: String,
      oldName: String, newName: String, retain: Int = -1): Long = {
    require(newName.nonEmpty && !newName.exists("=,:\n#".contains(_)),
      s"column name '$newName' may not contain '=', ',', ':', '#', or newline")
    commitDdl(spark, root, retain, s"renaming '$oldName'") { (_, m) =>
      val schema = carriedSchema(m, root, "rename")
      require(schema.fieldNames.contains(oldName),
        s"no column '$oldName' at $root (have: " +
          schema.fieldNames.mkString("[", ", ", "]") + ")")
      require(!schema.fieldNames.contains(newName),
        s"column '$newName' already exists at $root")
      requireNotFoldTable(m, root, "rename a column of")
      val refs = checksReferencing(spark, m.checks, oldName)
      require(refs.isEmpty,
        s"cannot rename '$oldName': CHECK constraint(s) " +
          refs.mkString("[", ", ", "]") + " reference it — drop them, " +
          "rename, and re-add them under the new name")
      val genRefs = m.genAll.collect {
        case (c, _) if c == oldName => c
      } ++ checksReferencing(spark, m.genAll, oldName)
      require(genRefs.isEmpty,
        s"cannot rename '$oldName': generated column(s) " +
          genRefs.distinct.mkString("[", ", ", "]") + " are (or derive " +
          "from) it — the stored generation expression would stop binding")
      val phys = physName(m.colMap, oldName)
      val newMap = (m.colMap - oldName) ++
        (if (phys == newName) Nil else Seq(newName -> phys))
      val newSchema = org.apache.spark.sql.types.StructType(schema.fields.map(
        f => if (f.name == oldName) f.copy(name = newName) else f))
      Some(DdlPlan(Some(newSchema), s"rename column $oldName -> $newName",
        _.copy(colMap = newMap),
        // id-mode: the renamed column KEEPS its id (the carry tells
        // the reconcile which previous path it came from)
        colMap2Carry = Map(newName -> oldName)))
    }
  }

  /** DROP a column as METADATA: one manifest write, zero data I/O —
    * the column leaves the committed schema (reads stop serving it),
    * its physical name RETIRES (a later re-add allocates fresh, never
    * resurrecting the dropped bytes), and its entries leave the
    * stats/bloom column lists. Old versions still serve it under time
    * travel. Refuses: the last column, a partition or bucket column
    * (the layout is a table property — rewrite to re-layout), a
    * column referenced by a CHECK constraint, legacy and
    * fold-maintained tables.
    * @return the committed version without the column */
  def dropColumn(spark: SparkSession, root: String,
      name: String, retain: Int = -1): Long =
    dropColumnsAtPaths(spark, root, Seq(Seq(name)), retain)

  /** DROP several columns — top-level, nested, or mixed — in ONE
    * manifest commit: `ALTER TABLE t DROP COLUMNS (a, meta.x)` must be
    * atomic like the reference's ADD/ALTER statements, so a
    * mid-statement validation failure (an unknown name, a referenced
    * constraint, an OCC loss) applies NOTHING. Every guard of the
    * single-column spellings applies per path; any nested path
    * auto-upgrades the table to id-mode first (its own commit, like
    * the single-path DDL). */
  def dropColumnsAtPaths(spark: SparkSession, root: String,
      paths: Seq[Seq[String]], retain: Int = -1): Long = {
    require(paths.nonEmpty, "dropColumnsAtPaths needs at least one column")
    val names = paths.map(_.mkString(".")).mkString(", ")
    val nested = paths.exists(_.length >= 2)
    // ALL validation runs against one snapshot FIRST, so a refused
    // statement applies nothing — not even the id-mode upgrade commit
    def validate(m: TableMeta): TableMeta => DdlPlan = {
      requireNotFoldTable(m, root,
        if (nested) "drop a nested column of" else "drop a column of")
      val schema = carriedSchema(m, root, "drop")
      val map = m.colMap
      val checks = m.checks
      val gens = m.genAll
      var folded = schema
      val droppedPhys = Seq.newBuilder[String] // full dotted phys paths
      val retiredTop = Seq.newBuilder[String]
      var newMap = map
      paths.foreach { path =>
        require(path.nonEmpty, "empty column path")
        if (path.length == 1) {
          val name = path.head
          require(folded.fieldNames.contains(name),
            s"no column '$name' at $root (have: " +
              folded.fieldNames.mkString("[", ", ", "]") + ")")
          require(folded.length > 1, s"cannot drop the only column of $root")
          val phys = physName(map, name)
          require(!m.partCols.contains(phys),
            s"cannot drop partition column '$name' — the partition layout is " +
              "a table property; re-layout with commitOverwrite to change it")
          require(!m.bucketBy.exists(_._2.contains(phys)),
            s"cannot drop bucket column '$name' — the bucket layout is a " +
              "table property; re-layout with commitOverwrite to change it")
          val refs = checksReferencing(spark, checks, name)
          require(refs.isEmpty,
            s"cannot drop '$name': CHECK constraint(s) " +
              refs.mkString("[", ", ", "]") + " reference it — drop them first")
          val genRefs = gens.collect { case (c, _) if c == name => c } ++
            checksReferencing(spark, gens, name)
          require(genRefs.isEmpty,
            s"cannot drop '$name': generated column(s) " +
              genRefs.distinct.mkString("[", ", ", "]") + " are (or derive " +
              "from) it")
          require(!phys.exists("=,\n#".contains(_)),
            s"physical column name '$phys' cannot ride the #colretired line")
          folded = org.apache.spark.sql.types.StructType(
            folded.fields.filterNot(_.name == name))
          droppedPhys += phys
          retiredTop += phys
          newMap -= name
        } else {
          val (next, canon) =
            try dropFieldAt(folded, path)
            catch { case e: IllegalArgumentException =>
              throw new IllegalArgumentException(
                s"cannot drop ${path.mkString(".")} at $root: ${e.getMessage}")
            }
          val refs = refsOverlapping(spark, checks, canon)
          require(refs.isEmpty,
            s"cannot drop ${canon.mkString(".")}: CHECK constraint(s) " +
              refs.mkString("[", ", ", "]") + " reference it — drop them first")
          val genRefs = refsOverlapping(spark, gens, canon)
          require(genRefs.isEmpty,
            s"cannot drop ${canon.mkString(".")}: generated column(s) " +
              genRefs.mkString("[", ", ", "]") + " derive from (or through) it")
          folded = next
          droppedPhys += physName(map, canon.mkString("."))
          newMap -= canon.mkString(".")
        }
      }
      val droppedSet = droppedPhys.result().toSet
      val retired = retiredTop.result()
      val (schemaOut, mapOut) = (folded, newMap)
      base => DdlPlan(Some(schemaOut), s"drop column $names",
        _.copy(colMap = mapOut,
          retired = (base.retired ++ retired).distinct,
          statsCols = base.statsCols.filterNot(droppedSet),
          bloomCols = base.bloomCols.filterNot(droppedSet)))
    }
    // nested paths need the id tree (ids assign to the PRE-drop names,
    // tombstones key on them)
    if (nested)
      commitNestedDdl(spark, root, retain)(m => (s"dropping $names", validate(m)))
    else
      commitDdl(spark, root, retain, s"dropping $names")((_, m) =>
        Some(validate(m)(m)))
  }

  // -- column DEFAULT values ------------------------------------------
  //
  // Delta's allowColumnDefaults / Iceberg's initial-default, carried as
  // STANDARD Spark field metadata inside the `#schema` line (StructType
  // JSON round-trips metadata, so every schema-carrying read path —
  // readCommitted*, the SQL relation, streaming, DV reads — picks it up
  // with zero extra plumbing):
  //  - EXISTS_DEFAULT: what rows in files PREDATING the column read —
  //    Spark's own parquet/orc readers fill a column missing from a
  //    file from this metadata (per FILE, vectorized, codegen-safe), so
  //    old files read the default while post-add files read their
  //    stored values and an explicit NULL stays NULL.
  //  - CURRENT_DEFAULT: what a batch OMITTING the column writes —
  //    materialized physically at append (the generated-column
  //    materialization precedent), so stats/blooms see real values and
  //    history never reinterprets.
  // Constant literals only; both keys carry the same literal and are
  // IMMUTABLE once set (Iceberg's rule — a mutable initial-default
  // would retroactively rewrite history). Semantics-bearing → the
  // commit stamps the `default` protocol feature: a build without it
  // would read pre-add files NULL and append omitted columns as NULL.
  private[sources] val DefaultExistsKey = "EXISTS_DEFAULT"
  private[sources] val DefaultCurrentKey = "CURRENT_DEFAULT"

  /** Validate `text` as a column-DEFAULT literal for type `dt` and
    * CONSTANT-FOLD it once, returning the folded literal's SQL — what
    * actually lands in EXISTS_DEFAULT/CURRENT_DEFAULT. The stored text
    * is re-evaluated per read (the per-file backfill) and per omitting
    * write, so anything left unfolded could drift between sessions;
    * folding at DDL time freezes it (the same rule Spark's
    * ResolveDefaultColumns.analyze applies). Must analyze with no
    * input columns, fold to a constant, be deterministic, NOT be
    * query-time-anchored, and cast to `dt`; refuses loudly (never at
    * read time). */
  private[sources] def validateDefaultLiteral(spark: SparkSession,
      name: String, dt: org.apache.spark.sql.types.DataType,
      text: String): String = {
    val parsed = try spark.sql(s"SELECT ($text) AS v")
      catch { case e: Exception => throw new IllegalArgumentException(
        s"DEFAULT for '$name' must be a constant literal; `$text` " +
          s"does not analyze: ${e.getMessage}") }
    val e = parsed.queryExecution.analyzed.expressions.head match {
      case a: org.apache.spark.sql.catalyst.expressions.Alias => a.child
      case x => x
    }
    // current_timestamp()/now()/current_date() are Catalyst-foldable
    // AND deterministic (folded only later, by ComputeCurrentTime),
    // so the foldable gate alone would admit them — and the stored
    // text would re-evaluate per READ, drifting pre-add rows between
    // queries: exactly the history reinterpretation the immutability
    // rule forbids. Refuse them by node.
    val timeAnchored = Set("currentdate", "currenttimestamp", "now",
      "localtimestamp", "currenttimezone", "currenttime")
    require(e.find(c => timeAnchored.contains(
        c.nodeName.toLowerCase(java.util.Locale.ROOT))).isEmpty,
      s"DEFAULT for '$name' must be a CONSTANT literal — `$text` is " +
        "anchored to query time (current_timestamp()/current_date()/" +
        "now()), so pre-add rows would read a different value per " +
        "query; freeze the instant yourself (TIMESTAMP '...')")
    require(e.foldable && e.deterministic,
      s"DEFAULT for '$name' must be a CONSTANT literal — `$text` is " +
        "not foldable/deterministic (expressions, rand(), " +
        "current_timestamp() and column references are refused)")
    // fold: the literal must actually cast to the column type, and the
    // CAST RESULT is what the metadata stores
    val folded = try parsed
      .select(org.apache.spark.sql.functions.col("v").cast(dt))
      .collect().head.get(0)
    catch { case ex: Exception => throw new IllegalArgumentException(
      s"DEFAULT `$text` for '$name' does not cast to ${dt.simpleString}: " +
        ex.getMessage) }
    org.apache.spark.sql.catalyst.expressions.Literal.create(folded, dt).sql
  }

  /** Fields of the committed schema of `base` that declare a
    * CURRENT_DEFAULT and are ABSENT from `df` get materialized into
    * the batch — an omitting append writes the default physically
    * (never NULL), so post-add files always carry the column and the
    * per-file EXISTS_DEFAULT backfill applies exactly to pre-add
    * files. */
  private[sources] def materializeDefaults(base: TableMeta,
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val res = org.apache.spark.sql.internal.SQLConf.get.resolver
    base.schema match {
      case Some(s) =>
        s.fields.filter(f => f.metadata.contains(DefaultCurrentKey) &&
            !df.columns.exists(res(_, f.name)))
          .foldLeft(df)((d, f) => d.withColumn(f.name,
            org.apache.spark.sql.functions
              .expr(f.metadata.getString(DefaultCurrentKey))
              .cast(f.dataType)))
      case None => df
    }
  }

  /** ADD one nullable column WITH a DEFAULT literal: one manifest
    * write, zero data I/O. Existing rows read the DEFAULT (per-file
    * EXISTS_DEFAULT backfill — not NULL, unlike a plain add), batches
    * omitting the column write it (CURRENT_DEFAULT materialization),
    * and batches supplying it keep their values, explicit NULLs
    * included. Top-level columns only (a nested field has no single
    * per-file backfill story under struct clipping). */
  def addColumnWithDefault(spark: SparkSession, root: String,
      name: String, dt: org.apache.spark.sql.types.DataType,
      defaultSql: String, retain: Int = -1): Long = {
    val folded = validateDefaultLiteral(spark, name, dt, defaultSql)
    val md = new org.apache.spark.sql.types.MetadataBuilder()
      .putString(DefaultExistsKey, folded)
      .putString(DefaultCurrentKey, folded)
      .build()
    addColumnsWithMetadata(spark, root, Seq((name, dt, md)), retain)
  }

  /** `ALTER COLUMN c SET DEFAULT <literal>` / `DROP DEFAULT`: changes
    * what FUTURE omitting batches write (CURRENT_DEFAULT) in one
    * manifest commit for the whole statement. The per-file backfill
    * for files predating the column (EXISTS_DEFAULT) is FROZEN at ADD
    * time and never changes here — a mutable initial-default would
    * retroactively rewrite history (Iceberg's immutability rule).
    * `None` drops the current default. Top-level columns only;
    * identity / generated columns refuse (their values are
    * engine-owned). */
  def alterColumnDefaults(spark: SparkSession, root: String,
      cols: Seq[(String, Option[String])], retain: Int = -1): Long = {
    require(cols.nonEmpty, "alterColumnDefaults needs at least one column")
    commitDdl(spark, root, retain, "altering column defaults") { (_, m) =>
      val schema = carriedSchema(m, root, "alter defaults")
      requireNotFoldTable(m, root, "alter column defaults on")
      val res = org.apache.spark.sql.internal.SQLConf.get.resolver
      val identityDecl = m.identity
      val gens = m.genAll
      var fields = schema.fields
      cols.foreach { case (name, defOpt) =>
        val i = fields.indexWhere(f => res(f.name, name))
        require(i >= 0, s"no column '$name' at $root (have: " +
          fields.map(_.name).mkString("[", ", ", "]") + ")")
        require(!identityDecl.exists(d => res(d._1, name)) &&
            !gens.exists(g => res(g._1, name)),
          s"cannot set a DEFAULT on '$name' — identity/generated columns " +
            "are engine-owned (GENERATED ALWAYS)")
        val f = fields(i)
        val mb = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
        defOpt match {
          case Some(text) =>
            mb.putString(DefaultCurrentKey,
              validateDefaultLiteral(spark, name, f.dataType, text))
          case None =>
            mb.remove(DefaultCurrentKey)
        }
        fields = fields.updated(i, f.copy(metadata = mb.build()))
      }
      val newSchema = org.apache.spark.sql.types.StructType(fields)
      if (newSchema == schema) None
      else Some(DdlPlan(Some(newSchema),
        "alter column defaults " + cols.map { case (n, d) =>
          n + d.map(" = " + _).getOrElse(" drop") }.mkString(", ")))
    }
  }

  /** ADD nullable columns as METADATA: one manifest write, zero data
    * I/O — the committed schema gains the fields, every existing row
    * reads NULL (exactly what an evolving append would have done), and
    * later batches may supply them. New names that collide with a
    * mapped or retired physical name allocate fresh physical names.
    * Refuses duplicates, legacy (pre-schema) and fold tables.
    * @return the committed version carrying the widened schema */
  def addColumns(spark: SparkSession, root: String,
      cols: Seq[(String, org.apache.spark.sql.types.DataType)],
      retain: Int = -1): Long =
    addColumnsWithMetadata(spark, root,
      cols.map { case (n, dt) =>
        (n, dt, org.apache.spark.sql.types.Metadata.empty) }, retain)

  private[sources] def addColumnsWithMetadata(spark: SparkSession,
      root: String,
      cols: Seq[(String, org.apache.spark.sql.types.DataType,
        org.apache.spark.sql.types.Metadata)],
      retain: Int = -1): Long = {
    require(cols.nonEmpty, "addColumns needs at least one column")
    commitDdl(spark, root, retain, "adding columns") { (cur, m) =>
      val schema = carriedSchema(m, root, "add columns")
      // duplicate checks run under the SESSION resolver, like addFieldAt
      // and the ALTER paths: under the default case-insensitive analysis
      // `ADD COLUMNS (Score INT)` on a table with 'score' must refuse —
      // an exact-only check would commit a case-duplicate column the
      // analyzer can then no longer resolve unambiguously
      val res = org.apache.spark.sql.internal.SQLConf.get.resolver
      cols.foreach { case (n, _, _) =>
        require(n.nonEmpty && !schema.fieldNames.exists(res(_, n)),
          s"column '$n' already exists at $root (or is empty)")
      }
      for (i <- cols.indices; j <- cols.indices if i < j)
        require(!res(cols(i)._1, cols(j)._1),
          "duplicate names in the added column list")
      requireNotFoldTable(m, root, "add columns to")
      val newSchema = org.apache.spark.sql.types.StructType(
        schema.fields ++ cols.map { case (n, dt, md) =>
          org.apache.spark.sql.types.StructField(n, dt, nullable = true,
            metadata = md) })
      val newMap = allocPhysical(newSchema, m.colMap,
        m.retired, cur + 1)
      Some(DdlPlan(Some(newSchema), s"add columns ${cols.map(_._1).mkString(", ")}",
        _.copy(colMap = newMap)))
    }
  }

  /** Insert a nullable field named `path.last` into the struct at
    * `path.init` — the schema-surgery core of nested ADD COLUMN.
    * Refuses a missing/non-struct intermediate and an existing leaf;
    * array/map interiors refuse (a per-element add has no single
    * NULL-backfill story in old files). */
  private[sources] def addFieldAt(
      schema: org.apache.spark.sql.types.StructType, path: Seq[String],
      dt: org.apache.spark.sql.types.DataType):
      org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.{StructField, StructType}
    require(path.nonEmpty, "empty column path")
    // segment lookup under the session resolver: the analyzer resolved
    // the statement case-insensitively (by default), so `Meta.x` must
    // find the schema's `meta`, and adding `V` beside `v` must refuse
    val res = org.apache.spark.sql.internal.SQLConf.get.resolver
    if (path.length == 1) {
      require(!schema.fieldNames.exists(res(_, path.head)),
        s"field '${path.head}' already exists")
      StructType(schema.fields :+
        StructField(path.head, dt, nullable = true))
    } else {
      val i = schema.fieldNames.indexWhere(res(_, path.head))
      require(i >= 0, s"no field '${path.head}'")
      schema.fields(i).dataType match {
        case st: StructType =>
          val rebuilt = schema.fields.clone()
          rebuilt(i) = rebuilt(i).copy(
            dataType = addFieldAt(st, path.tail, dt))
          StructType(rebuilt)
        case other => throw new IllegalArgumentException(
          s"'${path.head}' is ${other.simpleString}, not a struct — " +
            "cannot add a field inside it")
      }
    }
  }

  /** `ALTER TABLE t ADD COLUMN meta.x <type>`: add a NULLABLE field
    * inside a struct column — one manifest schema commit, zero data
    * I/O. Old files lack the field and read it NULL (parquet schema
    * clipping), exactly like a top-level add; new files write it.
    * The container keeps its frozen physical name under column
    * mapping (nested names ride inside it verbatim), so stats,
    * blooms and pushdown on OTHER nested fields are untouched.
    * Identity / generated / bucket / constraint declarations are
    * top-level-only constructs, so a nested add can never collide
    * with them. */
  def addNestedColumn(spark: SparkSession, root: String,
      path: Seq[String], dt: org.apache.spark.sql.types.DataType,
      retain: Int = -1): Long = {
    require(path.length >= 2,
      s"addNestedColumn needs a nested path (got ${path.mkString(".")}) " +
        "— use addColumns for top-level columns")
    // one spelling: the batch path owns the id-mode fresh-physical-name
    // allocation a dropped-then-re-added nested name needs
    addColumnsAtPaths(spark, root, Seq((path, dt, None)), retain)
  }

  /** Under id-mode: fresh-PHYSICAL-name allocation for NESTED adds —
    * the nested analog of [[allocPhysical]]. For each added path whose
    * target container has a tombstoned (or live) claim on the leaf
    * name, extend the flat map with a `<name>_r<version>` allocation,
    * so a re-added field can never read the dropped field's bytes.
    * Containers added in the same statement have no history and
    * allocate nothing; name-mode (no tree) passes through. */
  private[sources] def allocNestedPhys(v2Opt: Option[ColMapV2],
      flat: Map[String, String],
      schema: org.apache.spark.sql.types.StructType,
      paths: Seq[Seq[String]], version: Long): Map[String, String] =
    v2Opt match {
      case None => flat
      case Some(v2) =>
        import org.apache.spark.sql.types.StructType
        val res = org.apache.spark.sql.internal.SQLConf.get.resolver
        val byContainer = v2.fields.groupBy(_.container)
        val treeFlat = flatColMap(v2)
        var out = flat
        paths.filter(_.length >= 2).foreach { path =>
          // canonicalize the PARENT chain to the schema's spelling
          def canon(st: StructType, segs: Seq[String],
              acc: Seq[String]): Option[Seq[String]] = segs match {
            case Seq() => Some(acc)
            case h +: t => st.fields.find(f => res(f.name, h)) match {
              case Some(f) => f.dataType match {
                case inner: StructType => canon(inner, t, acc :+ f.name)
                case _ => None
              }
              case None => None
            }
          }
          canon(schema, path.init, Nil).foreach { parentCanon =>
            var cid = 0
            var known = true
            parentCanon.foreach { seg =>
              byContainer.getOrElse(cid, Nil)
                .find(f => res(f.logical, seg)) match {
                case Some(e) => cid = e.id
                case None => known = false
              }
            }
            if (known) {
              val name = path.last
              val claimed = (v2.dead.collect { case (c, p) if c == cid => p }
                ++ byContainer.getOrElse(cid, Nil).map(_.phys)).toSet
              def taken(s: String) = claimed.exists(res(_, s))
              if (taken(name)) {
                var cand = s"${name}_r$version"
                var i = 0
                while (taken(cand)) { i += 1; cand = s"${name}_r${version}_$i" }
                val lparent = parentCanon.mkString(".")
                out += (lparent + "." + name) ->
                  (physName(treeFlat, lparent) + "." + cand)
              }
            }
          }
        }
        out
    }

  /** Batch spelling covering MIXED top-level and nested paths in ONE
    * manifest commit — `ALTER TABLE t ADD COLUMNS (a INT, meta.x INT)`
    * must be atomic like the reference's: a validation failure on ANY
    * column (duplicate, missing container, bad grammar) applies
    * nothing, and an OCC loss can never leave the statement half
    * done. The whole new schema folds first; commitManifest once. */
  def addColumnsAtPaths(spark: SparkSession, root: String,
      cols: Seq[(Seq[String], org.apache.spark.sql.types.DataType,
        Option[String])],
      retain: Int = -1): Long = {
    require(cols.nonEmpty, "addColumnsAtPaths needs at least one column")
    // DEFAULT literals validate and become field metadata (top-level
    // only — the SQL rule refuses nested defaults before this point)
    def mdOf(name: String, dt: org.apache.spark.sql.types.DataType,
        default: Option[String]): org.apache.spark.sql.types.Metadata =
      default match {
        case None => org.apache.spark.sql.types.Metadata.empty
        case Some(text) =>
          val folded = validateDefaultLiteral(spark, name, dt, text)
          new org.apache.spark.sql.types.MetadataBuilder()
            .putString(DefaultExistsKey, folded)
            .putString(DefaultCurrentKey, folded)
            .build()
      }
    if (cols.forall(_._1.length == 1))
      return addColumnsWithMetadata(spark, root,
        cols.map { case (p, dt, d) => (p.head, dt, mdOf(p.head, dt, d)) },
        retain)
    require(cols.forall(c => c._1.length == 1 || c._3.isEmpty),
      "DEFAULT is a top-level-column construct")
    commitDdl(spark, root, retain, "adding columns") { (cur, m) =>
      val schema = carriedSchema(m, root, "add columns")
      requireNotFoldTable(m, root, "add columns to")
      cols.foreach { case (path, _, _) =>
        require(path.nonEmpty, "empty column path")
        if (path.length >= 2) path.foreach(seg => require(
          seg.nonEmpty && !seg.exists("=,\n#:.".contains(_)),
          s"column path segment '$seg' may not be empty or contain " +
            "'=', ',', ':', '#', '.', or newline"))
        else require(path.head.nonEmpty, "empty column name")
      }
      // fold in declaration order — a later nested add may target a
      // struct column added earlier in the SAME statement
      val newSchema0 = cols.foldLeft(schema) { case (acc, (path, dt, _)) =>
        try addFieldAt(acc, path, dt)
        catch { case e: IllegalArgumentException =>
          throw new IllegalArgumentException(
            s"cannot add ${path.mkString(".")} at $root: ${e.getMessage}")
        }
      }
      // top-level adds carrying a DEFAULT gain their metadata
      val defaults = cols.collect {
        case (Seq(n), dt, Some(text)) => n -> mdOf(n, dt, Some(text)) }.toMap
      val newSchema =
        if (defaults.isEmpty) newSchema0
        else org.apache.spark.sql.types.StructType(newSchema0.fields.map(f =>
          defaults.get(f.name).map(md => f.copy(metadata = md)).getOrElse(f)))
      // new TOP-LEVEL names need fresh physical allocations under
      // column mapping; nested adds ride inside their container's frozen
      // physical name — EXCEPT, under id-mode, a leaf name the container
      // tombstoned (dropped-then-re-added), which allocates fresh so the
      // dropped bytes stay unreachable
      val flat0 = m.colMap
      val withTop =
        if (cols.exists(_._1.length == 1))
          allocPhysical(newSchema, flat0, m.retired, cur + 1)
        else flat0
      val newMap = allocNestedPhys(m.colMap2,
        withTop, schema, cols.map(_._1), cur + 1)
      Some(DdlPlan(Some(newSchema),
        s"add columns ${cols.map(_._1.mkString(".")).mkString(", ")}",
        _.copy(colMap = newMap)))
    }
  }

  /** `ALTER TABLE t ALTER COLUMN c TYPE <wider>`: LOSSLESS type
    * widening as one manifest schema commit — zero data I/O. Old
    * files keep their narrower physical type and read UPCAST under
    * the widened `#schema` (the parquet reader's widening conversion,
    * the same machinery append/merge schema evolution already relies
    * on); new files write the wide type. Admissible widenings are
    * exactly [[widenedType]]'s (byte→short→int→long, float→double,
    * small-integral→double, recursively inside structs/arrays);
    * anything lossy — long→double above all — refuses with the
    * schema-evolution rule's message. Same-type is an idempotent
    * no-op.
    *
    * Refused for columns whose MATERIALIZED artifacts hash or derive
    * from the narrow type: bucket columns (bucket assignment hashes
    * the value's byte width — int 5 and long 5 land in different
    * buckets), generated partition columns and their sources (stored
    * dir tuples froze values computed at the narrow type; `hash(x)`
    * derivations would diverge), and the identity column (its domain
    * is fixed LongType). Range stats, blooms and partition tuples
    * survive widening: they compare through the width-independent
    * normalized domain (BigDecimal / putLong). */
  def alterColumnType(spark: SparkSession, root: String, name: String,
      newType: org.apache.spark.sql.types.DataType,
      retain: Int = -1): Long =
    alterColumnTypes(spark, root, Seq(Seq(name) -> newType), retain)

  /** Batch spelling: widen SEVERAL columns (top-level or nested) in
    * ONE manifest commit — `ALTER TABLE t ALTER COLUMN a TYPE …, b
    * TYPE …` must be atomic like the reference's, so a mid-statement
    * validation failure (a lossy type, a bucket column, an OCC loss)
    * leaves NOTHING applied. All guards run against the folded schema
    * BEFORE the single commitManifest call. */
  def alterColumnTypes(spark: SparkSession, root: String,
      cols: Seq[(Seq[String], org.apache.spark.sql.types.DataType)],
      retain: Int = -1): Long = {
    require(cols.nonEmpty, "alterColumnTypes needs at least one column")
    commitDdl(spark, root, retain, "altering column type") { (_, m) =>
      val schema0 = carriedSchema(m, root, "alter types")
      // session-resolver lookup: `ALTER COLUMN Meta.V` must find
      // `meta.v` under the default case-insensitive resolver
      val res = org.apache.spark.sql.internal.SQLConf.get.resolver
      val identityDecl = m.identity
      val bucketDecl = m.bucketBy
      val gens = m.genAll
      var schema = schema0
      var changed = false
      cols.foreach { case (path, newType) =>
        require(path.nonEmpty, "empty column path")
        def widenAt(st: org.apache.spark.sql.types.StructType,
            p: Seq[String]): (org.apache.spark.sql.types.StructType, Boolean) = {
          val i = st.fieldNames.indexWhere(res(_, p.head))
          require(i >= 0,
            if (p.length == path.length && path.length == 1)
              s"no column '${p.head}' at $root (have: " +
                st.fieldNames.mkString("[", ", ", "]") + ")"
            else s"no field '${p.head}' under ${path.mkString(".")}")
          val f = st.fields(i)
          if (p.length == 1) {
            if (f.dataType == newType) return (st, false) // idempotent no-op
            require(widenedType(f.dataType, newType).contains(newType),
              s"ALTER COLUMN TYPE supports lossless widening only; " +
                s"'${path.mkString(".")}' cannot change " +
                s"${f.dataType.simpleString} -> ${newType.simpleString}. " +
                "Rewrite the table (commitOverwrite) to change a column's type.")
            val rebuilt = st.fields.clone()
            rebuilt(i) = f.copy(dataType = newType)
            (org.apache.spark.sql.types.StructType(rebuilt), true)
          } else f.dataType match {
            case inner: org.apache.spark.sql.types.StructType =>
              val (widened, ch) = widenAt(inner, p.tail)
              val rebuilt = st.fields.clone()
              rebuilt(i) = f.copy(dataType = widened)
              (org.apache.spark.sql.types.StructType(rebuilt), ch)
            case other => throw new IllegalArgumentException(
              s"'${p.head}' is ${other.simpleString}, not a struct — cannot " +
                "alter a field inside it")
          }
        }
        if (path.length == 1) {
          val name = path.head
          // identity refusal comes FIRST — even a same-type no-op on the
          // identity column is a declaration error worth surfacing
          require(!identityDecl.exists(d => res(d._1, name)),
            s"cannot alter the identity column '$name' — its domain is " +
              "fixed LongType")
          val (s2, ch) = widenAt(schema, path)
          if (ch) {
            // guards that only matter when the type actually changes
            // (same-type stays a silent no-op, like the original)
            bucketDecl.foreach { case (_, bcols) =>
              require(!bcols.exists(res(_, name)),
                s"cannot widen bucket column '$name': bucket assignment hashes " +
                  "the stored width, so existing dirs would stop satisfying " +
                  "the bucketed read contract — re-layout with commitOverwrite")
            }
            require(!gens.exists(g => res(g._1, name)),
              s"cannot alter generated column '$name' — its stored dir values " +
                "froze under the generation expression")
            // reference check parses the stored text directly (classification
            // may refuse an expression that still references the column)
            val genSrcRefs = gens.collect {
              case (c, text) if scala.util.Try(
                  spark.sessionState.sqlParser.parseExpression(text).collect {
                    case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
                      a.nameParts.head
                  }).getOrElse(Seq(name)).exists(res(_, name)) => c
            }
            require(genSrcRefs.isEmpty,
              s"cannot widen '$name': generated column(s) " +
                genSrcRefs.mkString("[", ", ", "]") + " derive from it and " +
                "their stored dir values froze at the narrow type")
          }
          schema = s2; changed = changed || ch
        } else {
          val (s2, ch) = widenAt(schema, path)
          schema = s2; changed = changed || ch
        }
      }
      if (!changed) None
      else {
        requireNotFoldTable(m, root, "alter a column type on")
        Some(DdlPlan(Some(schema), "alter column " + cols.map { case (p, dt) =>
          s"${p.mkString(".")} type ${dt.simpleString}" }.mkString(", ")))
      }
    }
  }

  /** Nested spelling of [[alterColumnType]]:
    * `ALTER COLUMN meta.v TYPE <wider>` widens a STRUCT FIELD with the
    * same one-manifest-write cost and the same lossless-only rule
    * (the parquet reader's widening conversion applies per leaf, so
    * old files read the narrow nested field upcast). The top-level
    * guards (bucket/generated/identity) are vacuous here — those are
    * top-level-only constructs — but the container chain must exist
    * and be structs the whole way. Nested stats/blooms survive like
    * top-level ones (width-independent normalized domain). */
  def alterNestedColumnType(spark: SparkSession, root: String,
      path: Seq[String], newType: org.apache.spark.sql.types.DataType,
      retain: Int = -1): Long = {
    require(path.length >= 2,
      s"alterNestedColumnType needs a nested path (got ${path.mkString(".")})" +
        " — use alterColumnType for top-level columns")
    alterColumnTypes(spark, root, Seq(path -> newType), retain)
  }

  /** Fold-maintained tables write data dirs outside the staging choke
    * point that applies the column map — refuse mapping DDL on them
    * (`base` is the snapshot of the table at `root` the DDL edits). */
  private[sources] def requireNotFoldTable(base: TableMeta, root: String,
      what: String): Unit =
    base.op.foreach(op =>
        require(!op.startsWith("fold"),
          s"cannot $what a fold-maintained table at $root — the fold sink " +
            "pre-writes data dirs under the stream's own column names"))

  /** The committed schema a DDL op edits; a table predating carried
    * schemas refuses, naming what the op would do next (`verb`). */
  private[sources] def carriedSchema(base: TableMeta, root: String,
      verb: String): org.apache.spark.sql.types.StructType =
    base.schema.getOrElse(throw new IllegalArgumentException(
      s"the table at $root predates carried schemas — commit once " +
        s"(any append) to establish a #schema line, then $verb"))

  /** The table's established bucket layout: `want` when this commit
    * declares one, else inherited — a divergent re-declaration
    * refuses (re-bucket by writing a new root). */
  private[sources] def effectiveBucketBy(r: Path, pre: TableMeta,
      want: Option[(Int, Seq[String])]): Option[(Int, Seq[String])] = {
    want.foreach { case (n, cols) =>
      require(n >= 1, s"bucket count must be >= 1, got $n")
      require(cols.nonEmpty, "bucketBy needs at least one column")
      cols.foreach(c => require(!c.exists("=,\n#:".contains(_)),
        s"bucket column name '$c' may not contain '=', ',', ':', '#', or newline"))
    }
    val prev = pre.bucketBy
    want match {
      case None => prev
      case Some(w) =>
        require(prev.isEmpty || prev.contains(w),
          s"table at $r is bucketed by $prev; a commit cannot re-bucket " +
            s"it as $w — one layout per table (write a new root to re-layout)")
        Some(w)
    }
  }

  /** One dir's exact partition values: `{"c":{"n":"123"}}` numeric,
    * `{"c":{"s":"abc"}}` string, `{"c":{"z":true}}` NULL. */
  private[sources] def partJson(m: Seq[(String, Option[NormVal])]): String = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.createObjectNode()
    m.sortBy(_._1).foreach { case (c, v) =>
      val node = om.createObjectNode()
      v match {
        case Some(NumV(n)) => node.put("n", n.toString)
        case Some(StrV(s)) => node.put("s", s.toString)
        case None          => node.put("z", true)
      }
      root.set[com.fasterxml.jackson.databind.JsonNode](c, node)
      ()
    }
    om.writeValueAsString(root)
  }

  /** Inverse of [[partJson]]: col -> Some(value) | None (= NULL). */
  private[sources] def parsePartJson(json: String): Map[String, Option[NormVal]] = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = scala.util.Try(om.readTree(json)).getOrElse(return Map.empty)
    val it = root.properties().iterator()
    val out = Map.newBuilder[String, Option[NormVal]]
    while (it.hasNext) {
      val e = it.next()
      val v = e.getValue
      if (v.has("n"))
        scala.util.Try(NumV(BigDecimal(v.get("n").asText())))
          .foreach(n => out += e.getKey -> Some(n))
      else if (v.has("s"))
        out += e.getKey -> Some(StrV(
          org.apache.spark.unsafe.types.UTF8String.fromString(v.get("s").asText())))
      else if (v.has("z"))
        out += e.getKey -> None
    }
    out.result()
  }

  /** Partition columns established for the table (inherited), with a
    * divergent re-declaration refused — one layout per table. */
  /** One recorded partition value as the CATALYST INTERNAL value of
    * `dt` (what a [[org.apache.spark.sql.execution.datasources
    * .PartitionDirectory]] row carries): `#part_` lines store dates /
    * timestamps in their internal day/micros form already, so this is
    * numeric narrowing plus UTF8String passthrough. None = the value
    * does not represent under `dt` (disables partition-schema reads
    * for the snapshot, conservative); Some(null) = a NULL partition. */
  private[sources] def partInternal(v: Option[NormVal],
      dt: org.apache.spark.sql.types.DataType): Option[Any] = {
    import org.apache.spark.sql.types._
    v match {
      case None => Some(null)
      case Some(NumV(bd)) => dt match {
        case ByteType     => scala.util.Try(bd.toByteExact).toOption
        case ShortType    => scala.util.Try(bd.toShortExact).toOption
        case IntegerType | DateType => scala.util.Try(bd.toIntExact).toOption
        case LongType | TimestampType | TimestampNTZType =>
          scala.util.Try(bd.toLongExact).toOption
        case FloatType    => Some(bd.toFloat)
        case DoubleType   => Some(bd.toDouble)
        case d: DecimalType => scala.util.Try(
          org.apache.spark.sql.types.Decimal(bd, d.precision, d.scale)).toOption
        case _ => None
      }
      case Some(StrV(u)) => dt match {
        case StringType => Some(u)
        case _ => None
      }
    }
  }

  /** The PARTITION-SCHEMA read layout of one snapshot — what lets the
    * scan expose the partition columns as true Spark partition
    * columns, unlocking the engine's own static partition pruning AND
    * dynamic partition pruning (the star-join runtime prune) with no
    * special API: `Some((partition fields, dir -> tuple InternalRow))`
    * when EVERY live dir carries a `#part_` line whose values
    * represent under the committed types, the partition columns exist
    * in the schema (leaving a non-empty data schema), and no bucket
    * column doubles as a partition column. Any miss → None and reads
    * keep today's shape (a fold's fallback dir, a pre-layout table):
    * honest degradation, never wrong answers. */
  private[sources] def partitionLayoutAt(spark: SparkSession, root: String,
      version: Long, schema: org.apache.spark.sql.types.StructType):
      Option[(org.apache.spark.sql.types.StructType,
        Map[String, org.apache.spark.sql.catalyst.InternalRow])] = {
    val fs = fsFor(spark, root)
    val r = new Path(root)
    val meta = tableMeta(fs, r, version)
    val partCols = meta.partCols
    if (partCols.isEmpty) return None
    // #partcols and #part_ keys are PHYSICAL; `schema` (and the
    // partition schema this returns) is LOGICAL
    val inv = meta.colMap.map(_.swap)
    val pairs = partCols.map(c => c -> inv.getOrElse(c, c))
    val fieldsOpt = pairs.map { case (phys, log) =>
      schema.fields.find(_.name == log).map(phys -> _) }
    if (fieldsOpt.exists(_.isEmpty)) return None
    val fields = fieldsOpt.flatten
    if (fields.length == schema.length) return None // no data columns left
    if (meta.bucketBy
        .exists(_._2.exists(partCols.contains))) return None
    val perDir = dirMeta(fs, r, version)
    val dirs = manifestDirs(fs, r, version)
    val tuples = Map.newBuilder[String, org.apache.spark.sql.catalyst.InternalRow]
    dirs.foreach { d =>
      // un-tupled dir: no layout
      val j = perDir.get(d).flatMap(_.part).getOrElse(return None)
      val m = parsePartJson(j)
      val vals = fields.map { case (phys, f) =>
        if (!m.contains(phys)) return None
        partInternal(m(phys), f.dataType).getOrElse(return None)
      }
      tuples += d -> org.apache.spark.sql.catalyst.InternalRow.fromSeq(vals)
    }
    Some((org.apache.spark.sql.types.StructType(fields.map(_._2)),
      tuples.result()))
  }

  /** [[scanFilesAt]] grouped by manifest dir — the partition-schema
    * listing needs per-dir file sets to pair with per-dir tuples. */
  private[sources] def scanDirFilesAt(spark: SparkSession, root: String,
      version: Long,
      filters: Seq[org.apache.spark.sql.catalyst.expressions.Expression]):
      Seq[(String, Seq[org.apache.hadoop.fs.FileStatus])] = {
    val fs = fsFor(spark, root)
    val r = new Path(root)
    // scan-planning filters reference the relation's LOGICAL columns;
    // every per-dir line is keyed physically. Each filter is one
    // conjunct but may itself be an OR tree — the tree pruner keeps
    // the shape (both disjuncts must exclude before a dir drops).
    // Conjuncts on generated columns' SOURCES derive extra leaves on
    // the generated partition keys (ts-range-prunes-year-partitions).
    val tree = enrichTree(spark, fs, r, version,
      if (filters.isEmpty) PUnknown else PAnd(filters.map(extractTree)))
    // segment-aware prune: a summary-excluded segment of a tiered
    // snapshot is skipped without reading its side file, so SQL scan
    // planning pays O(matching segments) metadata reads too
    val sp = scanPruneAt(spark, root, version, tree)
    val prunable = treeHasLeaves(tree)
    sp.kept.map { d =>
      val files = sp.dirMeta.get(d).map(_.files) match {
        case Some(byFile) if byFile.nonEmpty && prunable =>
          splitDirFilesTree(fs, r, d, byFile, tree)._1
        case _ =>
          fs.listStatus(new Path(r, d)).toSeq
            .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      }
      d -> files
    }
  }
}
