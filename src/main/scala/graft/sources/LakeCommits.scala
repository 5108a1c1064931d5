package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.Shim
import graft.operators.{Dedup, ShuffleWidth}

/** Commit engines: batch staging, the manifest writer (one atomic put-if-absent publish), append/overwrite with their OCC rebase rules, and retention pruning.
  *
  * Mechanically split from the [[Lake]] object (one object, many
  * files): every member keeps its semantics and its package-private
  * reach; [[Lake]] mixes the traits back into the single public
  * surface. See Lake.scala for the protocol overview. */
private[graft] trait LakeCommits { this: Lake.type =>

  /** Dirs under this size count as "small" for the auto-compaction
    * trigger and are the ones it bin-packs (the compaction call's
    * `minBytes`). */
  private[sources] final val AutoCompactMinBytes = 32L * 1024 * 1024

  /** Optimize-write sizing target: plan-estimated bytes per staged
    * output file (in-memory estimate, so compressed files land
    * smaller — conservative in the safe direction). */
  private[sources] final val OptimizeWriteTargetBytes = 128L * 1024 * 1024

  /** Post-append auto-compaction (Delta's autoOptimize.autoCompact as
    * the `graft.autoCompact` table property): when the property is set
    * to N and the just-committed snapshot holds >= N dirs under
    * [[AutoCompactMinBytes]], run one incremental bin-pack before the
    * append returns — a high-frequency appender stops accumulating the
    * small-files pathology without an external OPTIMIZE cadence, and
    * the trigger self-arms only after enough debt builds (post-compact
    * the small count drops below N, so per-append cost returns to one
    * property lookup). BEST-EFFORT FOR EVERY FAILURE SHAPE: the append
    * itself has already durably committed before this runs, so a throw
    * here would surface AFTER the commit — a caller retrying
    * commitAppend on exception would double-ingest the batch. Lost OCC
    * races, IO errors mid-rewrite, a listing racing a concurrent
    * VACUUM: all are logged-and-dropped (the next triggering append
    * retries the compaction); only fatal VM errors propagate. */
  private def maybeAutoCompact(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, r: Path, root: String): Unit =
    try {
      liveMeta(fs, r).props.get(PropAutoCompact).flatMap(_.toIntOption)
        .foreach { threshold =>
          val small = committedVersions(fs, r).lastOption.map { v =>
            manifestDirs(fs, r, v).count { d =>
              val p = new Path(r, d)
              fs.exists(p) && fs.listStatus(p).iterator
                .filter(st => st.isFile &&
                  st.getPath.getName.endsWith(".parquet"))
                .map(_.getLen).sum < AutoCompactMinBytes
            }
          }.getOrElse(0)
          if (small >= threshold) {
            compactCommitted(spark, root, minBytes = AutoCompactMinBytes); ()
          }
        }
    } catch {
      case scala.util.control.NonFatal(e) =>
        org.apache.log4j.Logger.getLogger(getClass)
          .warn(s"auto-compact after append on $root skipped: $e")
    }

  private[sources] def effectivePartCols(prev: TableMeta,
      want: Seq[String]): Seq[String] = {
    // same grammar guard as stats/bloom columns: the list rides a
    // comma-separated manifest line, so these characters would write a
    // malformed #partcols line (a newline even injects a bogus body line)
    want.foreach(c => require(!c.exists("=,\n#".contains(_)),
      s"partition column name '$c' may not contain '=', ',', '#', or newline"))
    // FORWARD-ONLY partition evolution (Iceberg's spec evolution,
    // without a rewrite): a commit may RE-DECLARE the layout — the new
    // `#partcols` governs how THIS and future commits stage, while
    // every old dir keeps its recorded `#part_` tuple. Pruning is
    // per-dir-tuple (a predicate on a column a dir has no tuple for
    // keeps the dir — honest degradation to scan, never a wrong
    // prune), so BOTH generations keep pruning on their own keys; the
    // native partition-aware scan shape (partitionLayoutAt) requires a
    // uniformly-tupled snapshot and degrades the same way. OPTIMIZE
    // migrates old dirs: a compaction/z-order re-stages their rows
    // under the CURRENT declaration. Old builds read evolved tables
    // safely through the same keep-when-untupled rule, so evolution
    // stamps no `#require=` feature.
    if (want.isEmpty) prev.partCols else want
  }

  /** Types a partition value can normalize to (the [[normLit]] set) —
    * anything else refuses at write time, never at prune time. */
  private[sources] def partitionableType(dt: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType | DateType |
           TimestampType | TimestampNTZType | FloatType | DoubleType |
           StringType => true
      case _: DecimalType => true
      case _ => false
    }
  }

  /** Run `n` independent staging tasks concurrently on a bounded
    * fresh pool, returning results in INDEX ORDER with per-task
    * failures captured (never fail-fast mid-flight — callers must see
    * every staged dir to clean up). Bounded at 4 in-flight: enough to
    * fill a scheduler tail of tiny 1-task jobs, not enough to fight
    * the queries for executor threads (guide §2.6's "2-3 jobs in
    * flight is plenty"). The pool is per-call and always shut down —
    * commit paths are not hot enough to justify a shared executor. */
  private[sources] def stageConcurrently[T](n: Int)(task: Int => T):
      IndexedSeq[Either[Throwable, T]] = {
    if (n <= 1) return (0 until n).map(i =>
      try Right(task(i)) catch { case t: Throwable => Left(t) })
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(n, 4))
    try {
      val futures = (0 until n).map { i =>
        pool.submit(new java.util.concurrent.Callable[Either[Throwable, T]] {
          override def call(): Either[Throwable, T] =
            try Right(task(i)) catch { case t: Throwable => Left(t) }
        })
      }
      futures.map(_.get())
    } finally { pool.shutdown() }
  }

  /** Stage a batch under writer-unique dirs: ONE dir when `partCols`
    * is empty, one dir PER distinct partition-value tuple otherwise.
    * Returns (dirs, their [[DirMeta]] entries, rows staged): the dirs
    * and entries ready for [[commitManifest]], and the row count the
    * staging writes observed themselves, summed over the partition
    * slices (no extra job; an empty bucketed batch counts 0). `base`
    * is the table state the caller derived the batch against; the id
    * tree and the optimize-write property are read from it.
    * The distinct-tuple collect is partition-count-sized (metadata
    * scale, like the k-means centroid sync) and capped — a batch with
    * thousands of distinct values wants a coarser partition key.
    *
    * `maintenance = true` marks layout-PRESERVING re-staging (COW
    * rewrites, compaction): those re-stage whole-snapshot slices, so
    * the per-batch tuple cap would hard-fail any maintenance op on a
    * table whose accumulated partitions exceed it (~3 years of daily
    * partitions). Maintenance falls back to ONE unpartitioned dir
    * instead — no #part_ line, pruning degrades for the rewritten
    * slice, but the op succeeds and correctness is untouched (a dir
    * with no recorded values is always scanned). Appends keep the
    * refusal: a single BATCH with >1000 tuples is a layout-design
    * error, not an accumulation.
    *
    * Failure discipline: any throw after dirs were staged (a partition
    * value that does not normalize, a mid-loop write error) deletes
    * the already-staged dirs before rethrowing — matching the commit
    * paths' lost-race cleanup, so refusals never leave orphan data
    * dirs under the table root. */
  private[sources] def stageBatch(spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem, r: Path,
      df0: org.apache.spark.sql.DataFrame, base: TableMeta,
      effStats: Seq[String], effBloom: Seq[String], partCols: Seq[String],
      maintenance: Boolean = false,
      bucketBy: Option[(Int, Seq[String])] = None,
      colMap: Map[String, String] = Map.empty):
      (Seq[String], Map[String, DirMeta], Long) = {
    import org.apache.spark.sql.functions.{col, lit}
    // batches arrive under LOGICAL names; files (and therefore every
    // per-dir stat/bloom/part key, and the partCols/effStats/effBloom/
    // bucket args, which come from the manifest) are PHYSICAL. Under
    // id-mode the tree additionally stamps each known field's
    // parquet.field.id into the staged files (write-side provenance).
    val df = toPhysicalDf(df0, colMap, base.colMap2)
    // optimize-write (Delta's): with the table property on, each
    // slice coalesces to ceil(est/128 MB) files instead of one file
    // per shuffle partition — a 32-thread tiny append stages ONE
    // file. Coalesce is shuffle-free; the bucketed writer keeps its
    // own layout (bucket count fixes the file set), and an unknown or
    // huge size estimate leaves the slice untouched (never funnel a
    // big batch into too few write tasks on a bad estimate).
    val optimizeWrite = bucketBy.isEmpty &&
      base.props.get(PropOptimizeWrite).contains("true")
    def sized(slice: org.apache.spark.sql.DataFrame):
        org.apache.spark.sql.DataFrame =
      if (!optimizeWrite) slice
      else {
        val est = slice.queryExecution.optimizedPlan.stats.sizeInBytes
        if (est <= 0 || est > (BigInt(64L) << 30)) slice
        else {
          val n = ((est + OptimizeWriteTargetBytes - 1) /
            OptimizeWriteTargetBytes).toLong.max(1L).min(10000L).toInt
          if (n < slice.rdd.getNumPartitions) slice.coalesce(n) else slice
        }
      }
    // partitioned AND bucketed compose: each partition tuple's dir is
    // written through the bucketed writer, and since every row of key
    // k lands in bucket hash(k) regardless of WHICH dir holds it, the
    // scan's bucket grouping stays exact across pruned dir subsets —
    // partition values prune dirs, buckets kill the join shuffle, the
    // standard composed 100 TB fact layout
    bucketBy.foreach { case (_, cols) =>
      cols.foreach(c => require(df.columns.contains(c),
        s"bucket column '$c' is not in the batch schema " +
          df.columns.mkString("[", ", ", "]")))
    }
    // Per-dir min/max stats and the row count (the bloom builder's
    // and the caller's) ride the staging write itself as `observe`
    // metrics — the write job computes them streaming, so staging a
    // dir costs ONE job instead of write + stats-agg + count
    // (measured: the metadata jobs doubled-to-tripled every lake
    // scenario commit's job count at bench scale, each a ~60-150 ms
    // fixed-overhead 1-task job). The
    // JSON comes from the SAME statsJsonFromMinMax normalization the
    // read-back path uses, over the same rows the write emits, so the
    // manifest line is byte-identical to the re-read form.
    val statsPresent = effStats.filter(c => resolveField(df.schema, c).isDefined)
    def stageOne(slice: org.apache.spark.sql.DataFrame): (String, DirMeta, Long) = {
      val staged = stagedDirName()
      import org.apache.spark.sql.functions.{count => fcount, lit => flit, max => fmax, min => fmin}
      val obs = new org.apache.spark.sql.Observation()
      def observed(d: org.apache.spark.sql.DataFrame) =
        d.observe(obs, fcount(flit(1)).as("__n"),
          statsPresent.zipWithIndex.flatMap { case (c, i) =>
            Seq(fmin(col(c)).as(s"__lo_$i"), fmax(col(c)).as(s"__hi_$i")) }: _*)
      bucketBy match {
        case Some((n, cols)) =>
          // Spark's OWN bucketed writer is the only public path that
          // produces the bucket-id file naming and Murmur3 placement
          // the bucketed read contract depends on — route through a
          // throwaway EXTERNAL catalog entry pointed at the staged dir
          // (dropping an external table keeps its files)
          val tmp = "graft_bucket_stage_" +
            staged.replaceAll("[^a-zA-Z0-9_]", "_")
          try {
            observed(slice).write.mode("overwrite").format("parquet")
              .bucketBy(n, cols.head, cols.tail: _*)
              .sortBy(cols.head, cols.tail: _*)
              .option("path", new Path(r, staged).toString)
              .saveAsTable(tmp)
          } finally { spark.sql(s"DROP TABLE IF EXISTS `$tmp`"); () }
          // an empty bucketed batch writes NO data files (the plain
          // writer emits a schema-carrying empty file) — the stats
          // read cannot infer a schema there, and empty dirs carry no
          // ranges anyway
          if (!fs.listStatus(new Path(r, staged)).exists(f =>
              f.isFile && f.getPath.getName.endsWith(".parquet")))
            return (staged, DirMeta(
              stats = if (effStats.isEmpty) None else Some("{}"),
              bloom = if (effBloom.isEmpty) None else Some("{}")), 0L)
        case None =>
          observed(sized(slice)).write.mode("overwrite")
            .parquet(new Path(r, staged).toString)
      }
      val metrics = obs.get
      val stats =
        if (effStats.isEmpty) None
        else if (statsPresent.isEmpty) Some("{}")
        else Some(statsJsonFromMinMax(statsPresent, i =>
          metrics(if (i % 2 == 0) s"__lo_${i / 2}" else s"__hi_${i / 2}")))
      val nRows = metrics("__n").asInstanceOf[Long]
      (staged, DirMeta(stats = stats, bloom =
        dirBloomJson(spark, new Path(r, staged).toString, effBloom, Some(nRows))), nRows)
    }
    def single(slice: org.apache.spark.sql.DataFrame) = {
      val (d, m, n) = stageOne(slice)
      (Seq(d), Map(d -> m), n)
    }
    if (partCols.isEmpty) single(df)
    else {
      partCols.foreach(c => require(df.columns.contains(c),
        s"partition column '$c' is not in the batch schema " +
          df.columns.mkString("[", ", ", "]") + " — every writer to a " +
          "partitioned table must supply its partition columns"))
      partCols.foreach { c =>
        val dt = df.schema(c).dataType
        require(partitionableType(dt),
          s"partition column '$c' has unsupported type ${dt.simpleString} — " +
            "integral, float/decimal, string, date and timestamp partition")
      }
      val batch = df.persist()
      try {
        val cap = stageTupleCap
        val tuples = batch.select(partCols.map(col): _*)
          .distinct().limit(cap + 1).collect()
        if (tuples.length > cap && maintenance) {
          // whole-snapshot rewrite over an accumulated layout: succeed
          // unpartitioned rather than refuse the maintenance op
          return single(batch)
        }
        require(tuples.length <= cap,
          s"batch carries more than $cap distinct (${partCols.mkString(", ")}) " +
            "tuples — partition by a coarser key (a dir per tuple is the " +
            "layout contract)")
        // empty batch: one empty dir keeps the version/schema semantics
        if (tuples.isEmpty) single(batch)
        else {
          // validate every tuple BEFORE the first write: a value that
          // does not normalize refuses with zero dirs staged
          val tupleJsons = tuples.map { row =>
            partJson(partCols.zipWithIndex.map { case (c, i) =>
              c -> (if (row.isNullAt(i)) None
                else normExternal(row.get(i)) match {
                  case some @ Some(_) => some
                  case None => throw new IllegalArgumentException(
                    s"partition value ${row.get(i)} of column '$c' does not " +
                      "normalize — unsupported runtime type")
                })
            })
          }
          // per-tuple slices are INDEPENDENT tiny jobs against the
          // persisted batch — stage them concurrently so the next
          // slice's write back-fills the scheduler while the previous
          // one drains its straggler (guide §2.6 overlap; Spark's
          // scheduler is made for concurrent actions). Results keep
          // tuple order (indexed), so manifest dir order — and
          // therefore scan row order and CDF attribution — is exactly
          // the sequential loop's. Failure: await all, delete every
          // staged dir, rethrow the first error (the sequential
          // loop's cleanup contract).
          val results = stageConcurrently(tuples.length) { i =>
            val row = tuples(i)
            val slice = partCols.zipWithIndex.foldLeft(batch) {
              case (d0, (c, ci)) => d0.where(col(c) <=> lit(row.get(ci)))
            }
            stageOne(slice)
          }
          val failure = results.collectFirst { case Left(t) => t }
          if (failure.isDefined) {
            results.foreach {
              case Right((d, _, _)) =>
                scala.util.Try(fs.delete(new Path(r, d), true)); ()
              case _ => ()
            }
            throw failure.get
          }
          val slices = results.map(_.toOption.get)
          val staged = slices.zip(tupleJsons)
            .map { case ((d, m, _), json) => d -> m.copy(part = Some(json)) }
          (staged.map(_._1), staged.toMap, slices.map(_._3).sum)
        }
      } finally { batch.unpersist(); () }
    }
  }

  // -- predicate -> prunable conjuncts --------------------------------

  private[sources] sealed trait POp
  private[sources] case object PEq extends POp
  private[sources] case object PLt extends POp
  private[sources] case object PLe extends POp
  private[sources] case object PGt extends POp
  private[sources] case object PGe extends POp
  // NULL tests: min/max ranges describe NON-NULL values only, so
  // stats can never prove them either way — but a partition dir's
  // recorded value is exact (Some(v) = every row non-NULL, None =
  // every row NULL), so the partition pruner answers both precisely
  private[sources] case object PNull extends POp
  private[sources] case object PNotNull extends POp
  // negated membership (`NOT (k = 5)` / `k NOT IN (…)`), produced only
  // by the tree pruner's De-Morgan pass: provable exclusion needs the
  // dir's WHOLE domain inside the refused set — an exact partition
  // tuple, or a degenerate lo == hi range
  private[sources] case object PNe extends POp
  /** One prunable conjunct. `xform`, when set, is a MONOTONE
    * NULL-preserving map of the column's stored domain (built by
    * [[LakeReads.enrichTree]] for whitelist expressions like
    * `year(ts)`): evidence ranges/values map through it before the
    * comparison fires, so `WHERE year(o_orderdate) = 1996` prunes on
    * `o_orderdate`'s own stats. Exclusion-side only — the whole-dir
    * inclusion proofs and blooms conservatively ignore transformed
    * leaves. */
  private[sources] final case class Pred(col: String, op: POp,
      values: Seq[NormVal],
      xform: Option[NormVal => Option[NormVal]] = None)

  /** Boolean STRUCTURE over prunable conjuncts — what lets OR-disjunct
    * predicates skip data (Delta prunes `region = 'EU' OR region =
    * 'US'` by evaluating both sides and unioning the kept sets; the
    * flat conjunct list cannot express that). [[PUnknown]] marks a
    * subexpression the pruner does not understand: it can never prove
    * exclusion, so an OR with an unprunable side keeps every dir —
    * pruning quietly weakens, never strengthens. */
  private[sources] sealed trait PredTree
  private[sources] final case class PLeaf(p: Pred) extends PredTree
  private[sources] final case class PAnd(children: Seq[PredTree]) extends PredTree
  private[sources] final case class POr(children: Seq[PredTree]) extends PredTree
  private[sources] case object PUnknown extends PredTree
  /** Un-enriched marker for a comparison on a MONOTONE-whitelist
    * expression of one column (`year(ts) = 1996`):
    * [[LakeReads.enrichTree]] converts it into an evaluator-carrying
    * [[Pred]] leaf when the source type and session zone admit sound
    * range mapping, else [[PUnknown]]. Consumers that see the raw
    * marker treat it as unknown (never excludes). */
  private[sources] final case class PXform(col: String, fn: String,
      arg: Option[String], op: POp, values: Seq[NormVal]) extends PredTree

  /** Can `t` provably select NOTHING given per-leaf exclusion evidence
    * `leafExcludes`? AND excludes when ANY conjunct does; OR only when
    * EVERY disjunct does (a dir is dropped only if BOTH sides of the
    * OR exclude it); the unknown part of a predicate never excludes. */
  private[sources] def treeExcludes(t: PredTree,
      leafExcludes: Pred => Boolean): Boolean = t match {
    case PLeaf(p)  => leafExcludes(p)
    case PAnd(cs)  => cs.exists(treeExcludes(_, leafExcludes))
    case POr(cs)   => cs.nonEmpty && cs.forall(treeExcludes(_, leafExcludes))
    case PUnknown  => false
    case _: PXform => false // un-enriched marker: no evaluator, no proof
  }

  /** Does `t` carry any prunable leaf at all? Gates the per-file
    * stats lookup — a tree of PUnknown prunes nothing. */
  private[sources] def treeHasLeaves(t: PredTree): Boolean = t match {
    case PLeaf(_) => true
    case PAnd(cs) => cs.exists(treeHasLeaves)
    case POr(cs)  => cs.exists(treeHasLeaves)
    case PUnknown => false
    case _: PXform => false
  }

  /** Next safe version number: past EVERY committed marker, including
    * defensively-ignored ones whose data dirs are lost — such a
    * manifest still owns its number, and renaming a new manifest onto
    * an existing file fails on HDFS on every retry (a permanently
    * wedged writer). Same allocation rule as [[commitOverwrite]] /
    * [[commitAppend]]; package-private for the streaming fold. */
  private[graft] def nextVersion(spark: SparkSession, root: String): Long =
    committedVersions(fsFor(spark, root), new Path(root))
      .maxOption.map(_ + 1).getOrElse(0L)

  /** Re-create the `_applied_*` effectively-once markers found in
    * `fromDirs` inside `toDir` — maintenance ops (merge/compaction)
    * that REPLACE version dirs must carry the streaming folds'
    * replay-skip state forward, or a compacted stat table would
    * silently re-open to double-folds on the next checkpoint replay.
    * Markers are empty files; names are the state. */
  private[sources] def preserveMarkers(fs: org.apache.hadoop.fs.FileSystem, r: Path,
      fromDirs: Seq[String], toDir: String): Unit =
    preserveMarkers(fs, r, fromDirs, Seq(toDir))

  /** Multi-dir form (partitioned rewrites stage several dirs): a
    * marker is a PRESENCE check over the live snapshot's dirs, so the
    * first replacement dir carrying them preserves the invariant. */
  private[sources] def preserveMarkers(fs: org.apache.hadoop.fs.FileSystem, r: Path,
      fromDirs: Seq[String], toDirs: Seq[String]): Unit =
    toDirs.headOption.foreach { t =>
      fromDirs.map(d => new Path(r, d)).filter(fs.exists)
        .flatMap(d => fs.listStatus(d).toSeq)
        .map(_.getPath.getName).distinct
        .filter(_.startsWith("_applied_"))
        .foreach(n => fs.create(new Path(new Path(r, t), n)).close())
    }

  /** LOSSLESS type widening for schema evolution (Delta's
    * type-widening feature): `Some(wider)` when one side widens the
    * other with zero information loss AND the parquet reader upcasts
    * the narrower files under the wider schema (byte→short→int→long,
    * float→double, ≤int-integral→double — all probed on Spark 4.1's
    * vectorized reader). long→double and anything decimal/temporal is
    * NOT widening (lossy / representation-changing) and refuses. */
  private[sources] def widenedType(
      a: org.apache.spark.sql.types.DataType,
      b: org.apache.spark.sql.types.DataType):
      Option[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    def rank(dt: DataType): Option[Int] = dt match {
      case ByteType => Some(0); case ShortType => Some(1)
      case IntegerType => Some(2); case LongType => Some(3)
      case _ => None
    }
    def smallIntegral(dt: DataType): Boolean =
      dt == ByteType || dt == ShortType || dt == IntegerType
    if (a == b) Some(a)
    else (rank(a), rank(b)) match {
      case (Some(ra), Some(rb)) => Some(if (ra >= rb) a else b)
      case _ =>
        (a, b) match {
          case (FloatType, DoubleType) | (DoubleType, FloatType) =>
            Some(DoubleType)
          case (x, DoubleType) if smallIntegral(x) => Some(DoubleType)
          case (DoubleType, x) if smallIntegral(x) => Some(DoubleType)
          // NESTED evolution (Delta's autoMerge shape): structs merge
          // field-by-field under the SAME rules — add-nullable fields
          // and lossless widening inside the container; any
          // unmergeable nested field refuses through the None, and
          // the outer error names the top-level column. Old files
          // lacking a nested field read it NULL (parquet schema
          // clipping), exactly like a top-level add.
          case (sa: StructType, sb: StructType) =>
            scala.util.Try(mergeSchemas(sa, sb)).toOption
          case (ArrayType(ea, na), ArrayType(eb, nb)) =>
            widenedType(ea, eb).map(e => ArrayType(e, na || nb))
          case _ => None
        }
    }
  }

  /** Merge a committed table schema with an incoming batch's: the
    * ADD-NULLABLE-COLUMN evolution every lakehouse needs in week one,
    * plus LOSSLESS TYPE WIDENING ([[widenedType]] — the merged column
    * takes the wider type in EITHER direction: a long batch widens an
    * int column, and an int batch lands unchanged in a long column;
    * old files read upcast under the widened schema, new files are
    * whatever the batch wrote — both exact). New columns append
    * (nullable — old files lack them and read NULL); a column the
    * batch omits stays (nullable — the new files read NULL for it);
    * any NON-widening type change is refused loudly — silent coercion
    * corrupts every prior snapshot's reading of the shared files. */
  private[graft] def mergeSchemas(
      base: org.apache.spark.sql.types.StructType,
      incoming: org.apache.spark.sql.types.StructType):
      org.apache.spark.sql.types.StructType = {
    val baseNames = base.fieldNames.toSet
    val kept = base.fields.map { f =>
      incoming.fields.find(_.name == f.name) match {
        case Some(g) =>
          val merged = widenedType(f.dataType, g.dataType).getOrElse(
            throw new IllegalArgumentException(
              s"schema evolution supports adding nullable columns and " +
                s"lossless type widening only; '${f.name}' changes type " +
                s"${f.dataType.simpleString} -> ${g.dataType.simpleString}. " +
                "Rewrite the table (commitOverwrite) to change a " +
                "column's type."))
          f.copy(dataType = merged, nullable = f.nullable || g.nullable)
        case None => f.copy(nullable = true)
      }
    }
    val added = incoming.fields.filterNot(f => baseNames(f.name))
      .map(_.copy(nullable = true))
    org.apache.spark.sql.types.StructType(kept ++ added)
  }

  /** Commit `dirs` as snapshot `version` of `root`. Package-private:
    * the streaming fold pre-writes its own version dir (so its
    * applied-batch marker rides INSIDE the dir and commits atomically
    * with the data) and then calls this. */
  private[graft] def commitVersion(spark: SparkSession, root: String,
      version: Long, dirs: Seq[String], retain: Int,
      schema: Option[org.apache.spark.sql.types.StructType] = None): Unit = {
    // fold sinks pre-write PLAIN version dirs (the applied-batch
    // marker rides inside the dir) — on a bucketed table those files
    // would violate the bucket-naming contract every bucketed scan
    // depends on, so refuse up front instead of corrupting reads
    val ffs = fsFor(spark, root)
    committedVersions(ffs, new Path(root)).lastOption.foreach { last =>
      val m = tableMeta(ffs, new Path(root), last)
      require(m.bucketBy.isEmpty,
        s"the table at $root declares a bucket layout — fold commits " +
          "pre-write plain version dirs and cannot preserve it; fold " +
          "into an unbucketed table (or use the append/CDC-merge sinks, " +
          "which stage through the bucketed writer)")
      require(m.colMap.isEmpty,
        s"the table at $root carries a column mapping (renamed/dropped " +
          "columns) — fold commits pre-write data dirs under the " +
          "stream's own column names and cannot apply the map; fold " +
          "into an unmapped table")
      require(m.rowId.isEmpty,
        s"the table at $root carries row tracking — fold commits " +
          "pre-write data dirs outside the allocator choke point and " +
          "would commit rows with no ids (breaking keyless-feed " +
          "pairing); fold into an untracked table")
    }
    if (!commitManifest(ffs, new Path(root), version, dirs,
        retain, schema, op = "fold"))
      throw new java.util.ConcurrentModificationException(
        s"fold commit of version $version at $root lost the slot to a " +
          "concurrent writer — fold tables have ONE streaming writer " +
          "(checkpoint lineage); a contested version means two writers " +
          "share this root")
  }

  /** TEST SEAM: runs between a manifest's build and its put-if-absent
    * publish — exactly the window a concurrent writer's commit can
    * occupy. Production value is a no-op; LakeSpec installs a
    * SELF-RESETTING closure (it must reset itself first, or the
    * concurrent commit it performs recurses forever) to exercise the
    * optimistic-concurrency loser paths deterministically. */
  private[graft] var beforePublish: () => Unit = () => ()

  /** TEST SEAM: runs right after a DML writer (delete/update/merge)
    * pins its commit slot and BEFORE any of its classify/probe/
    * staging jobs — the window where a concurrent commit must steal
    * the pinned slot and force a loud publish failure instead of
    * being silently clobbered by a stale-snapshot republish (the DV
    * fast paths' lost-update window before round 14). */
  private[graft] var afterSlotPin: () => Unit = () => ()

  /** TEST SEAM: runs after [[commitAppend]] stages its batch and
    * BEFORE it reads the base version its rebase window starts at —
    * the one window where a concurrent enableRowTracking / identity-
    * declaring overwrite is invisible to the removed-dirs check (it
    * lands at or below `base`), so the allocator-presence rebase
    * check below is the only guard against committing untracked rows
    * onto a tracked table. */
  private[graft] var afterAppendStage: () => Unit = () => ()

  /** Build and publish the version-`version` manifest put-if-absent.
    * Returns true when this writer won the version slot (retention
    * then pruned), false when a concurrent writer committed `version`
    * first — the caller decides whether to rebase-and-retry (append),
    * refuse (overwrite/maintenance), or treat it as a protocol
    * violation (single-writer folds).
    *
    * Table-level state starts from the previous snapshot's
    * [[TableMeta]] and passes through `meta`: the commit's own changes
    * (a layout declaration, a constraint, an advanced allocator mark,
    * a restore's target state); whatever it leaves alone inherits.
    * `schema`, `rows` and `op` are per-commit and never inherit — a
    * `None` writes no line.
    *
    * Per-dir state works the same way, dir by dir: `dirMeta` holds a
    * WHOLE [[DirMeta]] entry for each dir this commit wrote or changed
    * (fresh dirs' stats, a deletion-vector commit's `prev.copy(dv =
    * …)`, a restore's target state); a dir without an entry carries its
    * previous snapshot's lines verbatim (immutable dir, immutable
    * ranges). */
  private[sources] def commitManifest(fs: org.apache.hadoop.fs.FileSystem, r: Path,
      version: Long, dirs: Seq[String], retain: Int,
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      rows: Option[Long] = None,
      dirMeta: Map[String, DirMeta] = Map.empty,
      meta: TableMeta => TableMeta = identity,
      colMap2Carry: Map[String, String] = Map.empty,
      colMap2Establish: Boolean = false,
      colMap2Replace: Boolean = false,
      op: String = "commit"): Boolean = {
    // per-dir carry: a dir REUSED from the previous snapshot keeps its
    // lines verbatim; only dirs this commit passes an entry for get
    // fresh ones. Resolved BEFORE the rename makes this version the
    // latest.
    val prevV = committedVersions(fs, r).lastOption
    val prevMeta = prevV.map(Lake.dirMeta(fs, r, _))
      .getOrElse(Map.empty[String, DirMeta])
    val prevTable = prevV.map(tableMeta(fs, r, _)).getOrElse(TableMeta.empty)
    val upd = meta(prevTable)
    // the id-mode field tree (#colmap2) RECONCILES at this one choke
    // point: fields of the committed schema keep their ids (matched by
    // container + logical name, or through the rename carry), new
    // fields mint, vanished fields tombstone — so every schema-shaping
    // path (append evolution, overwrite, merge, DDL) maintains the
    // tree without knowing it exists. `colMap2Establish` starts a tree
    // on a table without one. RESTORE/clone pass the target version's
    // tree AUTHORITATIVELY (`colMap2Replace`).
    val effV2: Option[ColMapV2] =
      if (colMap2Replace) upd.colMap2
      else if (upd.colMap2.isEmpty && !colMap2Establish) None
      else schema match {
        case Some(s) =>
          Some(reconcileColMap2(upd.colMap2, s, upd.colMap, colMap2Carry))
        case None => upd.colMap2
      }
    val m = upd.copy(schema = schema, rows = rows, op = Some(op),
      colMap2 = effV2, idMode = upd.idMode.filter(_ => upd.identity.nonEmpty))
    // retention is TABLE state (graft.retain) unless this call passed
    // an explicit override — resolved against the committed props, so
    // a commit that SETS the property is already governed by it
    val retainEff =
      if (retain >= 0) retain
      else m.props.get(PropRetain).flatMap(_.toIntOption)
        .filter(_ >= 0).getOrElse(1)
    // the effective per-dir metadata of one dir, and its lines in the
    // body/segment grammar ([[DirMeta.render]]'s canonical order — the
    // tiered carry logic relies on writers always emitting it)
    def effective(d: String): DirMeta =
      dirMeta.getOrElse(d, prevMeta.getOrElse(d, DirMeta.empty))
    def linesFor(d: String): Seq[String] = DirMeta.render(d, effective(d))
    // plain java.util.HashSet, not dirs.toSet: at 10^6 dirs the scala
    // immutable builder + boxed-equality lookups were the commit's
    // single hottest component (round-20 stack sampling: HashSetBuilder
    // .update + BitmapIndexedSetNode.contains ≈ 60% of a 5.7 s commit)
    val dirSet: String => Boolean = {
      val s = new java.util.HashSet[String](math.max(16, dirs.size * 2))
      dirs.foreach(s.add); s.contains(_)
    }
    // a carried vector is found by scanning the previous snapshot's
    // entries (a lookup per dir costs ~1 s at 10^6 dirs), and only when
    // it can hold one: a feature-stamped manifest names `dv` exactly
    // when it does, an unstamped (feature-free or pre-gate) one may
    val prevMayHaveDv =
      prevTable.requires.isEmpty || prevTable.requires.contains("dv")
    val hasDv =
      dirMeta.exists { case (d, m) => m.dv.isDefined && dirSet(d) } ||
      (prevMayHaveDv && prevMeta.exists { case (d, m) =>
        m.dv.isDefined && dirSet(d) && !dirMeta.contains(d) })
    // protocol gate: name EXACTLY the semantics-bearing features this
    // snapshot carries (derived from the effective lines, so a commit
    // that materializes a feature away — REORG purging the last DV,
    // say — drops the requirement with it). Readers that don't
    // recognize a named feature refuse the manifest instead of
    // misreading it; why each one bears semantics is on its
    // [[TableMeta]] field.
    val features =
      (if (hasDv) Seq("dv") else Nil) ++
      (if (m.colMap.nonEmpty || m.retired.nonEmpty) Seq("colmap") else Nil) ++
      (if (m.colMap2.nonEmpty) Seq("colmap2") else Nil) ++
      (if (m.identity.nonEmpty) Seq("identity") else Nil) ++
      (if (m.idMode.nonEmpty) Seq("idmode") else Nil) ++
      (if (m.genParts.nonEmpty) Seq("genpart") else Nil) ++
      (if (m.genCols.nonEmpty) Seq("gencol") else Nil) ++
      (if (m.bucketBy.nonEmpty) Seq("bucket") else Nil) ++
      (if (m.ingested.nonEmpty) Seq("ingest") else Nil) ++
      // column DEFAULTs ride as field metadata inside #schema: a
      // pre-default build would read files predating the column as
      // NULL and append omitted columns as NULL — wrong rows, not
      // degraded performance
      (if (schema.exists(_.fields.exists(f =>
          f.metadata.contains(DefaultExistsKey) ||
          f.metadata.contains(DefaultCurrentKey)))) Seq("default")
       else Nil) ++
      (if (m.rowId.nonEmpty) Seq("rowtracking") else Nil)
    // ---- tiered layout (the protocol note in Lake.scala) -------------
    //
    // Decide whether this snapshot's per-dir metadata rides inline
    // (small tables: today's body, byte-compatible) or in immutable
    // `_seg_` side files so the commit writes O(batch) bytes at any
    // table size. All decisions run on SET logic over cached lines —
    // no per-dir string building except for dirs this commit actually
    // touched.
    val segThreshold = m.props.get(PropSegThreshold).flatMap(_.toIntOption)
      .filter(_ > 0).getOrElse(2048)
    val segMax = m.props.get(PropSegMax).flatMap(_.toIntOption)
      .filter(_ > 1).getOrElse(64)
    val segWaste = m.props.get(PropSegWaste).flatMap(_.toDoubleOption)
      .filter(w => w > 0 && w <= 1).getOrElse(0.3)
    // dirs whose effective lines may differ from what a previous
    // segment recorded: touched by this commit, overridden inline by a
    // previous commit (kept overridden until the segment rewrites), or
    // brought back (restore) after a previous commit dropped them from
    // their segment while it recorded a deletion vector for them
    val prevRawBody = prevV.map(v => manifestBodyRaw(fs, r, v)).getOrElse(Nil)
    val prevOverKeys = prevRawBody.iterator.flatMap(DirMeta.perDirKey).toSet
    val prevDrops = prevRawBody.iterator.filter(_.startsWith(SegDropPrefix))
      .map(_.stripPrefix(SegDropPrefix)).toSet
    // segment summaries carried from the previous marker, by seg name
    val prevSegSums = segSumsOfRaw(prevRawBody)
    val prevSegNames =
      prevV.map(v => manifestSegRefs(fs, r, v).map(_._1)).getOrElse(Nil)
    final case class CarriedSeg(name: String, liveDirs: Seq[String],
        drops: Seq[String], overrides: Seq[String],
        sumLine: Option[String])
    var carriedSegs = Vector.empty[CarriedSeg]
    prevSegNames.foreach { name =>
      val sl = segmentLines(fs, r, name)
      val segDirs = sl.filterNot(_.startsWith("#"))
      val (live, dead) = segDirs.partition(dirSet) // one membership pass
      // the segment's vector for a revived dir is history, not state
      val revived = if (prevDrops.isEmpty) Nil else live.filter(prevDrops)
      val staleDv: Set[String] =
        if (revived.isEmpty) Set.empty
        else DirMeta.parse(sl, revived.toSet).collect {
          case (d, m) if m.dv.isDefined => d }.toSet
      val over = live.filter(d =>
        dirMeta.contains(d) || prevOverKeys(d) || staleDv(d))
      // a dir whose effective line set became EMPTY cannot be
      // expressed as an override (zero inline lines would leave the
      // segment's lines live) — fold the segment instead
      val unexpressible = over.exists(d => linesFor(d).isEmpty)
      if (live.isEmpty || unexpressible ||
          dead.size + over.size > segWaste * segDirs.size) {
        // fold: the survivors fall to the residual pool below and the
        // accumulated drift (dead dirs, override lines) vanishes with
        // the segment — the LSM-style cleanup that bounds inline waste
      } else {
        // the summary rides only while every override leaves the
        // VALUE evidence (stats range + partition tuple) exactly as
        // the segment recorded it — DV/bloom/fstats drift cannot move
        // ranges, but a changed stats or tuple line would let the
        // frozen summary under-cover and wrongly skip the segment.
        // Dropped dirs only SHRINK the folded domain (still covered).
        val sumLine = prevSegSums.get(name)
          .filter { _ =>
            over.isEmpty || {
              val rec = DirMeta.parse(sl, over.toSet)
              over.forall { d =>
                val e = effective(d)
                val was = rec.getOrElse(d, DirMeta.empty)
                e.stats == was.stats && e.part == was.part
              }
            }
          }
          .map(j => SegSumPrefix + name + "=" + j)
        carriedSegs :+= CarriedSeg(name, live, dead,
          over.flatMap(linesFor), sumLine)
      }
    }
    // merge policy — a binary counter over segment sizes: the commit's
    // residual pool absorbs every carried segment NO LARGER than the
    // pool, repeatedly (ascending), so a dir only ever rewrites into a
    // segment at least twice its old one's size — O(log n) rewrites
    // per dir over the table's life and O(log n) live segments. A
    // fold-smallest-at-cap policy would instead rewrite ~n/cap dirs
    // per commit at steady state, which is NOT O(batch).
    // `graft.seg.max` stays as a hard backstop on the ref-list length.
    locally {
      val sorted = carriedSegs.sortBy(_.liveDirs.size)
      var pool = dirs.size - sorted.iterator.map(_.liveDirs.size).sum
      if (pool > 0) {
        val keep = Vector.newBuilder[CarriedSeg]
        var absorbing = true
        sorted.foreach { c =>
          if (absorbing && c.liveDirs.size <= pool) pool += c.liveDirs.size
          else { absorbing = false; keep += c } // later ones are larger
        }
        carriedSegs = keep.result()
      }
    }
    // the cap is a BACKSTOP, not the steady state: the binary-counter
    // absorption above already bounds live refs at O(log n), so this
    // loop firing means pathological segment sizing (probe-asserted
    // never through 10^6-dir growth — ManifestGrowthProbe reads the
    // counter); when it does fire it degrades to fold-at-cap for the
    // evicted segment only, preserving the amortized bound
    while (carriedSegs.size + 1 > segMax) {
      val smallest = carriedSegs.minBy(_.liveDirs.size)
      carriedSegs = carriedSegs.filterNot(_ eq smallest)
      segBackstopFires.incrementAndGet(); ()
    }
    val carriedDirSet: String => Boolean = {
      val s = new java.util.HashSet[String]()
      carriedSegs.foreach(_.liveDirs.foreach(s.add))
      s.contains(_)
    }
    val residual = dirs.filterNot(carriedDirSet)
    // the inline-line count only decides tiering when NO segment
    // carries (an already-tiered table short-circuits) — at 10^6 dirs
    // the per-dir metadata probes are millions of lookups of dead weight
    val tiered = carriedSegs.nonEmpty || {
      val inlineCount = dirs.size + dirs.iterator.map(effective(_).kinds).sum
      inlineCount > segThreshold
    }
    val featuresAll =
      features ++ (if (tiered) Seq("seg") else Nil)
    // the new segment is written BEFORE the marker references it; a
    // lost publish deletes it (an unpublished segment is unreferenced)
    val newSegName: Option[String] =
      if (tiered && residual.nonEmpty) {
        val name = "_seg_" +
          java.util.UUID.randomUUID().toString.replace("-", "").take(12)
        val so = fs.create(new Path(r, name), true)
        val content = residual ++ residual.flatMap(linesFor)
        try so.write(content.mkString("\n").getBytes("UTF-8"))
        finally so.close()
        Some(name)
      } else None
    // the fresh segment's summary, folded over its dirs' effective
    // evidence — O(residual) once at write, amortized O(batch · log n)
    // by the binary-counter policy like the segment bytes themselves
    val newSegSum: Option[String] = newSegName.flatMap { name =>
      val fold = foldSegSummary(residual.map { d =>
        val e = effective(d); (e.stats, e.part) })
      if (fold.isEmpty) None
      else Some(SegSumPrefix + name + "=" + statsJson(fold))
    }
    // writer-UNIQUE tmp: a shared `_commit_N.tmp` would let two
    // racing writers interleave create/write/publish on one file and
    // publish each other's bodies — the nonce makes every writer's
    // pre-publish state private (the `.tmp` suffix keeps it out of
    // committedVersions and readable-version listings)
    val tmp = new Path(r, s"_commit_$version." +
      java.util.UUID.randomUUID().toString.take(8) + ".tmp")
    val out = fs.create(tmp, true)
    val body = (if (tiered) Nil else dirs) ++
      TableMeta.render(m.copy(ts = Some(System.currentTimeMillis()),
        requires = featuresAll)) ++
      (if (!tiered) dirs.flatMap(linesFor)
       else carriedSegs.map(c => SegPrefix + c.name + ":" + c.liveDirs.size) ++
         newSegName.map(n => SegPrefix + n + ":" + residual.size).toSeq ++
         carriedSegs.flatMap(_.sumLine) ++ newSegSum.toSeq ++
         carriedSegs.flatMap(_.drops).map(SegDropPrefix + _) ++
         carriedSegs.flatMap(_.overrides))
    try out.write(body.mkString("\n").getBytes("UTF-8")) finally out.close()
    // test seam: the window between manifest build and publish is
    // where a concurrent writer's commit lands — specs swap in a
    // self-resetting closure that commits here to force slot loss
    // DETERMINISTICALLY (thread-race tests would flake green)
    beforePublish()
    // THE commit point: atomic put-if-absent of the marker
    if (!publishIfAbsent(fs, tmp, new Path(r, s"_commit_$version"))) {
      // the loser's freshly-written segment is unreferenced — remove it
      // (carried segments belong to the previous snapshot and stay)
      newSegName.foreach(n => fs.delete(new Path(r, n), false))
      return false
    }
    // ---- incremental carry: seed the derived-view memo ---------------
    //
    // Everything a COLD reader would re-derive from the new manifest's
    // expanded body (dir list + per-dir map) is known right here as
    // (previous snapshot's cached views) ± (this commit's own entries).
    // Seeding the memo with persistent-map diffs makes the
    // writer's NEXT commit — whose first act is reading these exact
    // views for the carry — O(removed + batch) map ops instead of the
    // O(dirs) string expansion + JSON-key parse the cold path pays
    // (~7-9 s per commit at 10^6 dirs, ManifestGrowthProbe round-18).
    // Equality with a cold parse is the invariant (spec-pinned): the
    // expanded body's per-dir lines ARE `linesFor(d)` for d ∈ dirs, so
    // the seeded map holds `effective(d)` wherever it renders a line.
    locally {
      val prevDirs = prevV.map(v => manifestDirs(fs, r, v)).getOrElse(Nil)
      val removed = prevDirs.filterNot(dirSet)
      val dirsOrdered =
        if (tiered) carriedSegs.flatMap(_.liveDirs) ++ residual else dirs
      seedDerived(fs, r, version, "dirs",
        if (dirsOrdered.isEmpty) Seq(s"v$version") else dirsOrdered)
      val (cleared, written) =
        dirMeta.filter { case (d, _) => dirSet(d) }.partition(_._2.isEmpty)
      seedDerived(fs, r, version, "dirMeta",
        (prevMeta -- removed -- cleared.keys) ++ written)
    }
    pruneRetention(fs, r, retainEff)
    true
  }

  /** The live version of `root` and its table-level state; a root
    * without a commit refuses. */
  private[sources] def liveSnapshot(spark: SparkSession,
      root: String): (Long, TableMeta) = {
    val cur = currentVersion(spark, root).getOrElse(
      throw new java.util.NoSuchElementException(s"no committed table at $root"))
    (cur, tableMeta(fsFor(spark, root), new Path(root), cur))
  }

  /** What a metadata-only (DDL) commit changes on top of its base
    * snapshot: the committed schema, the table-level update, the
    * `#op=` text, and the id-tree reconcile flags of
    * [[commitManifest]]. */
  private[sources] final case class DdlPlan(
      schema: Option[org.apache.spark.sql.types.StructType], op: String,
      meta: TableMeta => TableMeta = identity,
      colMap2Carry: Map[String, String] = Map.empty,
      colMap2Establish: Boolean = false)

  /** The one commit path of every metadata-only op (constraints,
    * properties, column DDL): resolve the live version `cur`, let
    * `plan` validate against its [[TableMeta]] (`None` is a no-op that
    * returns `cur`), pin slot `cur + 1`, and republish `cur`'s dirs and
    * row count under the plan. Delta's metadata commit: the op derives
    * from ONE read snapshot, and a concurrent commit taking the slot
    * refuses it loudly (`what` names the op). */
  private[sources] def commitDdl(spark: SparkSession, root: String,
      retain: Int, what: String)(
      plan: (Long, TableMeta) => Option[DdlPlan]): Long = {
    val (cur, meta) = liveSnapshot(spark, root)
    plan(cur, meta) match {
      case None => cur
      case Some(p) =>
        val fs = fsFor(spark, root)
        val r = new Path(root)
        val next = pinSlot(fs, r, cur)
        if (!commitManifest(fs, r, next, manifestDirs(fs, r, cur), retain,
            p.schema, meta.rows, meta = p.meta, colMap2Carry = p.colMap2Carry,
            colMap2Establish = p.colMap2Establish, op = p.op))
          throw new java.util.ConcurrentModificationException(
            s"$what on $root lost version $next to a concurrent commit — " +
              "retry against the current table")
        next
    }
  }

  /** The table-level state a layout-only rewrite's staged files
    * FREEZE under: column map and id tree, retired names, stat / bloom
    * / partition column lists, bucket layout, generated columns — and
    * allocator PRESENCE (a rewrite staged on an untracked /
    * identity-free base carries no id columns; retrying onto a
    * snapshot that enabled either would commit id-less rows). */
  private def frozenLayout(m: TableMeta) =
    (m.colMap, m.colMap2, m.retired, m.statsCols, m.bloomCols, m.partCols,
      m.bucketBy, m.genParts, m.genCols, m.rowId.isDefined, m.identity.isDefined)

  /** Publish a layout-only maintenance rewrite (compaction, z-order,
    * REORG purge) staged against snapshot `baseV` into slot `slot`,
    * and return the committed version. The snapshot is `kept` + the
    * rewrite's `newDirs` under `schema` / `rows`, with `stagedMeta` for
    * the fresh dirs and `meta` for the table-level update.
    *
    * A lost slot REBASES (Delta's disjoint-file conflict rule) and
    * retries on top of the interleaved commits — instead of discarding
    * a rewrite that may have moved terabytes — PROVIDED the race never
    * touched what the rewrite read or froze:
    *
    *  - every SOURCE dir (`srcDirs`) is still live (an interloper that
    *    removed or rewrote one superseded rows our output would
    *    resurrect);
    *  - the source dirs' deletion vectors are unchanged (the rewrite
    *    materialized the vector it READ);
    *  - the table-level metadata the staged files froze under is
    *    unchanged ([[frozenLayout]]).
    *
    * Anything else — plain appends above all, but also disjoint
    * maintenance — composes: the retry publishes (current live dirs −
    * source dirs) + the rewrite's output, under the CURRENT schema
    * and row count (an interloping append may have evolved/extended
    * both; the rewrite is row-preserving so they stay exact). A
    * refusal, or 100 consecutive losses, deletes the staged dirs. */
  private[sources] def maintenanceRebase(fs: org.apache.hadoop.fs.FileSystem,
      r: Path, root: String, baseV: Long, slot: Long, srcDirs: Set[String],
      kept: Seq[String], newDirs: Seq[String], retain: Int,
      schema: Option[org.apache.spark.sql.types.StructType],
      rows: Option[Long], stagedMeta: Map[String, DirMeta],
      meta: TableMeta => TableMeta, op: String, what: String): Long = {
    def cme(msg: String) =
      new java.util.ConcurrentModificationException(s"$what of $root $msg")
    def refuse(t: Throwable): Nothing = {
      newDirs.foreach(d => fs.delete(new Path(r, d), true)); throw t
    }
    def srcDvs(v: Long) = DirMeta.dvs(dirMeta(fs, r, v), srcDirs)
    var nextV = slot
    var pubDirs = kept
    var pubSchema = schema
    var pubRows = rows
    var attempt = 0
    while (!commitManifest(fs, r, nextV, pubDirs ++ newDirs, retain,
        pubSchema, pubRows, stagedMeta, meta = meta, op = op)) {
      attempt += 1
      try {
        val curV = committedVersions(fs, r).maxOption.getOrElse(
          throw cme("raced the table's last manifest away mid-commit"))
        val live = manifestDirs(fs, r, curV)
        val missing = srcDirs -- live.toSet
        if (missing.nonEmpty) throw cme(
          "raced a commit that removed or rewrote its source dirs " +
            missing.toSeq.sorted.mkString("[", ", ", "]") +
            " — retrying would resurrect superseded rows; re-run against " +
            "the current table")
        if (srcDvs(curV) != srcDvs(baseV)) throw cme(
          "raced a deletion-vector commit on its source dirs — the " +
            "rewrite materialized a vector that is no longer current; " +
            "re-run against the current table")
        val curMeta = tableMeta(fs, r, curV)
        if (frozenLayout(curMeta) != frozenLayout(tableMeta(fs, r, baseV)))
          throw cme(
            "raced a metadata commit (mapping/layout DDL) — the staged " +
              "files froze under the previous metadata; re-run against the " +
              "current table")
        nextV = curV + 1
        pubDirs = live.filterNot(srcDirs)
        pubSchema = curMeta.schema.orElse(pubSchema)
        pubRows = curMeta.rows
      } catch {
        case _: java.io.FileNotFoundException => refuse(cme(
          "raced a retention prune past its base snapshot — the " +
            "interleaving cannot be proven safe; re-run against the " +
            "current table (or commit with a larger `retain`)"))
        case t: Throwable => refuse(t)
      }
      if (attempt >= 100) refuse(cme(
        s"lost $attempt consecutive commit races — pathological " +
          "contention; back off and retry"))
    }
    nextV
  }

  /** The retention prune every commit runs: keep the live snapshot
    * plus the newest `retain` superseded ones — markers first (a
    * crash mid-prune never leaves a committed manifest pointing at
    * deleted data — dirs go only after every manifest referencing
    * them), then sweep EVERY committed-range data dir no surviving
    * manifest references. Sweeping by reference, not by stale list,
    * also reclaims orphans from a PAST crash between a prune's
    * marker and dir deletions — they are referenced by no manifest
    * and could never be resurrected. A writer-in-progress dir is
    * never swept: a version-named (`v<N>`) one exceeds every
    * committed version, and a staged (`z<nonce>`) one is only ever
    * swept by reference from a manifest pruned in this very call —
    * an in-flight stage is referenced by nothing and untouchable
    * here (crash-abandoned stages age out via [[vacuumCommitted]]).
    * @return (pruned manifest versions, swept dir names) */
  private[sources] def pruneRetention(fs: org.apache.hadoop.fs.FileSystem, r: Path,
      retain: Int, dryRun: Boolean = false): (Seq[Long], Seq[String]) = {
    val all = committedVersions(fs, r)
    if (all.isEmpty) return (Nil, Nil)
    val (stale, kept) = all.splitAt(Math.max(0, all.length - 1 - retain))
    // staged (`z`) dirs carry no version in their name, so they are
    // sweepable only by REFERENCE: record what the to-be-pruned
    // manifests referenced BEFORE deleting them; tiered segments sweep
    // by reference exactly the same way
    // FNF-tolerant reads throughout: a CONCURRENT pruner can delete a
    // stale manifest (or a stale-only segment the expansion reads)
    // between our listing and these walks — the commit already
    // published, so the race must degrade to "nothing more to sweep
    // here", never surface as a failure of a successful commit
    def dirsOf(v: Long): Seq[String] =
      try manifestDirs(fs, r, v)
      catch { case _: java.io.FileNotFoundException => Nil }
    def segsOf(v: Long): Seq[String] =
      try manifestSegRefs(fs, r, v).map(_._1)
      catch { case _: java.io.FileNotFoundException => Nil }
    // java.util.HashSet, not .toSet: at 10^6 dirs the two reference
    // sets are rebuilt per commit and the scala immutable builder was
    // a measured hot spot (same finding as commitManifest's dirSet)
    def juSet(xs: Seq[String]): java.util.HashSet[String] = {
      val s = new java.util.HashSet[String](math.max(16, xs.size * 2))
      xs.foreach(s.add); s
    }
    val staleRefs = juSet(stale.flatMap(dirsOf))
    val staleSegs = stale.flatMap(segsOf).toSet
    if (!dryRun)
      stale.foreach(v => fs.delete(new Path(r, s"_commit_$v"), false))
    // the KEPT side must NOT degrade to empty on a read failure — an
    // empty reference set would sweep LIVE dirs; a failure here skips
    // the sweep entirely (conservative: nothing deleted this round)
    val (keptRefs, keptSegs) =
      try (juSet(kept.flatMap(v => manifestDirs(fs, r, v))),
        kept.flatMap(v => manifestSegRefs(fs, r, v).map(_._1)).toSet)
      catch { case _: java.io.FileNotFoundException =>
        return (stale, Nil)
      }
    val maxV = all.last
    val swept = Seq.newBuilder[String]
    rootChildren(fs, r).iterator
      .collect { case (n, isDir) if isDir => n }
      .foreach { n =>
        if (!keptRefs.contains(n)) {
          if (n.startsWith("v"))
            n.stripPrefix("v").toLongOption.foreach { v =>
              if (v <= maxV) {
                if (!dryRun) fs.delete(new Path(r, n), true)
                swept += n
              }
            }
          // a staged dir whose last reference was just pruned is dead
          // (it WAS committed once, so it is not in-flight). A staged
          // dir referenced by NO manifest may belong to an in-flight
          // writer — only vacuumCommitted's staleness horizon touches
          // those.
          else if (n.startsWith("z") && staleRefs.contains(n)) {
            if (!dryRun) fs.delete(new Path(r, n), true)
            swept += n
          }
        }
      }
    // segments referenced ONLY by pruned manifests are dead (a segment
    // referenced by no manifest at all may belong to an in-flight
    // commit — vacuumCommitted's staleness horizon owns those)
    (staleSegs -- keptSegs).toSeq.sorted.foreach { n =>
      if (!dryRun) fs.delete(new Path(r, n), false)
      swept += n
    }
    (stale, swept.result())
  }

  /** The BY DEFAULT identity probe: ONE aggregate over the batch's
    * identity column `c` → (rows the allocator fills, the largest
    * explicit key — `Long.MinValue` when there is none). A commit
    * advances the mark to `max(start + nNull, maxExplicit + 1)`, so
    * the allocator never reuses a key the batch wrote explicitly.
    * Explicit values whose BIGINT cast is NULL (bad strings,
    * overflowing values) would be silently allocator-filled PAST the
    * reserved block (the fill splits on the post-cast column) —
    * refused instead. */
  private def probeIdentityByDefault(df: org.apache.spark.sql.DataFrame,
      c: String): (Long, Long) = {
    import org.apache.spark.sql.functions.{col, expr, max, sum, when}
    // try_cast: the probe itself must not abort the job under ANSI — a
    // malformed value gets OUR refusal below, uniformly
    val tryLong = expr(s"try_cast(`${c.replace("`", "``")}` as bigint)")
    val agg = df.agg(
      sum(when(col(c).isNull, 1L).otherwise(0L)),
      max(tryLong),
      sum(when(col(c).isNotNull && tryLong.isNull, 1L).otherwise(0L)))
      .collect().head
    val nBad = if (agg.isNullAt(2)) 0L else agg.getLong(2)
    require(nBad == 0L,
      s"identity column '$c' carries $nBad explicit value(s) that " +
        "cast to BIGINT as NULL — an explicit identity key must be " +
        "a valid BIGINT (the allocator would otherwise fill it " +
        "beyond the block this commit reserved)")
    (if (agg.isNullAt(0)) 0L else agg.getLong(0),
      if (agg.isNullAt(1)) Long.MinValue else agg.getLong(1))
  }

  /** Replace the table at `root` with `df`, committing via one atomic
    * manifest publish — no reader-visible gap at any crash point (see
    * protocol above). Optimistically concurrent: the batch stages
    * under a writer-unique dir, so concurrent writers never touch
    * each other's data; losing the version slot to ANY concurrent
    * commit is a refusal (`ConcurrentModificationException`) — an
    * overwrite replaces a snapshot its caller derived against, so
    * the caller must re-derive and retry, Delta's rule. Returns the
    * committed version. */
  def commitOverwrite(df0: org.apache.spark.sql.DataFrame, root: String,
      retain: Int = -1, rowCount: Option[Long] = None,
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil,
      partitionBy: Seq[String] = Nil,
      bucketBy: Option[(Int, Seq[String])] = None,
      generatedColumns: Map[String, String] = Map.empty,
      identity: Option[String] = None,
      identityByDefault: Boolean = false,
      rowTracking: Boolean = false): Long = {
    require(retain >= -1,
      s"retain must be >= 0 (or -1 = inherit $PropRetain), got $retain")
    // internal probe/staging jobs plan at the batch estimate's width
    val spark = ShuffleWidth.narrowed(df0.sparkSession,
      ShuffleWidth.bytesWidth(Seq(df0)))
    val batch = Shim.rebind(spark, df0)
    val fs = fsFor(spark, root)
    val r = new Path(root)
    // ONE root listing for the pre-staging metadata-inheritance reads
    // (same discipline and rationale as commitAppend's preV; the slot
    // resolution past staging lists fresh).
    val preV: Seq[Long] = committedVersions(fs, r)
    val pre = preV.lastOption.map(tableMeta(fs, r, _)).getOrElse(TableMeta.empty)
    // IDENTITY: materialize FIRST (a generated/partition column may
    // derive from the key). An establishing batch may SEED the
    // sequence with its own unique values; afterwards the column is
    // GENERATED ALWAYS — batches omit it, the allocator owns it.
    val effIdCol = effectiveIdentityCol(r, pre, identity)
    val prevHwm = pre.identity.map(_._2)
    // identity MODE: declared with the column (GENERATED BY DEFAULT =
    // allocator fills only omitted/NULL values), inherited afterwards,
    // divergent re-declaration refused — one mode per table
    val prevIdMode = pre.idMode
    val wantIdMode = if (identityByDefault) Some("bydefault") else None
    require(identity.isDefined || !identityByDefault,
      "identityByDefault needs an identity declaration on this commit")
    if (identity.isDefined && prevHwm.isDefined)
      require(wantIdMode == prevIdMode,
        s"table at $r declares identity mode ${prevIdMode.getOrElse("always")}; " +
          "a commit cannot re-declare it — one mode per table")
    val effIdMode = if (identity.isDefined) wantIdMode else prevIdMode
    val idByDefault = effIdCol.isDefined && effIdMode.contains("bydefault")
    val effGen0 = effectiveGenParts(r, pre, generatedColumns)
    // SQL INSERT OVERWRITE pads unnamed columns with NULL: an
    // all-NULL identity/generated copy means omitted (see
    // dropAllNullSpecials) — only an ESTABLISHING seed carries real
    // identity values past this point
    val dfPre = dropAllNullSpecials(batch, effGen0,
      effIdCol.map(c => (c, prevHwm.getOrElse(1L))),
      establishing = preV.isEmpty)
    val (dfId, idNext): (org.apache.spark.sql.DataFrame, Option[Long]) =
      effIdCol match {
        case None => (dfPre, None)
        // BY DEFAULT: the allocator fills only NULL values; explicit
        // ones pass through verbatim and the mark advances past them
        // (uniqueness against explicit keys is NOT guaranteed —
        // Delta's documented BY DEFAULT rule)
        case Some(c) if idByDefault && dfPre.columns.contains(c) =>
          val start = prevHwm.getOrElse(1L)
          val (nNull, maxExp) = probeIdentityByDefault(dfPre, c)
          (fillIdentityNulls(dfPre, c, start, nNull),
            Some(math.max(start + nNull, maxExp + 1L)))
        case Some(c) if dfPre.columns.contains(c) =>
          require(prevHwm.isEmpty,
            s"identity column '$c' is GENERATED ALWAYS — the batch must " +
              "omit it (an explicit value could collide with the allocator); " +
              "only the ESTABLISHING commit may seed existing keys")
          import org.apache.spark.sql.functions.{count, countDistinct, lit, max => fmax}
          val a = dfPre.agg(count(lit(1)), count(org.apache.spark.sql.functions.col(c)),
            countDistinct(org.apache.spark.sql.functions.col(c)),
            fmax(org.apache.spark.sql.functions.col(c).cast("long"))).collect().head
          require(a.getLong(0) == a.getLong(1) && a.getLong(1) == a.getLong(2),
            s"seeding identity column '$c' requires unique non-NULL values " +
              s"(${a.getLong(0)} rows, ${a.getLong(1)} non-null, " +
              s"${a.getLong(2)} distinct)")
          (dfPre, Some(if (a.isNullAt(3)) 1L else a.getLong(3) + 1L))
        case Some(c) =>
          val start = prevHwm.getOrElse(1L)
          val n = dfPre.count()
          (materializeIdentity(dfPre, c, start), Some(start + n))
      }
    val effGen = effGen0
    // the evaluation zone is pinned at ESTABLISHMENT — later commits
    // inherit it (a different writer session must not re-date it)
    val genTzEst =
      if (generatedColumns.nonEmpty && pre.genAll.isEmpty)
        Some(spark.sessionState.conf.sessionLocalTimeZone)
      else None
    // row tracking: an overwrite's rows are all NEW — allocate a
    // fresh block past the inherited mark (ids never reuse across
    // history, so a time-traveling diff can't alias two generations)
    val prevRidMark = pre.rowId
    val ridEnabled = rowTracking || prevRidMark.isDefined
    if (ridEnabled) require(!dfId.columns.contains(RowIdCol),
      s"'$RowIdCol' is engine-owned under row tracking — the batch " +
        "must omit it")
    val (dfRid, ridNext): (org.apache.spark.sql.DataFrame, Option[Long]) =
      if (!ridEnabled) (dfId, None)
      else {
        val start = prevRidMark.getOrElse(0L)
        val n = dfId.count()
        (materializeIdentity(dfId, RowIdCol, start), Some(start + n))
      }
    val df = materializeGenerated(dfRid, effGen)
    // user column args name LOGICAL columns; the property lines (and
    // stageBatch's view of the batch) are physical. An overwrite keeps
    // the surviving columns' physical names (its fresh files must
    // agree with the inherited property lines) and drops map entries
    // whose logical column the new schema no longer carries.
    val liveMap = pre.colMap
    val effStats = effectiveStatsCols(pre, colsToPhysical(statsCols, liveMap))
    val effBloom = effectiveBloomCols(pre, colsToPhysical(bloomCols, liveMap))
    val effPart = effectivePartCols(pre, colsToPhysical(partitionBy, liveMap))
    val effBucket = effectiveBucketBy(r, pre,
      bucketBy.map { case (n, cs) => (n, colsToPhysical(cs, liveMap)) })
    // CHECK constraints gate every row-introducing commit: one
    // aggregate job over the batch, BEFORE anything stages
    validateChecks(pre, r, df, "overwrite", effGen)
    val allocV = preV.maxOption.map(_ + 1).getOrElse(0L)
    val newMap = allocPhysical(df.schema,
      liveMap.filter { case (l, _) => df.columns.contains(l) },
      pre.retired, allocV)
    // data first, completely, under dirs no other writer contests
    // (one per partition-value tuple when the table is partitioned)
    val (staged, stagedMeta, _) =
      stageBatch(spark, fs, r, df, pre, effStats, effBloom, effPart,
        bucketBy = effBucket, colMap = newMap)
    // allocate past EVERY committed marker, not just the live one: a
    // defensively-ignored manifest (data dirs lost) still owns its
    // number, and publishing onto it would conflict forever. An
    // overwrite REPLACES the table's rows, so (unlike the pinSlot
    // commits) taking the slot after the freshest marker loses no rows
    // to an interleaved commit it supersedes; the state the batch did
    // take from `pre` (CHECK constraints, row-id and identity marks) is
    // re-checked against that marker below.
    val lastV = committedVersions(fs, r).maxOption
    val next = lastV.map(_ + 1).getOrElse(0L)
    // The batch was validated against `pre`'s CHECK constraints and
    // took its row-id and identity blocks from `pre`'s marks. A commit
    // landing since can add a constraint the new snapshot would declare
    // over rows it never checked, or advance a mark, after which the
    // two commits share ids ("ids never reuse across history").
    val raced = lastV.map(tableMeta(fs, r, _)).collect {
      case m if m.checks.exists(!pre.checks.contains(_)) =>
        "added a CHECK constraint the batch was not validated against"
      case m if m.rowId != pre.rowId || m.identity != pre.identity =>
        "advanced the row-id or identity mark the batch allocated from"
    }
    raced.foreach { why =>
      staged.foreach(d => fs.delete(new Path(r, d), true))
      throw new java.util.ConcurrentModificationException(
        s"overwrite of $root raced a concurrent commit that $why — " +
          "re-derive against the current table and retry")
    }
    val (genParts, genCols) =
      effGen.partition { case (c, _) => effPart.contains(physName(newMap, c)) }
    if (!commitManifest(fs, r, next, staged, retain, Some(df.schema),
        rowCount, stagedMeta,
        meta = m => m.declaring(effStats, effBloom, effPart, effBucket).copy(
          colMap = newMap, genParts = genParts, genCols = genCols,
          genTz = genTzEst.orElse(m.genTz),
          identity = effIdCol.fold(m.identity)(c => Some((c, idNext.getOrElse(1L)))),
          idMode = if (identity.isDefined) effIdMode else m.idMode,
          rowId = ridNext.orElse(m.rowId)),
        op = "overwrite")) {
      staged.foreach(d => fs.delete(new Path(r, d), true))
      throw new java.util.ConcurrentModificationException(
        s"overwrite of $root lost version $next to a concurrent commit — " +
          "an overwrite replaces the snapshot its caller derived against; " +
          "re-derive against the current table and retry")
    }
    next
  }

  /** Append `df` to the table at `root` WITHOUT rewriting it: the new
    * snapshot = the previous snapshot's dirs + one new O(batch) dir.
    * This is the lake form of the K1 append sink — at 100 TB the
    * nightly load writes only its batch, and readers still swap
    * snapshots atomically. First commit on an empty root bootstraps
    * the table.
    *
    * Optimistically concurrent (Delta's blind-append rule): the batch
    * writes ONCE to a writer-unique staged dir; each commit attempt
    * only builds a manifest, so losing the version slot costs a
    * manifest read, never a re-run of the job. A loser REBASES on the
    * new live snapshot and retries as long as every intervening
    * commit was itself append-shaped — N interleaved appenders all
    * commit, serialized, no lost dirs. An intervening commit that
    * REMOVED dirs (overwrite/merge/delete/compact) changed rows this
    * append never saw: refused with `ConcurrentModificationException`
    * rather than guessed (re-derive the batch and retry).
    * Returns the committed version. */
  def commitAppend(df0: org.apache.spark.sql.DataFrame, root: String,
      retain: Int = -1, rowCount: Option[Long] = None,
      statsCols: Seq[String] = Nil, bloomCols: Seq[String] = Nil,
      op: String = "append", partitionBy: Seq[String] = Nil,
      bucketBy: Option[(Int, Seq[String])] = None,
      generatedColumns: Map[String, String] = Map.empty,
      ingested: Option[Seq[String]] = None,
      requireBase: Option[Long] = None): Long =
    appendStaged(df0, root, retain, rowCount, statsCols, bloomCols, op,
      partitionBy, bucketBy, generatedColumns, ingested, requireBase,
      countStaged = false)._1

  /** Insert-if-absent append, the lake form of the reference's load
    * step (`Load.is_in_base`, then append) and the one body behind
    * [[graft.newsmaper.Newsmaper.loadToCommitted]] and
    * [[graft.streaming.Streams.dedupAppendSinkCommitted]]: dedup
    * `batch` within itself on `keys`, anti-join it against the live
    * snapshot, append what is left. On an unpartitioned table without
    * CHECK constraints, generated columns, identity or row tracking,
    * dedup, anti-join, count and staging write run as ONE execution at
    * the width of both join sides' bytes ([[ShuffleWidth.bytesWidth]]):
    * nothing is persisted, and the count is the staging write's
    * observed row count. A partitioned table first collects the
    * batch's distinct partition tuples ([[stageBatch]]); a table whose
    * commit reads the batch more than once persists it, so validation
    * and the write see the same rows. A batch with nothing fresh drops
    * its staged dir, and the root dirs the staging created, and
    * commits nothing (no snapshot churn, so `load ∘ load ≡ load`
    * leaves the version put). A plain-parquet table at `root` (a
    * path-form sink's target) is refused, not read as empty: its keys
    * would re-append and its rows vanish from `readCommitted`. Returns
    * the rows appended. */
  private[graft] def appendAbsent(batch: org.apache.spark.sql.DataFrame,
      keys: Seq[String], root: String): Long = {
    val spark = batch.sparkSession
    val fs = fsFor(spark, root)
    val r = new Path(root)
    val cur = currentVersion(spark, root)
    // the root and its ancestors that do not exist yet: a first batch
    // with nothing fresh takes back what its staging write created
    val absent =
      if (cur.isDefined) Nil
      else Iterator.iterate(r)(_.getParent)
        .takeWhile(p => p != null && !fs.exists(p)).toList
    if (cur.isEmpty && absent.isEmpty) {
      val legacy = fs.listStatus(r).exists { f =>
        val n = f.getPath.getName
        f.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
      require(!legacy,
        s"$root holds a plain parquet table (no manifest); migrate it first — " +
          "Lake.commitOverwrite(spark.read.parquet(root), root) after moving the " +
          "files aside — or keep using the path-form sink (Newsmaper.loadTo, " +
          "Streams.dedupAppendSink) for this path")
    }
    val existing = cur.map(readCommittedAt(spark, root, _)).getOrElse(batch.limit(0))
    val appended = appendStaged(Dedup.newRows(batch.dropDuplicates(keys), existing, keys),
      root, retain = -1, rowCount = None, statsCols = Nil, bloomCols = Nil,
      op = "append", partitionBy = Nil, bucketBy = None,
      generatedColumns = Map.empty, ingested = None, requireBase = None,
      countStaged = true)._2
    // deepest first, and only while empty: a concurrent writer's dirs stay
    if (appended == 0)
      absent.foreach(p => scala.util.Try(
        if (fs.exists(p) && fs.listStatus(p).isEmpty) fs.delete(p, false)))
    appended
  }

  /** [[commitAppend]]'s engine, returning (version, rows staged).
    * With `countStaged` the staging writes' observed row count stands
    * in for `rowCount`: zero drops the staged dirs and commits nothing
    * (version -1), anything else is counted into the manifest's rows;
    * a batch the commit reads more than once is persisted for the
    * commit's length. */
  private def appendStaged(df0: org.apache.spark.sql.DataFrame, root: String,
      retain: Int, rowCount: Option[Long],
      statsCols: Seq[String], bloomCols: Seq[String],
      op: String, partitionBy: Seq[String],
      bucketBy: Option[(Int, Seq[String])],
      generatedColumns: Map[String, String],
      ingested: Option[Seq[String]],
      requireBase: Option[Long],
      countStaged: Boolean): (Long, Long) = {
    require(retain >= -1,
      s"retain must be >= 0 (or -1 = inherit $PropRetain), got $retain")
    require(!op.contains("\n"), "op must be a single manifest line")
    // internal probe/staging jobs plan at the batch estimate's width
    val spark = ShuffleWidth.narrowed(df0.sparkSession,
      ShuffleWidth.bytesWidth(Seq(df0)))
    val fs = fsFor(spark, root)
    val r = new Path(root)
    // ONE root listing serves every pre-staging metadata-inheritance
    // read below (they all describe the same base snapshot; the OCC
    // loop past staging re-lists fresh per attempt — its correctness
    // depends on freshness, these reads don't). At 10^5+ dirs a root
    // listing is ~10^2 ms, and this function used to take ~11 of them.
    val preV: Seq[Long] = committedVersions(fs, r)
    val pre = preV.lastOption.map(tableMeta(fs, r, _)).getOrElse(TableMeta.empty)
    val effGen = effectiveGenParts(r, pre, generatedColumns)
    // an insert-if-absent batch is a dedup (which row a key keeps is
    // arbitrary, and may differ between two evaluations) anti-joined
    // against the snapshot. Where this commit reads the batch more
    // than once (the all-NULL special-column probe, the CHECK and
    // generated-column validation, the identity and row-id counts and
    // allocation, a rebase's re-stage), it pins ONE evaluation, so
    // validation and the staging write see the same rows. Otherwise
    // it stays un-persisted: dedup, anti-join, count and staging
    // write run as one execution.
    val pinBatch = countStaged && (pre.checks.nonEmpty || effGen.nonEmpty ||
      pre.identity.isDefined || pre.rowId.isDefined)
    val batch = Shim.rebind(spark, df0)
    if (pinBatch) batch.persist()
    try {
      val genTzEst =
        if (generatedColumns.nonEmpty && pre.genAll.isEmpty)
          Some(spark.sessionState.conf.sessionLocalTimeZone)
        else None
      // IDENTITY: a declared table allocates [mark, mark + n) here and
      // advances the mark in the SAME manifest write; the batch must
      // omit the column (GENERATED ALWAYS)
      val effId = pre.identity
      // SQL `INSERT INTO t (named, cols)` pads every unnamed column
      // with NULL — an all-NULL identity/generated column therefore
      // means OMITTED (recompute/allocate, Delta's rule), while any
      // non-NULL identity value refuses (GENERATED ALWAYS). One probe
      // job covers all such columns the batch carries.
      // BY DEFAULT mode (Delta's GENERATED BY DEFAULT AS IDENTITY): a
      // batch MAY carry the column — explicit values pass through
      // verbatim, NULL values take the next block, and the mark advances
      // past both, so the allocator never reuses an explicit key
      // (uniqueness against explicit values is NOT guaranteed — the
      // documented BY DEFAULT rule; it exists for migrations seeding
      // existing SERIAL keys)
      val idByDefault = effId.isDefined && pre.idMode.contains("bydefault")
      val dfDropped = dropAllNullSpecials(batch, effGen, effId,
        establishing = preV.isEmpty)
      effId.foreach { case (c, _) =>
        require(idByDefault || !dfDropped.columns.contains(c),
          s"identity column '$c' is GENERATED ALWAYS — the append batch " +
            "must omit it (keys allocate atomically at commit); declare " +
            "the column GENERATED BY DEFAULT to write explicit keys")
      }
      val dfIn = dfDropped
      val idCarried = idByDefault && effId.exists(i => dfIn.columns.contains(i._1))
      var idStart: Long = effId.map(_._2).getOrElse(0L)
      // idN = rows the allocator fills; idMaxExplicit bounds the mark
      // past explicitly-written keys (BY DEFAULT only)
      val (idN, idMaxExplicit): (Long, Long) =
        if (effId.isEmpty) (0L, Long.MinValue)
        else if (idCarried) probeIdentityByDefault(dfIn, effId.get._1)
        else (dfIn.count(), Long.MinValue)
      // row tracking: stamp the hidden id block like the identity block
      // (same allocator protocol, same OCC rebase below)
      val ridMark0 = pre.rowId
      if (ridMark0.isDefined) require(!dfIn.columns.contains(RowIdCol),
        s"'$RowIdCol' is engine-owned under row tracking — the append " +
          "batch must omit it")
      var ridStart: Long = ridMark0.getOrElse(0L)
      val ridN: Long =
        if (!ridMark0.isDefined) 0L
        // identity already counted the FULL batch (omitted column); a
        // BY DEFAULT carried column counted only its NULL rows
        else if (effId.isDefined && !idCarried) idN
        else dfIn.count()
      def withIds(idS: Long, ridS: Long): org.apache.spark.sql.DataFrame = {
        val base = effId match {
          case Some((c, _)) if idCarried => fillIdentityNulls(dfIn, c, idS, idN)
          case Some((c, _)) => materializeIdentity(dfIn, c, idS)
          case None => dfIn
        }
        val rid =
          if (ridMark0.isDefined) materializeIdentity(base, RowIdCol, ridS)
          else base
        materializeGenerated(rid, effGen)
      }
      // committed columns with a CURRENT_DEFAULT that this batch omits
      // materialize here (before CHECK validation sees the batch) — an
      // omitting append writes the default physically, never NULL
      val df = materializeDefaults(pre, withIds(idStart, ridStart))
      // user column args name LOGICAL columns; property lines are
      // physical — and a batch adding NEW columns allocates them
      // physical names that can never collide with a mapped or retired
      // one (a re-add after rename/drop must not read old bytes)
      val liveMap = pre.colMap
      val newMap = allocPhysical(df.schema, liveMap, pre.retired,
        preV.maxOption.map(_ + 1).getOrElse(0L))
      val effStats = effectiveStatsCols(pre, colsToPhysical(statsCols, newMap))
      val effBloom = effectiveBloomCols(pre, colsToPhysical(bloomCols, newMap))
      // a partitioned table's layout is a TABLE property: appends
      // inherit it and stage one dir per partition-value tuple
      val effPart = effectivePartCols(pre, colsToPhysical(partitionBy, newMap))
      // the bucket layout is a table property too: appends inherit it
      // and stage through the bucketed writer. A NEW declaration on an
      // append to an existing UNBUCKETED table refuses: earlier dirs
      // lack the bucket file naming, so the declared layout would lie
      // to every bucketed scan — declare bucketBy on the table's first
      // commit, or re-layout the whole snapshot with commitOverwrite
      if (bucketBy.isDefined && preV.nonEmpty)
        require(pre.bucketBy.isDefined,
          s"an append cannot declare a bucket layout on the existing " +
            s"unbucketed table at $root — earlier dirs lack bucket file " +
            "naming; re-layout with commitOverwrite(bucketBy = …)")
      val effBucket = effectiveBucketBy(r, pre,
        bucketBy.map { case (n, cs) => (n, colsToPhysical(cs, newMap)) })
      validateChecks(pre, r, df, "append", effGen)
      val (genParts, genCols) =
        effGen.partition { case (c, _) => effPart.contains(physName(newMap, c)) }
      // O(batch): stats only for the new dirs; reused dirs' lines carry
      var (staged, stagedMeta, stagedRows) =
        stageBatch(spark, fs, r, df, pre, effStats, effBloom, effPart,
          bucketBy = effBucket, colMap = newMap)
      def dropStaged(): Unit = staged.foreach(d => fs.delete(new Path(r, d), true))
      if (countStaged && stagedRows == 0) {
        dropStaged()
        return (-1L, 0L)
      }
      afterAppendStage()
      // the snapshot this append staged against; every retry re-checks
      // that the commits landing after it were all append-shaped. The
      // first attempt reuses this listing: a commit landing after it
      // takes the slot this attempt publishes to, and the next attempt
      // re-lists and validates it.
      var committed = committedVersions(fs, r)
      val base = committed.maxOption.getOrElse(-1L)
      var attempt = 0
      while (true) {
        attempt += 1
        if (attempt > 1) committed = committedVersions(fs, r)
        // ledger-carrying commits (COPY INTO) must extend EXACTLY the
        // snapshot whose ledger they read: any interleaved commit means
        // the merged `ingested` list may be stale, so refuse loudly and
        // let the re-run re-read it (idempotence skips the loaded files)
        requireBase.foreach { b =>
          if (committed.lastOption != Some(b)) {
            dropStaged()
            throw new java.util.ConcurrentModificationException(
              s"COPY INTO $root raced a concurrent commit past its base " +
                s"v$b — re-run; files the winner already recorded will " +
                "be skipped")
          }
        }
        if (base >= 0 && !committed.contains(base)) {
          dropStaged()
          throw new java.util.ConcurrentModificationException(
            s"append to $root: the base version $base this append staged " +
              "against was retention-pruned during the commit race — the " +
              "append-only interleaving cannot be proven; re-derive and retry " +
              "(or commit with a larger `retain`)")
        }
        // rebase validation: every commit that landed since `base` must
        // itself be append-shaped (dirs only added) for a blind rebase
        // to be sound. A concurrent winner's pruneRetention can delete a
        // manifest between the committedVersions listing above and these
        // per-version reads (TOCTOU) — that race IS the retention-pruned
        // case, so it gets the same refusal, not a raw FileNotFound.
        try {
          (base +: committed.filter(_ > base)).filter(_ >= 0)
            .sliding(2).foreach {
              case Seq(a, b) =>
                val removed = manifestDirs(fs, r, a).toSet -- manifestDirs(fs, r, b)
                // a ROW-PRESERVING layout commit (compaction / z-order /
                // REORG purge) removes dirs without changing contents:
                // the snapshot this batch was derived against is
                // semantically intact, so the blind rebase stays sound —
                // appends compose with the standing OPTIMIZE cadence
                // (Delta's rule) instead of failing for it. Anything
                // else that removed dirs (overwrite/merge/delete/
                // restore) changed ROWS this append may have derived
                // from: refuse.
                lazy val rowPreserving = tableMeta(fs, r, b).op.exists(o =>
                  o.startsWith("compact") || o.startsWith("zorder") ||
                    o.startsWith("reorg"))
                if (removed.nonEmpty && !rowPreserving) {
                  dropStaged()
                  throw new java.util.ConcurrentModificationException(
                    s"append to $root: concurrent commit v$b removed dirs " +
                      s"${removed.toSeq.sorted.mkString(", ")} " +
                      "(overwrite/merge/delete/restore) while this append " +
                      "was staging — a blind-append rebase is only sound " +
                      "across appends and row-preserving maintenance; " +
                      "re-derive the batch against the current snapshot " +
                      "and retry")
                }
              case _ => // single element: nothing landed since base
            }
        } catch {
          case _: java.io.FileNotFoundException =>
            dropStaged()
            throw new java.util.ConcurrentModificationException(
              s"append to $root: a manifest in the rebase window was " +
                "retention-pruned by a concurrent commit mid-validation — " +
                "the append-only interleaving cannot be proven; re-derive " +
                "and retry (or commit with a larger `retain`)")
        }
        val cur = committed.lastOption
        // column-map rebase: this batch's file names froze under the map
        // read at staging time. A concurrent append that merely ADDED
        // entries merges; a concurrent rename/drop that moved a name
        // this batch staged under — or retired/claimed a physical name
        // this batch allocated — refuses (the staged bytes would lie).
        val curMeta = cur.map(tableMeta(fs, r, _)).getOrElse(TableMeta.empty)
        val curMap = curMeta.colMap
        val curRetired = curMeta.retired
        val ourNew = newMap -- liveMap.keys
        val mergedMap = curMap ++ ourNew
        // every staged column's PHYSICAL name — including identity-
        // mapped ones — must still be OURS under the concurrent
        // snapshot: a first-ever rename of an identity column claims
        // our physical name for a DIFFERENT logical column (mergeSchemas
        // would re-add the old logical name over the same bytes), and a
        // first-ever drop retires it (a commit would resurrect the
        // dropped column's bytes). Both were invisible to the ourNew
        // checks alone because identity names never appear in the map.
        val stagedPhys = df.columns.toSeq.map(c => c -> physName(newMap, c))
        if (df.columns.exists(c => physName(mergedMap, c) != physName(newMap, c)) ||
            stagedPhys.exists { case (_, pc) => curRetired.contains(pc) } ||
            stagedPhys.exists { case (lc, pc) =>
              curMap.exists { case (clc, cpc) => cpc == pc && clc != lc } } ||
            ourNew.exists { case (lc, pc) => curMap.get(lc).exists(_ != pc) } ||
            ourNew.values.toSet.intersect(
              (curMap -- newMap.keys).values.toSet).nonEmpty) {
          dropStaged()
          throw new java.util.ConcurrentModificationException(
            s"append to $root: a concurrent commit changed the column " +
              "mapping while this append was staging — re-derive the batch " +
              "against the current table and retry")
        }
        // IDENTITY rebase: a concurrent allocator advanced the mark
        // past the block this batch staged under — the staged ids would
        // collide, so RE-STAGE the same rows under the new block (only
        // the key column moves; this is what makes concurrent appends
        // to an identity table allocate disjoint ranges instead of
        // refusing)
        val curMark = curMeta.identity.map(_._2)
        val curRidMark = curMeta.rowId
        // allocator PRESENCE must match what this append staged under:
        // an enableRowTracking / identity-declaring overwrite (or a
        // RESTORE dropping either) that lands between this append's
        // entry reads and `base` is invisible to the removed-dirs check
        // above, and committing would inherit the live mark while the
        // staged rows carry no ids (or vice versa) — a silently
        // half-tracked table whose NULL ids mis-pair in the keyless
        // change feed. Refuse loudly; the re-run stages under the
        // current declaration.
        if (effId.isDefined != curMark.isDefined ||
            ridMark0.isDefined != curRidMark.isDefined) {
          dropStaged()
          throw new java.util.ConcurrentModificationException(
            s"append to $root: a concurrent commit " +
              (if (ridMark0.isDefined != curRidMark.isDefined)
                "changed row tracking" else "changed the identity declaration") +
              " while this append was staging — the staged rows were " +
              "built under the previous allocator state; re-run the " +
              "append against the current table")
        }
        // CHECK constraints: the batch was validated against `pre`'s; a
        // constraint a concurrent commit added since would be declared
        // over rows it never checked
        if (curMeta.checks.exists(!pre.checks.contains(_))) {
          dropStaged()
          throw new java.util.ConcurrentModificationException(
            s"append to $root: a concurrent commit added a CHECK constraint " +
              "while this append was staging — the batch was not validated " +
              "against it; re-run the append against the current table")
        }
        val idMoved = effId.isDefined && curMark.exists(_ != idStart)
        val ridMoved = ridMark0.isDefined && curRidMark.exists(_ != ridStart)
        if (idMoved || ridMoved) {
          dropStaged()
          if (idMoved) idStart = curMark.get
          if (ridMoved) ridStart = curRidMark.get
          val restaged = stageBatch(spark, fs, r,
            materializeDefaults(curMeta, withIds(idStart, ridStart)), curMeta,
            effStats, effBloom, effPart, bucketBy = effBucket, colMap = newMap)
          staged = restaged._1; stagedMeta = restaged._2; stagedRows = restaged._3
        }
        // number allocation vs committedVersions (see commitOverwrite);
        // the snapshot to extend is the LIVE one
        val next = cur.map(_ + 1).getOrElse(0L)
        val prevDirs = cur.map(v => manifestDirs(fs, r, v)).getOrElse(Nil)
        // the committed schema evolves by MERGE (add-nullable-column;
        // type changes refused — see mergeSchemas). A legacy manifest
        // without a schema line infers its schema once here, so its
        // first post-upgrade append migrates the table to
        // carried-schema reads.
        val prevSchema = curMeta.schema
          .orElse(cur.map(v => spark.read.parquet(
            manifestDirs(fs, r, v).map(d => new Path(r, d).toString): _*).schema))
        val schema = prevSchema.map(mergeSchemas(_, df.schema)).getOrElse(df.schema)
        // the appended snapshot's count = previous + batch, when the
        // batch count is known (the caller's, or the staged one) AND the
        // chain carried one (bootstrap: the batch count alone)
        val batchRows = if (countStaged) Some(stagedRows) else rowCount
        val rows = batchRows.flatMap { n =>
          cur match {
            case Some(_) => curMeta.rows.map(_ + n)
            case None    => Some(n)
          }
        }
        // an id-mode reconcile conflict (the batch's schema evolution
        // re-introduces a field a concurrent or earlier commit dropped)
        // throws before the publish — clean up the staged dirs and
        // surface it (the remedy is ALTER TABLE ADD COLUMN)
        def publishOrClean(commit: => Boolean): Boolean =
          try commit catch {
            case e: IllegalStateException => dropStaged(); throw e
          }
        val idMark = effId.map { case (c, _) =>
          (c, math.max(idStart + idN, idMaxExplicit + 1L)) }
        val ridMark = if (ridMark0.isDefined) Some(ridStart + ridN) else None
        if (publishOrClean(commitManifest(fs, r, next, prevDirs ++ staged, retain, Some(schema),
            rows, stagedMeta,
            meta = m => m.declaring(effStats, effBloom, effPart).copy(
              colMap = mergedMap, genParts = genParts, genCols = genCols,
              genTz = genTzEst.orElse(m.genTz),
              identity = idMark.orElse(m.identity),
              ingested = ingested.getOrElse(m.ingested),
              rowId = ridMark.orElse(m.rowId)),
            op = op))) {
          maybeAutoCompact(spark, fs, r, root)
          return (next, stagedRows)
        }
        // lost the slot: a concurrent writer committed `next` first.
        // Loop — the next pass validates what landed and rebases.
        if (attempt >= 100) {
          dropStaged()
          throw new java.util.ConcurrentModificationException(
            s"append to $root lost $attempt consecutive commit races — " +
              "pathological contention; back off and retry")
        }
      }
      (-1L, 0L) // unreachable
    } finally if (pinBatch) { batch.unpersist(); () }
  }

  /** Distinct PARENT-DIR names behind a probe's `__file` column,
    * aggregated EXECUTOR-side before the collect: the driver sees
    * O(dirs), never O(files), so an uncompacted million-file snapshot
    * probes at dir scale. `input_file_name` yields a URI-ish path
    * whose last two segments are `<dir>/<file>`. */
  private[graft] def probeDirNames(
      withFile: org.apache.spark.sql.DataFrame): Set[String] = {
    import org.apache.spark.sql.functions.{col, substring_index}
    withFile
      .select(substring_index(substring_index(
        col("__file"), "/", -2), "/", 1).as("__dir"))
      .distinct().collect().map(_.getString(0)).toSet
  }
}
