package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graft.Shim

/** Scale-adaptive widths, one policy for two kinds of job.
  *
  * CPU-bound stages (scoring, hashing, codecs) run at [[cpuWidth]]:
  * at least one task per core, however small the input. [[widen]]
  * spreads a narrow scan before such a stage, and an operator whose
  * heavy stage sits behind its own exchange gives that exchange the
  * width explicitly.
  *
  * Latency-bound jobs narrow instead: the lake commits' internal
  * probes/staging and the iterative loops
  * ([[Dedup.connectedComponents]], [[Graph.pageRank]] and kin). At
  * sizes far below one shuffle partition's worth of data, full-width
  * exchanges are dozens of near-empty tasks, and AQE's stage-by-stage
  * loop parks the driver between every micro-stage (measured round
  * 20: 85% of a tiny merge's wall clock sat in AdaptiveSparkPlanExec's
  * withFinalPlanUpdate queue). So a narrow job plans at the computed
  * width with AQE off — AQE's job there (coalescing tiny partitions)
  * is what the width formula already did. A large input computes a
  * width at or past the session's and runs exactly as before (full
  * width, AQE on, skew handling intact).
  *
  * The narrowing never touches the caller's session: [[narrowed]]
  * returns a CLONE carrying the narrow conf (same SparkContext, cache
  * and catalog), so a query planned concurrently on the caller's
  * session — from another thread, or between two overlapping
  * windows — keeps its width and AQE. A conf scope cannot do this:
  * AQE insertion reads the session's own conf, and a thread-local
  * never reaches the commit paths' staging pool threads. A Dataset
  * plans under ITS session, so a narrowed op rebinds every input to
  * the clone ([[org.apache.spark.sql.graft.Shim.rebind]]), builds a
  * loop's pre-partitioned cache on the clone (its partitioning then
  * matches the width the loop's exchanges plan with), and rebinds
  * what it returns to the caller's session.
  */
private[graft] object ShuffleWidth {

  /** Width from the inputs' optimizer byte estimates at ~64 MB per
    * post-shuffle partition (AQE's own advisory target). Each input
    * counts what its plan reads: the larger of the root estimate and
    * the sum of the optimized plan's leaf estimates. The root alone
    * under-counts a plan that consumes more than it emits — a left
    * anti or semi join estimates as its left side only, so a small
    * batch anti-joined against a large snapshot would otherwise plan
    * the snapshot's whole scan and shuffle at width 1. An input whose
    * plan cannot be estimated means no narrowing. */
  def bytesWidth(inputs: Seq[DataFrame]): Int =
    bytesWidth(inputs.foldLeft(BigInt(0)) { (acc, df) =>
      acc + (try {
        val p = df.queryExecution.optimizedPlan
        p.stats.sizeInBytes.max(p.collectLeaves().map(_.stats.sizeInBytes).sum)
      } catch { case scala.util.control.NonFatal(_) => BigInt(Long.MaxValue) })
    })

  /** [[bytesWidth]] of a known byte count (a commit's on-disk bytes). */
  def bytesWidth(bytes: BigInt): Int = {
    val perPart = BigInt(64L << 20)
    if (bytes < 0) Int.MaxValue
    else ((bytes + perPart - 1) / perPart).max(1).min(Int.MaxValue).toInt
  }

  /** Width of a CPU-bound stage: `max(defaultParallelism,
    * min(bytesWidth(df), numShufflePartitions))` — at least one task
    * per core, and about 64 MB per task beyond that, up to the width
    * the session would give the stage's exchange anyway. That floor is
    * the one AQE's own `parallelismFirst` coalescing uses. The cap
    * matters because estimates are upper bounds that can be far off:
    * an RDD-backed plan estimates at `spark.sql.defaultSizeInBytes`
    * (Long.MaxValue), a join at the product of its sides.
    *
    * A CPU-bound stage must not inherit a width chosen for bytes. A
    * small parquet file is one scan split, so a stage fed straight
    * from it runs in a single task (measured: an N² cosine loop at
    * sf0.1 took 8.5 s in one task, ~0.6 s spread). Behind an exchange
    * AQE does the same: with the default 1 MB `minPartitionSize` it
    * coalesces a 1.6 MB shuffle into one partition. So a CPU-bound
    * stage sits behind an explicit `repartition(cpuWidth(df), …)`, a
    * `REPARTITION_BY_NUM` exchange AQE never coalesces. Row placement
    * is physical only: outputs do not depend on the width. */
  def cpuWidth(df: DataFrame): Int = {
    val spark = df.sparkSession
    math.max(spark.sparkContext.defaultParallelism,
      math.min(bytesWidth(Seq(df)), spark.sessionState.conf.numShufflePartitions))
  }

  /** `df`, round-robined to [[cpuWidth]] when its scan would run fewer
    * tasks: the scan-side half of [[cpuWidth]], for a CPU-heavy
    * derivation (shingling, hashing, scoring) that would otherwise run
    * at the scan's split count up to its first exchange. A no-op when
    * the scan is already wide: at real scale inputs have thousands of
    * splits and must NOT be shrunk to the local core count.
    *
    * Decided from the optimized plan, never from
    * `df.rdd.getNumPartitions`, which plans the physical query on the
    * driver per call and bypasses AQE's view of the scan. A scan
    * reaches `defaultParallelism` splits when it holds at least that
    * many × `openCostInBytes` bytes (Spark lower-bounds a split by the
    * open cost), or at least that many files (each small file is its
    * own split); only an input with neither is round-robined. */
  def widen(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    val plan = df.queryExecution.optimizedPlan
    // sessionState.conf exposes the conf as a Long; `spark.conf.get`
    // returns the display string with a byte-unit suffix ("4194304b")
    // that .toLong cannot parse.
    val openCost = spark.sessionState.conf.filesOpenCostInBytes
    def inputFiles: Int = plan.collectLeaves().map {
      case r: LogicalRelation => r.relation match {
        case fs: HadoopFsRelation => fs.location.inputFiles.length
        case _ => 0
      }
      case _ => 0
    }.sum
    if (plan.stats.sizeInBytes < BigInt(target.toLong * openCost) && inputFiles < target)
      df.repartition(target)
    else df
  }

  /** Width for a loop's working set at ~64k fixed-width rows per
    * partition: a 100 TB working set keeps the full session width
    * while a small one collapses to a few tasks. */
  def rowsWidth(rows: Long): Int = {
    val perPart = 64000L
    math.max(1L, math.min(Int.MaxValue.toLong, (rows + perPart - 1) / perPart)).toInt
  }

  /** The session a job of `width` plans on: `spark` itself unless
    * `width` is below its shuffle width, otherwise a clone at that
    * width with AQE off. */
  def narrowed(spark: SparkSession, width: Int): SparkSession =
    if (width >= spark.conf.get("spark.sql.shuffle.partitions").toInt) spark
    else Shim.cloneSession(spark, Map(
      "spark.sql.shuffle.partitions" -> width.toString,
      "spark.sql.adaptive.enabled" -> "false"))

  /** `df.count()` at its own [[bytesWidth]] — a loop's pre-loop count,
    * which feeds [[rowsWidth]] and so cannot run at it. */
  def narrowedCount(df: DataFrame): Long =
    Shim.rebind(narrowed(df.sparkSession, bytesWidth(Seq(df))), df).count()
}
