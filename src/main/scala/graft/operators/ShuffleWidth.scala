package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.graft.Shim

/** Scale-adaptive shuffle width for the engine's latency-bound jobs:
  * the lake commits' internal probes/staging and the iterative loops
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
