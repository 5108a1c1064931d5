package graft

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM, one session —
  * Test / parallelExecution is off in build.sbt). Mirrors the
  * harness session config (UTC, nanosAsLong, small shuffle width). */
object SparkSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // null-on-parse-failure, no cross-version exception (F1 fallbacks
      // rely on coalesce over three to_timestamp attempts)
      .config("spark.sql.legacy.timeParserPolicy", "CORRECTED")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark

  /** Collect to a set of row-seqs for order-insensitive comparison. */
  def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  /** Collect in result order. */
  def orderedRows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  /** What `body` runs: the physical plan of every SQL execution that
    * succeeded, in completion order, and the number that failed. A
    * listener registered on the session reaches its clones too
    * (cloning copies listeners), so executions a narrowed commit or
    * loop plans on its clone are captured. */
  def capture(body: => Unit): (Seq[SparkPlan], Int) = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val failed = new java.util.concurrent.atomic.AtomicInteger
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        plans.add(qe.executedPlan); ()
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = {
        failed.incrementAndGet(); ()
      }
    }
    org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try body
    finally {
      org.apache.spark.graft.ListenerBus.drain(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    import scala.jdk.CollectionConverters._
    (plans.asScala.toSeq, failed.get)
  }

  /** Physical plans of the SQL executions `body` runs to success. */
  def plansOf(body: => Unit): Seq[SparkPlan] = capture(body)._1

  /** SQL executions `body` runs, failed ones included. */
  def executions(body: => Unit): Int = {
    val (plans, failed) = capture(body)
    plans.size + failed
  }

  /** Every plan node, descending into adaptive plans and query stages
    * (neither exposes its plan as a child). */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: planNodes(a.executedPlan)
    case q: QueryStageExec => q +: planNodes(q.plan)
    case _ => p +: (p.children ++ p.subqueries).flatMap(planNodes)
  }

  /** Partition counts of the plan's shuffle exchanges. */
  def shuffleWidths(p: SparkPlan): Seq[Int] =
    planNodes(p).collect { case e: ShuffleExchangeExec => e.numPartitions }

  def adaptive(p: SparkPlan): Boolean =
    planNodes(p).exists(_.isInstanceOf[AdaptiveSparkPlanExec])

  /** The entries directly under `dir`, by name: each file with its
    * bytes, each directory with none. */
  def dirListing(dir: String): Seq[(String, Seq[Byte])] =
    new java.io.File(dir).listFiles().toSeq.sortBy(_.getName).map { f =>
      f.getName -> (if (f.isFile) java.nio.file.Files.readAllBytes(f.toPath).toSeq
        else Seq.empty[Byte])
    }

  /** Run `body` with session confs set, restoring the previous values. */
  def withConfs(pairs: (String, String)*)(body: => Unit): Unit = {
    val old = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }
}
