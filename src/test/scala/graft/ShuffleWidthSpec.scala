package graft

import java.util.concurrent.{CountDownLatch, FutureTask, TimeUnit}

import graft.operators.{Dedup, Graph, ShuffleWidth}
import graft.sources.{HadoopLogStore, Lake, LakeLogStore}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.RoundRobinPartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.functions._

/** [[ShuffleWidth]]: narrowed jobs plan on a cloned session, so the
  * caller's session never changes — not for a query planned on it
  * while a commit runs, not after overlapping commits — while the
  * commits and loops themselves still plan narrow and non-adaptive. */
class ShuffleWidthSpec extends SparkSpec {
  import spark.implicits._

  private def tmpTable(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).resolve("t").toString

  private def sessionWidth: Int =
    spark.conf.get("spark.sql.shuffle.partitions").toInt

  /** Holds a commit inside its window: the first publish under a
    * held root signals `entered` and waits for `release`. */
  private final class Hold {
    val entered = new CountDownLatch(1)
    val release = new CountDownLatch(1)
  }
  private final class HoldingStore(holds: Map[String, Hold]) extends LakeLogStore {
    override def publishIfAbsent(fs: org.apache.hadoop.fs.FileSystem,
        tmp: org.apache.hadoop.fs.Path,
        dest: org.apache.hadoop.fs.Path): Boolean = {
      holds.collectFirst { case (root, h) if dest.toString.contains(root) => h }
        .foreach { h =>
          h.entered.countDown()
          h.release.await(120, TimeUnit.SECONDS)
        }
      HadoopLogStore.publishIfAbsent(fs, tmp, dest)
    }
  }

  private def async[T](body: => T): FutureTask[T] = {
    val t = new FutureTask[T](() => body)
    new Thread(t).start()
    t
  }

  private def withHolds(holds: Map[String, Hold])(body: => Unit): Unit = {
    Lake.logStore = new HoldingStore(holds)
    try body
    finally {
      holds.values.foreach(_.release.countDown())
      Lake.logStore = HadoopLogStore
    }
  }

  /** Queries on `df` plan as on the caller's session: a groupBy
    * adaptive, a repartition at the session width. (A groupBy over a
    * one-partition result needs no shuffle, so the width is checked on
    * the repartition.) */
  private def assertSessionPlan(df: DataFrame): Unit = {
    val key = col(df.columns.head)
    val agg = df.groupBy((key % 3).as("g")).count().queryExecution.executedPlan
    assert(agg.isInstanceOf[AdaptiveSparkPlanExec], s"not adaptive:\n$agg")
    assert(shuffleWidths(agg).forall(_ == sessionWidth), s"\n$agg")
    val rep = df.repartition(key).queryExecution.executedPlan
    assert(shuffleWidths(rep) === Seq(sessionWidth), s"\n$rep")
  }

  test("narrowed: the caller itself at full width, otherwise a conf copy at the width with AQE and artifact isolation off") {
    val before = spark.conf.getAll
    assert(ShuffleWidth.narrowed(spark, sessionWidth) eq spark)
    val s = ShuffleWidth.narrowed(spark, 1)
    assert(s ne spark)
    assert(s.conf.get("spark.sql.shuffle.partitions") === "1")
    assert(s.conf.get("spark.sql.adaptive.enabled") === "false")
    // tasks run in the executors' default state: no per-clone
    // classloader, so generated classes compile once, not per commit
    assert(s.conf.get("spark.sql.artifact.isolation.enabled") === "false")
    assert(s.conf.get("spark.sql.session.timeZone") ===
      spark.conf.get("spark.sql.session.timeZone"))
    assert(spark.conf.getAll === before)
  }

  test("a query planned on the session while a narrowed commit is open keeps session width and AQE") {
    val root = tmpTable("graft-width-iso")
    val hold = new Hold
    withHolds(Map(root -> hold)) {
      val a = async(Lake.commitAppend(Seq((1L, "a")).toDF("k", "t"), root))
      try {
        assert(hold.entered.await(120, TimeUnit.SECONDS), "commit never reached its publish")
        assertSessionPlan(spark.range(100).toDF("id"))
      } finally {
        hold.release.countDown()
        a.get(120, TimeUnit.SECONDS)
      }
    }
    assert(Lake.readCommitted(spark, root).count() === 1L)
  }

  test("overlapping narrowed commits (A opens, B opens, A closes, B closes) leave the session conf as it was") {
    val before = spark.conf.getAll
    val (rootA, rootB) = (tmpTable("graft-width-a"), tmpTable("graft-width-b"))
    // A estimates 80 MB (width 2), B a few bytes (width 1): both narrow
    val batchA = spark.range(10000000L).where(col("id") < 3).toDF("k")
    val batchB = Seq(7L).toDF("k")
    assert(ShuffleWidth.bytesWidth(Seq(batchA)) === 2)
    assert(ShuffleWidth.bytesWidth(Seq(batchB)) === 1)
    val (holdA, holdB) = (new Hold, new Hold)
    withHolds(Map(rootA -> holdA, rootB -> holdB)) {
      val a = async(Lake.commitAppend(batchA, rootA))
      assert(holdA.entered.await(120, TimeUnit.SECONDS))
      val b = async(Lake.commitAppend(batchB, rootB))
      assert(holdB.entered.await(120, TimeUnit.SECONDS))
      holdA.release.countDown()
      a.get(120, TimeUnit.SECONDS)
      holdB.release.countDown()
      b.get(120, TimeUnit.SECONDS)
    }
    assert(spark.conf.getAll === before)
    assert(rows(Lake.readCommitted(spark, rootA)) === Set(Seq(0L), Seq(1L), Seq(2L)))
    assert(rows(Lake.readCommitted(spark, rootB)) === Set(Seq(7L)))
  }

  test("bytesWidth counts what a plan reads: both sides of an anti-join") {
    val batch = Seq((1L, "a"), (2L, "b")).toDF("id", "t")
    // planned, never run: the Range estimates 80 GB, while the
    // anti-join's root estimate is its left side alone
    val snapshot = spark.range(10000000000L).toDF("id")
    assert(ShuffleWidth.bytesWidth(Seq(batch.join(snapshot, Seq("id"), "left_anti"))) >=
      sessionWidth)
    assert(ShuffleWidth.bytesWidth(Seq(batch)) === 1)
  }

  test("cpuWidth: one task per core at least, ~64 MB per task beyond that, at most the session width") {
    val cores = spark.sparkContext.defaultParallelism
    assert(ShuffleWidth.cpuWidth(Seq(1, 2, 3).toDF("x")) === cores)
    // 80 GB estimated, planned only
    val big = spark.range(10000000000L).toDF("id")
    val bytes = big.queryExecution.optimizedPlan.stats.sizeInBytes
    val perTask = BigInt(64L << 20)
    val byBytes = ((bytes + perTask - 1) / perTask).toInt
    assert(byBytes > cores)
    withConfs("spark.sql.shuffle.partitions" -> "100000") {
      assert(ShuffleWidth.cpuWidth(big) === byBytes)
    }
    withConfs("spark.sql.shuffle.partitions" -> (byBytes - 1).toString) {
      assert(ShuffleWidth.cpuWidth(big) === byBytes - 1)
    }
    // an RDD estimates at Long.MaxValue: the session width, never 2^31 tasks
    val rdd = spark.createDataFrame(spark.sparkContext.parallelize(Seq(Tuple1(1L)), 1)).toDF("x")
    assert(ShuffleWidth.cpuWidth(rdd) === math.max(cores, sessionWidth))
  }

  test("widen: a small scan of defaultParallelism files plans no round-robin; a one-file scan still does") {
    val cores = spark.sparkContext.defaultParallelism
    val dir = java.nio.file.Files.createTempDirectory("graft-widen")
    val many = dir.resolve("many").toString
    val one = dir.resolve("one").toString
    spark.range(100).repartition(cores).write.parquet(many)
    spark.range(100).coalesce(1).write.parquet(one)
    assert(new java.io.File(many).list().count(_.endsWith(".parquet")) === cores)
    def roundRobins(path: String): Seq[Int] =
      planNodes(ShuffleWidth.widen(spark.read.parquet(path)).queryExecution.executedPlan).collect {
        case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[RoundRobinPartitioning] =>
          e.numPartitions
      }
    assert(roundRobins(many) === Nil)
    assert(roundRobins(one) === Seq(cores))
  }

  test("plan audit: a KB-sized commit's internal shuffles plan non-adaptive at the computed width") {
    val batch = Seq((1L, "a", 1), (2L, "b", 2), (3L, "c", 1)).toDF("k", "t", "p")
    val width = ShuffleWidth.bytesWidth(Seq(batch))
    assert(width === 1 && width < sessionWidth)
    val plans = plansOf(Lake.commitAppend(batch, tmpTable("graft-width-kb"),
      partitionBy = Seq("p")))
    val widths = plans.flatMap(shuffleWidths)
    assert(widths.nonEmpty, "the partitioned commit runs a distinct-tuple shuffle")
    assert(widths.forall(_ == width), widths)
    assert(!plans.exists(adaptive))
  }

  test("plan audit: a small distributed connectedComponents loop plans non-adaptive at its row width") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("id_a", "id_b")
    val plans = plansOf(Dedup.connectedComponents(pairs, localEdgeLimit = 0))
    val widths = plans.flatMap(shuffleWidths)
    assert(widths.nonEmpty)
    assert(widths.forall(_ == ShuffleWidth.rowsWidth(8)), widths)
    assert(!plans.exists(adaptive))
  }

  test("plan audit: a commit estimated past the session width stays adaptive at full width") {
    // 40M-row range: ~480 MB estimated (width 8 > 4), three rows real
    val batch = spark.range(40000000L).where(col("id") < 3)
      .select(col("id").as("k"), (col("id") % 2).as("p"))
    assert(ShuffleWidth.bytesWidth(Seq(batch)) >= sessionWidth)
    val plans = plansOf(Lake.commitAppend(batch, tmpTable("graft-width-big"),
      partitionBy = Seq("p")))
    val widths = plans.flatMap(shuffleWidths)
    assert(widths.nonEmpty)
    assert(widths.forall(_ == sessionWidth), widths)
    assert(plans.exists(adaptive))
  }

  test("results leaving a narrowed loop belong to the caller's session and plan adaptive at its width") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val cc = Dedup.connectedComponents(pairs, localEdgeLimit = 0)
    assert(cc.sparkSession eq spark)
    assertSessionPlan(cc)
    assert(rows(cc) === Set(Seq(1L, 1L), Seq(2L, 1L), Seq(3L, 1L),
      Seq(10L, 10L), Seq(11L, 10L)))
    val pr = Graph.pageRank(Seq((1L, 2L), (2L, 1L), (3L, 1L)).toDF("src", "dst"), 3)
    assert(pr.sparkSession eq spark)
    assertSessionPlan(pr)
    assert(pr.count() === 3L)
  }
}
