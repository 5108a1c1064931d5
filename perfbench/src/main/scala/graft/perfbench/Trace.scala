package graft.perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.perfbench.SparkAccess

/** A timed call: `[startMs, endMs)` on the epoch-millisecond clock the
  * Spark listener events use, so span and job intervals compare. */
final case class Span(id: Int, name: String, parent: Int, startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** One Spark job as the listener saw it. `group` is the job group the
  * tracer set around the call that launched it; `execution` the SQL
  * execution id (-1 outside SQL). */
final case class JobRec(id: Int, group: String, execution: Long,
    startMs: Double, endMs: Double, stages: Int, tasks: Int, taskRunMs: Double,
    taskCpuMs: Double, gcMs: Double, shuffleBytes: Long, inputRows: Long)

object Trace {
  val GroupPrefix = "perfbench-span-"

  /** Total length of the union of `ivs`. */
  def unionMs(ivs: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN; var curE = Double.NaN
    ivs.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Part of `[s, e)` the intervals cover, each counted once. */
  def coveredMs(s: Double, e: Double, ivs: Seq[(Double, Double)]): Double =
    unionMs(ivs.map { case (a, b) => (math.max(a, s), math.min(b, e)) })

  /** Span duration minus the part of it its child spans cover;
    * overlapping children are not counted twice. */
  def selfMs(span: Span, children: Seq[Span]): Double =
    span.ms - coveredMs(span.startMs, span.endMs, children.map(c => (c.startMs, c.endMs)))

  /** Span id of the job group a traced call set, if the job carries one. */
  def spanOf(job: JobRec): Option[Int] =
    Option(job.group).filter(_.startsWith(GroupPrefix))
      .flatMap(_.stripPrefix(GroupPrefix).toIntOption)

  /** Jobs per span, then per SQL execution inside the span. */
  def attribute(jobs: Seq[JobRec]): Map[Int, Map[Long, Seq[JobRec]]] =
    jobs.flatMap(j => spanOf(j).map(_ -> j)).groupBy(_._1).map { case (sid, js) =>
      sid -> js.map(_._2).groupBy(_.execution)
    }

  /** Per-call means of each span name's measures. `planMs` maps an SQL
    * execution id to its analysis + optimization + planning time. */
  def summarize(spans: Seq[Span], jobs: Seq[JobRec],
      planMs: Map[Long, Double]): Map[String, Map[String, Double]] = {
    val byParent = spans.groupBy(_.parent)
    val bySpan = attribute(jobs)
    val allJobIvs = jobs.map(j => (j.startMs, j.endMs))
    spans.groupBy(_.name).map { case (name, calls) =>
      val per = calls.map { s =>
        val execs = bySpan.getOrElse(s.id, Map.empty)
        val js = execs.values.flatten.toSeq
        val jobWall = unionMs(js.map(j => (j.startMs, j.endMs)))
        val run = js.map(_.taskRunMs).sum
        Map(
          "wall_ms" -> s.ms,
          "self_ms" -> selfMs(s, byParent.getOrElse(s.id, Nil)),
          "driver_ms" -> (s.ms - coveredMs(s.startMs, s.endMs, allJobIvs)),
          "jobs" -> js.size.toDouble,
          "stages" -> js.map(_.stages).sum.toDouble,
          "tasks" -> js.map(_.tasks).sum.toDouble,
          "task_cpu_ms" -> js.map(_.taskCpuMs).sum,
          "gc_ms" -> js.map(_.gcMs).sum,
          "task_run_ms" -> run,
          "job_wall_ms" -> jobWall,
          "shuffle_bytes" -> js.map(_.shuffleBytes).sum.toDouble,
          "input_rows" -> js.map(_.inputRows).sum.toDouble,
          "plan_ms" -> execs.keys.toSeq.flatMap(planMs.get).sum)
      }
      val mean = per.head.keys.map(k => k -> per.map(_(k)).sum / per.size).toMap
      // parallelism is a ratio of sums, not a mean of per-call ratios
      val wall = per.map(_("job_wall_ms")).sum
      name -> (mean +
        ("parallelism" -> (if (wall > 0) per.map(_("task_run_ms")).sum / wall else 0.0)) +
        ("calls" -> calls.size.toDouble))
    }
  }
}

/** Records spans around the benchmark's calls into graft, and the Spark
  * jobs and SQL executions each call launched. Inactive until [[start]];
  * while inactive [[span]] only runs its body. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val epochBase = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  private def nowMs: Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, String)] = Nil
  private var nextId = 0
  private var active = false

  private final class Live(var startMs: Double, group: String, exec: Long) {
    var endMs = Double.NaN
    var stages, tasks = 0
    var runMs, cpuMs, gcMs = 0.0
    var shuffle, rows = 0L
    def rec(id: Int) = JobRec(id, group, exec, startMs, endMs, stages, tasks,
      runMs, cpuMs, gcMs, shuffle, rows)
  }
  private val live = mutable.LinkedHashMap.empty[Int, Live]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val plans = mutable.HashMap.empty[Long, Double]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val p = Option(e.properties)
      val group = p.map(_.getProperty("spark.jobGroup.id")).orNull
      val exec = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
        .flatMap(_.toLongOption).getOrElse(-1L)
      live(e.jobId) = new Live(e.time.toDouble, group, exec)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      live.get(e.jobId).foreach(_.endMs = e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      stageJob.get(e.stageInfo.stageId).flatMap(live.get).foreach(_.stages += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageJob.get(e.stageId).flatMap(live.get).foreach { j =>
        j.tasks += 1
        j.runMs += e.taskInfo.duration
        Option(e.taskMetrics).foreach { m =>
          j.cpuMs += m.executorCpuTime / 1e6
          j.gcMs += m.jvmGCTime
          j.shuffle += m.shuffleWriteMetrics.bytesWritten
          j.rows += m.inputMetrics.recordsRead
        }
      }
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case end: SparkListenerSQLExecutionEnd => Tracer.this.synchronized {
        SparkAccess.planMs(end).foreach(plans(end.executionId) = _)
      }
      case _ =>
    }
  }

  /** Starts recording: registers the listener. */
  def start(): Unit = {
    sc.addSparkListener(listener)
    active = true
  }

  /** Stops recording once the listener bus has delivered every event
    * of the calls made so far. */
  def stop(): Unit = {
    active = false
    SparkAccess.drainListenerBus(sc)
    sc.removeSparkListener(listener)
  }

  /** Adds an already timed interval, e.g. one before the session existed. */
  def record(name: String, startNs: Long, endNs: Long): Unit = Tracer.this.synchronized {
    val toMs = (ns: Long) => epochBase + (ns - nanoBase) / 1e6
    spans += Span(nextId, name, -1, toMs(startNs), toMs(endNs)); nextId += 1
  }

  /** Runs `body` as span `name`, nested in the enclosing span; every
    * Spark job the body launches carries the span's job group. */
  def span[T](name: String)(body: => T): T =
    if (!active) body
    else {
      val id = synchronized { nextId += 1; nextId - 1 }
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      stack = (id, name) :: stack
      sc.setJobGroup(Trace.GroupPrefix + id, name, interruptOnCancel = false)
      val t0 = nowMs
      try body
      finally {
        val t1 = nowMs
        stack = stack.tail
        stack.headOption match {
          case Some((p, pName)) => sc.setJobGroup(Trace.GroupPrefix + p, pName, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
        synchronized { spans += Span(id, name, parent, t0, t1) }
      }
    }

  private def jobs: Seq[JobRec] =
    live.iterator.filter(!_._2.endMs.isNaN).map { case (id, j) => j.rec(id) }.toSeq

  def summary(): Map[String, Map[String, Double]] = synchronized {
    Trace.summarize(spans.toSeq, jobs, plans.toMap)
  }

  /** Writes every span and job as one JSON object per line. */
  def dump(file: java.io.File): Unit = synchronized {
    def q(s: String) = if (s == null) "null" else "\"" + s.replace("\"", "'") + "\""
    val out = new java.io.PrintWriter(file, "UTF-8")
    try {
      spans.foreach(s => out.println(s"""{"span": ${s.id}, "name": ${q(s.name)}, """ +
        s""""parent": ${s.parent}, "start_ms": ${s.startMs}, "end_ms": ${s.endMs}}"""))
      jobs.foreach(j => out.println(s"""{"job": ${j.id}, "group": ${q(j.group)}, """ +
        s""""execution": ${j.execution}, "start_ms": ${j.startMs}, "end_ms": ${j.endMs}, """ +
        s""""stages": ${j.stages}, "tasks": ${j.tasks}, "task_run_ms": ${j.taskRunMs}, """ +
        s""""task_cpu_ms": ${j.taskCpuMs}, "gc_ms": ${j.gcMs}, """ +
        s""""shuffle_bytes": ${j.shuffleBytes}, "input_rows": ${j.inputRows}, """ +
        s""""plan_ms": ${plans.getOrElse(j.execution, 0.0)}}"""))
    } finally out.close()
  }

  def isActive: Boolean = active

  /** Mean self time of the outermost spans: the client's own share of
    * each operation, outside every call into graft. */
  def rootSelfMs: Double = synchronized {
    val roots = spans.filter(s => s.parent < 0 && s.name != "Harness.session")
    if (roots.isEmpty) 0.0
    else {
      val byParent = spans.groupBy(_.parent)
      roots.map(r => Trace.selfMs(r, byParent.getOrElse(r.id, Nil).toSeq)).sum / roots.size
    }
  }
}
