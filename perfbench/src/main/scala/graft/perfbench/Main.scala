package graft.perfbench

import java.io.File

/** Workload benchmark for graft, driven from outside through its public
  * functions. Usage:
  *
  *   Main --workload ingest|lake_query|corpus --seed N --seconds S
  *        --trace 0|1 --work DIR [--spans FILE]
  *
  * Prints one JSON object as the last line of stdout: with `--trace 0`
  * the end-to-end metrics, with `--trace 1` the per-layer metrics of a
  * run in which every other operation is traced, whose raw spans and
  * jobs go to FILE. Exits 1 when an operation failed or an output
  * check fails. */
object Main {

  /** Set-ups per run; `setup_s` reports their median. */
  val Setups = 3

  private val spanMeasures = Seq("wall_ms", "driver_ms", "jobs", "stages", "tasks",
    "task_cpu_ms", "gc_ms", "parallelism", "shuffle_bytes", "input_rows", "plan_ms")
  private def unitOf(measure: String): String = measure match {
    case m if m.endsWith("_ms") => "ms"
    case "shuffle_bytes" => "bytes"
    case "parallelism" => "ratio"
    case _ => "count"
  }
  private def spanMetrics(span: String, measures: Seq[String]): Seq[(String, String)] =
    measures.map(m => s"$span.$m" -> unitOf(m))

  val operators = Seq("quality", "exact", "nearDedupCorpus", "byKeywords", "lshTopK")

  /** Every per-layer metric with its unit, in output order. A layer a
    * workload never calls reports 0. */
  val layerMetrics: Seq[(String, String)] =
    Seq("Harness.session.wall_ms" -> "ms", "client.self_ms" -> "ms",
      "newsmaper.pipeline.wall_ms" -> "ms") ++
    spanMetrics("newsmaper.loadToCommitted", spanMeasures) ++
    spanMetrics("sources.compactCommitted", Seq("wall_ms", "driver_ms", "jobs", "tasks",
      "task_cpu_ms", "parallelism", "plan_ms")) ++
    Seq("sources.vacuumCommitted.wall_ms" -> "ms") ++
    spanMetrics("sources.readCommittedWhere", Seq("wall_ms", "driver_ms", "jobs", "tasks",
      "task_cpu_ms", "parallelism", "input_rows", "plan_ms")) ++
    spanMetrics("sources.readCommitted", spanMeasures.filterNot(_ == "gc_ms")) ++
    operators.flatMap(o => spanMetrics(s"operators.$o", spanMeasures.filterNot(_ == "input_rows"))) ++
    Seq(
      "sources.live_dirs" -> "count", "sources.manifest_bytes" -> "bytes",
      "sources.bytes_written_per_batch" -> "bytes", "sources.bytes_rewritten" -> "bytes",
      "sources.space_amp" -> "ratio", "sources.rows_scanned_per_row" -> "ratio",
      "ingest.fresh_ratio" -> "ratio", "ingest.maint_ms.p50" -> "ms",
      "lake_query.lookup_ms.p50" -> "ms", "lake_query.scan_ms.p50" -> "ms",
      "corpus.neardup_recall" -> "ratio", "corpus.neardup_false_share" -> "ratio",
      "corpus.ann_recall" -> "ratio",
      "trace.overhead_pct" -> "%")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = new File(opts("work"))

    val t0 = System.nanoTime()
    val spark = graft.Harness.session(Runtime.getRuntime.availableProcessors.toString)
    val t1 = System.nanoTime()
    spark.sparkContext.setLogLevel("ERROR")
    val tr = new Tracer(spark)
    tr.record("Harness.session", t0, t1)
    val wl: Workload = workload match {
      case "ingest" => new Ingest(spark, tr, seed)
      case "lake_query" => new LakeQuery(spark, tr, seed)
      case "corpus" => new Corpus(spark, tr, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val setupMs = (0 until Setups).map(k => Workload.time(wl.setup(new File(work, s"setup$k")))._2)
    val setupS = ((t1 - t0) / 1e6 + Stats.median(setupMs)) / 1000
    val (_, warmMs) = Workload.time(wl.warmUp())

    val samples = Seq.newBuilder[(Sample, Boolean)]
    var attempted, failed, items = 0L
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    var i = 0
    while (elapsed < seconds) {
      // in a traced run every other operation is traced, so the
      // untraced ones measure the tracing overhead in the same process
      val on = traced && i % 2 == 1
      if (on) tr.start()
      attempted += 1
      try {
        val (ss, n, ok) = wl.op(i)
        ss.foreach(s => samples += s -> on)
        items += n
        if (!ok) failed += 1
      } catch { case e: Exception =>
        failed += 1
        System.err.println(s"[perfbench] operation $i failed: $e")
      } finally if (on) tr.stop()
      i += 1
    }
    val wallS = elapsed
    val (problems, checkMs) = Workload.time(wl.check())
    problems.foreach(p => System.err.println(s"[perfbench] check failed: $p"))
    // a wrong output counts as a failed operation
    val failedAll = math.min(attempted, failed + problems.size)
    val heapMb = Workload.settledHeapMb()

    val all = samples.result()
    def ms(kind: String, traced: Boolean) =
      all.collect { case (s, t) if s.kind == kind && t == traced => s.ms }
    val primary = ms(wl.primary, traced = false)
    System.err.println(s"[perfbench] $workload: ${primary.size} ${wl.primary} samples " +
      s"(p90 needs ${Stats.samplesFor(0.9)} for ${Stats.MinTail} beyond); ms: session " +
      f"${(t1 - t0) / 1e6}%.0f, setups ${setupMs.map(x => f"$x%.0f").mkString(",")}, " +
      f"warm-up $warmMs%.0f, timed ${wallS * 1000}%.0f, check $checkMs%.0f; " +
      s"${wl.primary} ms ${primary.map(x => f"$x%.0f").mkString(",")}")

    val metrics: Seq[(String, Double, String)] =
      if (!traced) Seq(
        ("setup_s", setupS, "s"),
        ("heap_mb", heapMb, "MB"),
        ("ok_ratio", (attempted - failedAll).toDouble / attempted, "ratio"),
        ("op_ms.p50", Stats.median(primary), "ms"),
        ("op_ms.p90", Stats.percentile(primary, 0.9), "ms"),
        ("items_per_s", items / wallS, "1/s"))
      else {
        opts.get("spans").foreach(f => tr.dump(new File(f)))
        val spans = tr.summary()
        val counters = wl.counters(spans)
        val (onMs, offMs) = (ms(wl.overheadKind, traced = true), ms(wl.overheadKind, traced = false))
        // untraced samples where there are any
        def p50(kind: String) = {
          val xs = Some(ms(kind, traced = false)).filter(_.nonEmpty).getOrElse(ms(kind, traced = true))
          if (xs.isEmpty) 0.0 else Stats.median(xs)
        }
        val extra = Map(
          "client.self_ms" -> tr.rootSelfMs,
          "ingest.maint_ms.p50" -> p50("maint"),
          "lake_query.lookup_ms.p50" -> p50("lookup"),
          "lake_query.scan_ms.p50" -> p50("scan"),
          "trace.overhead_pct" ->
            (if (onMs.isEmpty || offMs.isEmpty) 0.0
             else (Stats.median(onMs) / Stats.median(offMs) - 1) * 100))
        layerMetrics.map { case (name, unit) =>
          val v = counters.get(name).orElse(extra.get(name)).getOrElse {
            val (span, measure) = name.splitAt(name.lastIndexOf('.'))
            spans.get(span).flatMap(_.get(measure.drop(1))).getOrElse(0.0)
          }
          (name, v, unit)
        }
      }
    val body = metrics.map { case (n, v, u) =>
      s""""$n": {"value": ${if (v.isNaN || v.isInfinite) 0.0 else v}, "unit": "$u"}"""
    }.mkString(", ")
    spark.stop()
    // an operation that threw or returned a wrong result fails the run
    val correct = problems.isEmpty && failedAll == 0
    println(s"""{"correct": $correct, "attempted": $attempted, """ +
      s""""failed": $failedAll, "metrics": {$body}}""")
    if (!correct) sys.exit(1)
  }
}
