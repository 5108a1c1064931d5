package graft.perfbench

import java.io.File
import java.nio.file.{Files, Path => JPath}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.newsmaper.Newsmaper
import graft.operators.{Classify, Dedup, Similarity, TextAnalysis}
import graft.sources.Lake

/** One timed sample: an operation of `kind` that took `ms`. */
final case class Sample(kind: String, ms: Double)

/** A closed-loop workload with one client: the next operation starts
  * when the previous one has returned. */
trait Workload {
  /** Kind of the samples the end-to-end latency is taken over. */
  def primary: String
  /** Kind of the samples the tracing overhead is taken over: one that
    * traced and untraced operations both run. */
  def overheadKind: String = primary
  /** Builds the inputs and tables under `dir`. Runs several times per
    * run so its time can be reported as a median; the last build is
    * the one measured. */
  def setup(dir: File): Unit
  /** Untimed operations before measuring: JIT, codegen, caches. */
  def warmUp(): Unit
  /** Operation `i` of the timed phase; returns its samples and the
    * items it offered. Throws, or returns ok = false, on a failure. */
  def op(i: Int): (Seq[Sample], Long, Boolean)
  /** Problems found checking the outputs, after the timed phase. */
  def check(): Seq[String]
  /** Layer counters read after the run, given the span summary. */
  def counters(spans: Map[String, Map[String, Double]]): Map[String, Double]
}

object Workload {
  def time[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e6)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Used heap after full collections, repeated until it settles: the
    * first collection only queues Spark's weakly referenced broadcast
    * and shuffle state for its cleaner thread, a later one frees it. */
  def settledHeapMb(): Double = {
    val rt = Runtime.getRuntime
    def used() = { System.gc(); Thread.sleep(100); (rt.totalMemory - rt.freeMemory) / 1048576.0 }
    var prev = used()
    var cur = used()
    var n = 0
    while (math.abs(cur - prev) > 0.01 * prev && n < 8) { prev = cur; cur = used(); n += 1 }
    cur
  }

  def treeBytes(p: JPath): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  /** Bytes of the field values of `rows`: UTF-8 string bytes, 8 per
    * non-null long; the logical size of what the table holds. */
  def fieldBytes(rows: Seq[Row]): Long = rows.iterator.map { r =>
    (0 until r.length).iterator.map { i =>
      r.get(i) match {
        case null => 0L
        case s: String => s.getBytes("UTF-8").length.toLong
        case _: Long | _: Int | _: Double => 8L
        case other => other.toString.getBytes("UTF-8").length.toLong
      }
    }.sum
  }.sum

  def refs(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Gen.topicWords.groupBy(_._2).toSeq.sortBy(_._1)
      .map { case (id, ws) => (id, s"topic$id", ws.map(_._1)) }
      .toDF("id", "name", "words")
  }
}

import Workload._

/** `ingest`: the reference's poll cycle. Each operation hands in one
  * poll of every feed as RSS XML and runs the newsmaper transform and
  * the anti-join load into a graft-lake table; every `maintEvery`
  * batches the table is compacted and vacuumed. Feeds re-deliver their
  * window, so a fixed share of each batch is already loaded. */
final class Ingest(spark: SparkSession, tr: Tracer, seed: Long) extends Workload {
  import spark.implicits._
  val primary = "batch"
  val preload = 150
  val maintEvery = 4
  private var root: String = _
  private var dim: DataFrame = _
  private val refs = Workload.refs(spark)
  private var cycles = 0
  private var offered, appended = 0L
  private var batchBytes, rewritten = Seq.empty[Long]

  def setup(dir: File): Unit = {
    if (dim != null) dim.unpersist()
    root = new File(dir, "ingest").getAbsolutePath
    dim = Newsmaper.calendarDim(spark, Gen.calStart, Gen.calEndExcl).cache()
    val feeds = Gen.preloadArticles(seed, preload).groupBy(_.source).toSeq.sortBy(_._1)
      .map { case (s, as) => (s.toLong, Gen.feedXml(as)) }.toDF("id_source", "xml")
    Newsmaper.loadToCommitted(Newsmaper.pipeline(feeds, dim, refs), root)
    cycles = 0; offered = 0; appended = 0
  }

  private def batch(): Long = {
    val feeds = Gen.poll(seed, preload, cycles).toDF("id_source", "xml")
    cycles += 1
    tr.span("ingest.batch") {
      val df = tr.span("newsmaper.pipeline")(Newsmaper.pipeline(feeds, dim, refs))
      tr.span("newsmaper.loadToCommitted")(Newsmaper.loadToCommitted(df, root))
    }
  }

  private def maintain(): Unit = tr.span("ingest.maint") {
    tr.span("sources.compactCommitted")(Lake.compactCommitted(spark, root))
    tr.span("sources.vacuumCommitted")(Lake.vacuumCommitted(spark, root))
  }

  def warmUp(): Unit = (0 until 5).foreach(_ => batch())

  def op(i: Int): (Seq[Sample], Long, Boolean) = {
    val before = if (tr.isActive) treeBytes(new File(root).toPath) else 0L
    val (fresh, ms) = time(batch())
    val n = Gen.sources.toLong * Gen.window
    offered += n; appended += fresh
    if (tr.isActive) batchBytes :+= treeBytes(new File(root).toPath) - before
    val maint =
      if ((i + 1) % maintEvery != 0) Nil
      else {
        val live = Lake.resolve(spark, root).toSet
        val (_, mms) = time(maintain())
        if (tr.isActive) rewritten :+= (Lake.resolve(spark, root).toSet -- live).toSeq
          .map(d => treeBytes(new File(new java.net.URI(d).getPath).toPath)).sum
        Seq(Sample("maint", mms))
      }
    (Sample(primary, ms) +: maint, n, fresh == Gen.sources.toLong * Gen.freshPerPoll)
  }

  private var spaceAmp = 0.0
  private var liveDirs = 0

  def check(): Seq[String] = {
    liveDirs = Lake.resolve(spark, root).size
    maintain()
    val rows = Lake.readCommitted(spark, root).collect().toSeq
    val keys = rows.map(r => (r.getAs[Long]("id_source"), r.getAs[Long]("id_date"),
      r.getAs[String]("title")))
    val want = Gen.expectedKeys(seed, preload, cycles)
    spaceAmp = treeBytes(new File(root).toPath).toDouble / fieldBytes(rows)
    val dupes = keys.size - keys.distinct.size
    val missing = (want -- keys).size
    val extra = (keys.toSet -- want).size
    if (dupes + missing + extra == 0) Nil
    else Seq(s"ingest: $dupes duplicate, $missing missing, $extra unexpected natural keys")
  }

  def counters(spans: Map[String, Map[String, Double]]): Map[String, Double] = {
    val rootPath = new File(root).toPath
    val meta = Files.list(rootPath)
    val manifestBytes =
      try meta.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally meta.close()
    Map(
      "ingest.fresh_ratio" -> appended.toDouble / math.max(1L, offered),
      "sources.space_amp" -> spaceAmp,
      "sources.live_dirs" -> liveDirs.toDouble,
      "sources.manifest_bytes" -> manifestBytes.toDouble,
      "sources.bytes_written_per_batch" -> mean(batchBytes),
      "sources.bytes_rewritten" -> mean(rewritten))
  }

  private def mean(xs: Seq[Long]) = if (xs.isEmpty) 0.0 else xs.sum.toDouble / xs.size
}

/** `lake_query`: a seeded stream of selective `id_date` lookups that
  * manifest stats can prune (three of every four operations) and full
  * scan / aggregate / dimension-join queries that they cannot, over a
  * table built from many small appends. */
final class LakeQuery(spark: SparkSession, tr: Tracer, seed: Long) extends Workload {
  import spark.implicits._
  val primary = "query"
  override val overheadKind = "lookup"
  val appends = 12
  val perSource = 400
  private var root, copy: String = _
  private var lookups: IndexedSeq[Gen.Lookup] = _
  private var scans: IndexedSeq[Gen.Scan] = _
  private val answers = collection.mutable.HashMap.empty[Gen.Query, Seq[String]]
  private var mismatches = 0
  private var returnedRows, lookupCount = 0.0
  private val sourceDim = (1 to Gen.sources).map(s => (s.toLong, s"source-$s"))
    .toDF("id_source", "source_name")

  def setup(dir: File): Unit = {
    root = new File(dir, "lake").getAbsolutePath
    copy = new File(dir, "copy").getAbsolutePath
    val arts = (for (s <- 1 to Gen.sources; j <- 0 until perSource)
      yield Gen.article(seed, s, j)).sortBy(_.epochSec)
    val topic = Gen.topicWords.toMap
    val rows = arts.map(a => (topic(a.title.takeWhile(_ != ' ')), a.source.toLong,
      a.key._2, a.title, a.link, a.description, a.media.map(_._2).orNull))
    val cols = Newsmaper.newsColumns
    rows.grouped(math.ceil(rows.size.toDouble / appends).toInt).zipWithIndex.foreach {
      case (chunk, k) =>
        val df = chunk.toDF(cols: _*)
        if (k == 0) Lake.commitAppend(df, root, statsCols = Seq("id_date"))
        else Lake.commitAppend(df, root)
    }
    rows.toDF(cols: _*).write.parquet(copy)
    val (l, sc) = Gen.queries(seed, rows.map(_._3).max, 6)
    lookups = l; scans = sc
    answers.clear(); mismatches = 0
  }

  private def answer(q: Gen.Query, lake: Boolean): Seq[String] = {
    def base = if (lake) Lake.readCommitted(spark, root) else spark.read.parquet(copy)
    val df = q match {
      case Gen.Lookup(lo, hi) =>
        val p = col("id_date").between(lo, hi)
        (if (lake) Lake.readCommittedWhere(spark, root, p) else base.where(p))
          .select("id_source", "id_date", "title")
      case Gen.Scan(0, _) =>
        base.groupBy("id_country").agg(count(lit(1)), sum(length(col("description"))))
      case Gen.Scan(1, _) =>
        base.join(sourceDim, "id_source").groupBy("source_name")
          .agg(count(lit(1)), max("id_date"), countDistinct("id_country"))
      case Gen.Scan(_, arg) =>
        val w = Gen.vocab((arg % Gen.vocab.size).toInt)
        base.where(col("description").contains(w)).groupBy("id_source")
          .agg(count(lit(1)), min("title"))
    }
    df.collect().map(_.mkString("|")).toSeq.sorted
  }

  /** Stream position `i`: a seeded lookup at three of four positions,
    * the scans in turn at the fourth. */
  private def pick(i: Int): Gen.Query =
    if (i % 4 == 3) scans((i / 4) % scans.size)
    else lookups(Gen.rng(seed, 1000L + i).nextInt(lookups.size))

  private def run(i: Int): (Gen.Query, Seq[String]) = {
    val q = pick(i)
    val span = q match {
      case _: Gen.Lookup => "sources.readCommittedWhere"
      case _ => "sources.readCommitted"
    }
    val a = tr.span(s"lake_query.${q.name}")(tr.span(span)(answer(q, lake = true)))
    (q, a)
  }

  def warmUp(): Unit = (0 until 60).foreach(run)

  def op(i: Int): (Seq[Sample], Long, Boolean) = {
    val ((q, a), ms) = time(run(i))
    val ok = answers.getOrElseUpdate(q, a) == a
    if (!ok) mismatches += 1
    if (q.isInstanceOf[Gen.Lookup]) { returnedRows += a.size; lookupCount += 1 }
    (Seq(Sample(primary, ms), Sample(q.name, ms)), 1L, ok)
  }

  def check(): Seq[String] = {
    val wrong = answers.toSeq.count { case (q, a) => answer(q, lake = false) != a }
    if (wrong + mismatches == 0) Nil
    else Seq(s"lake_query: $wrong queries differ from the parquet copy, " +
      s"$mismatches answers changed between repeats")
  }

  /** `rows_scanned_per_row`: rows a traced lookup read, per row a
    * lookup returned. */
  def counters(spans: Map[String, Map[String, Double]]): Map[String, Double] = {
    val read = spans.get("sources.readCommittedWhere").map(_("input_rows")).getOrElse(0.0)
    Map(
      "sources.live_dirs" -> Lake.resolve(spark, root).size.toDouble,
      "sources.rows_scanned_per_row" ->
        (if (returnedRows > 0) read / (returnedRows / lookupCount) else 0.0))
  }
}

/** `corpus`: repeated curation passes over generated documents and
  * embeddings with injected exact and near duplicates. Each step ends
  * in its own noop action. Never touches the lake: the control for the
  * lake workloads. */
final class Corpus(spark: SparkSession, tr: Tracer, seed: Long) extends Workload {
  import spark.implicits._
  val primary = "pass"
  val nDocs = 5000
  val nVecs = 2000
  val annQueries = 200
  val k = 10
  /** Quality floors, set from seeded runs (recall 0.90-0.98, false
    * removals 0.0008-0.0040): near-dup recall over the injected pairs,
    * and the share of the base documents near dedup may remove without
    * an injected copy to explain it. A copy of a short document differs
    * from it in a large share of its shingles, so recall stays below 1. */
  val MinNearRecall = 0.85
  val MaxFalseShare = 0.01
  private var data: Gen.Corpus = _
  private var docs, vecs: DataFrame = _
  private var truth: Map[Long, Set[Long]] = Map.empty
  private val dict = Gen.topicWords.map { case (w, l) => (w, f"$l%03d") }.toDF("word", "label")
  private var results: Map[String, Seq[Row]] = Map.empty

  def setup(dir: File): Unit = {
    data = Gen.corpus(seed, nDocs, nVecs)
    val d = new File(dir, "corpus").getAbsolutePath
    data.docs.toDF("doc_id", "text").write.parquet(s"$d/documents")
    data.vecs.map { case (i, v) => (i, v.toSeq) }.toDF("vec_id", "embedding")
      .write.parquet(s"$d/embeddings")
    docs = spark.read.parquet(s"$d/documents")
    vecs = spark.read.parquet(s"$d/embeddings")
    val qs = vecs.where(col("vec_id") % (nVecs / annQueries) === 0)
    truth = Similarity.bruteForceTopK(vecs, qs, "vec_id", "embedding", k)
      .select("query_id", "neighbor_id").collect().toSeq
      .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
  }

  private def steps: Seq[(String, () => DataFrame)] = Seq(
    "quality" -> (() => TextAnalysis.quality(docs, "doc_id", "text")),
    "exact" -> (() => Dedup.exact(docs, "doc_id", "text")),
    // 15-character shingles: on a 31-word vocabulary the default 5-character
    // shingles give random document pairs a Jaccard of ~0.17, enough for
    // 4 bands of 3 rows to link ~90% of the corpus into one cluster
    "nearDedupCorpus" -> (() => Dedup.nearDedupCorpus(docs, "doc_id", "text", shingleN = 15)),
    "byKeywords" -> (() => Classify.byKeywords(docs, "doc_id", "text", dict, "000")),
    "lshTopK" -> (() => Similarity.lshTopK(vecs, "vec_id", "embedding",
      dims = Gen.dims, planesPerBand = 8, k = k)))

  /** One pass; returns the steps whose row count differs from the
    * first pass's collected output. Each noop action counts its rows
    * through an observation, so the timed plans stay noop writes. */
  private def pass(): Seq[String] = tr.span("corpus.pass") {
    steps.flatMap { case (n, f) =>
      val o = Observation()
      tr.span(s"operators.$n")(noop(f().observe(o, count(lit(1)).as("rows"))))
      val rows = o.get("rows").asInstanceOf[Long]
      if (rows == results(n).size) None else Some(s"$n wrote $rows rows, not ${results(n).size}")
    }
  }

  /** The first pass collects every output for [[check]]. */
  def warmUp(): Unit =
    results = steps.map { case (n, f) => n -> f().collect().toSeq }.toMap

  def op(i: Int): (Seq[Sample], Long, Boolean) = {
    val (wrong, ms) = time(pass())
    wrong.foreach(w => System.err.println(s"[perfbench] corpus pass $i: $w"))
    (Seq(Sample(primary, ms)), data.docs.size.toLong, wrong.isEmpty)
  }

  private var nearRecall, annRecall, falseShare = 0.0

  def check(): Seq[String] = {
    val texts = data.docs.toMap
    def norm(t: String) = t.toLowerCase(java.util.Locale.ROOT).map(c => if (",;'".contains(c)) ' ' else c)
    val problems = Seq.newBuilder[String]

    val q = results("quality")
    if (q.size != texts.size || q.map(_.getAs[Long]("doc_id")).toSet != texts.keySet)
      problems += s"corpus: quality returned ${q.size} rows for ${texts.size} documents"

    val keep = results("exact").map(_.getAs[Long]("keep_id")).toSet
    val wantKeep = texts.toSeq.groupBy { case (_, t) => norm(t) }.values.map(_.map(_._1).min).toSet
    if (keep != wantKeep)
      problems += s"corpus: exact dedup kept ${keep.size} documents, a groupBy keeps ${wantKeep.size}"

    val survivors = results("nearDedupCorpus").map(_.getAs[Long]("doc_id")).toSet
    nearRecall = data.nearPairs.count { case (a, b) => !(survivors(a) && survivors(b)) }
      .toDouble / data.nearPairs.size
    // precision side: base documents removed that no injected copy explains
    val originals = (data.exactPairs ++ data.nearPairs).map(_._1).toSet
    falseShare = (0L until nDocs).count(id => !survivors(id) && !originals(id)).toDouble / nDocs

    val dictMap = Gen.topicWords.map { case (w, l) => w -> f"$l%03d" }.toMap
    val wantLabel = texts.map { case (id, t) =>
      val votes = norm(t).trim.split("\\s+").toSeq.flatMap(dictMap.get)
        .groupBy(identity).map { case (l, v) => (l, v.size) }
      id -> (if (votes.isEmpty) "000"
        else votes.toSeq.minBy { case (l, c) => (-c, l) }._1)
    }
    val labels = results("byKeywords").map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("label")).toMap
    val wrongLabels = wantLabel.count { case (id, l) => !labels.get(id).contains(l) }
    if (wrongLabels > 0) problems += s"corpus: $wrongLabels documents classified differently"

    val ann = results("lshTopK").groupBy(_.getAs[Long]("query_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
    annRecall = truth.toSeq.map { case (q, want) =>
      (ann.getOrElse(q, Set.empty) intersect want).size.toDouble / want.size
    }.sum / truth.size
    System.err.println(f"[perfbench] corpus: near-dup recall $nearRecall%.4f, " +
      f"false removals $falseShare%.4f, ANN recall@$k $annRecall%.4f")
    // quality floors: a speed-up may not trade away quality
    if (nearRecall < MinNearRecall)
      problems += f"corpus: near-dup recall $nearRecall%.3f below $MinNearRecall"
    if (falseShare > MaxFalseShare)
      problems += f"corpus: near dedup removed $falseShare%.4f of the base documents, above $MaxFalseShare"
    if (annRecall < 0.45) problems += f"corpus: ANN recall@$k $annRecall%.3f below 0.45"
    problems.result()
  }

  def counters(spans: Map[String, Map[String, Double]]): Map[String, Double] = Map(
    "corpus.neardup_recall" -> nearRecall,
    "corpus.neardup_false_share" -> falseShare,
    "corpus.ann_recall" -> annRecall)
}
