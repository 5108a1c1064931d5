package graft.perfbench

import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.Locale

/** Seeded input generator. Everything a workload hands the engine is
  * derived here from `seed` alone, so the same seed gives identical
  * inputs and another seed different ones (GenSpec checks both). */
object Gen {

  /** Calendar the generated pubDates fall in; `id_date` is the hour
    * index from `calStart`, as `Newsmaper.calendarDim` numbers it. */
  val calStart = "2025-01-01 00:00:00"
  val calEndExcl = "2025-07-01 00:00:00"
  val calStartEpoch: Long = Instant.parse("2025-01-01T00:00:00Z").getEpochSecond

  val sources: Int = 10
  /** Items each feed shows per poll; a poll re-delivers the rest. */
  val window: Int = 30
  /** Items each feed publishes between two polls. */
  val freshPerPoll: Int = 6
  /** Minutes between two items of one feed. */
  val itemStepMin: Int = 7

  /** Topic words the classifier dictionary votes on, with filler words
    * that match nothing. */
  val topicWords: Seq[(String, Long)] = Seq(
    "election" -> 2L, "senate" -> 2L, "minister" -> 2L, "vote" -> 2L,
    "match" -> 3L, "league" -> 3L, "goal" -> 3L, "coach" -> 3L,
    "market" -> 7L, "shares" -> 7L, "bank" -> 7L, "inflation" -> 7L,
    "storm" -> 44L, "flood" -> 44L, "climate" -> 44L,
    "film" -> 45L, "album" -> 45L, "festival" -> 45L)
  val filler: Seq[String] = Seq("the", "a", "of", "new", "report", "says",
    "after", "week", "city", "people", "year", "first", "plan", "local",
    "today", "over", "record", "high", "talks", "update")

  final case class Article(source: Int, seq: Int, title: String, link: String,
      description: String, pubDate: String, media: Option[(String, String)],
      epochSec: Long) {
    /** The natural key `Newsmaper.naturalKey` dedups on. */
    def key: (Long, Long, String) =
      (source.toLong, (epochSec - calStartEpoch) / 3600, title)
  }

  private def mix(a: Long, b: Long): Long = {
    var z = a * 0x9E3779B97F4A7C15L + b
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def rng(seed: Long, stream: Long): scala.util.Random =
    new scala.util.Random(mix(seed, stream))

  private val fmtNum = DateTimeFormatter.ofPattern("EEE, dd MMM yyyy HH:mm:ss Z", Locale.US)
  private val fmtName = DateTimeFormatter.ofPattern("EEE, dd MMM yyyy HH:mm:ss", Locale.US)
  private val fmtShort = DateTimeFormatter.ofPattern("EEE, dd MMM yy HH:mm:ss Z", Locale.US)
  private val offsets = Seq(0, 2, -5, 9)

  /** The three RFC-822 forms `Newsmaper.parsePubDate` accepts: numeric
    * offset, zone name, two-digit year. The instant is the same in all. */
  def rfc822(epochSec: Long, form: Int, offsetH: Int): String = {
    val i = Instant.ofEpochSecond(epochSec)
    form match {
      case 0 => fmtNum.format(i.atOffset(ZoneOffset.ofHours(offsetH)))
      case 1 => fmtName.format(i.atOffset(ZoneOffset.UTC)) + " GMT"
      case _ => fmtShort.format(i.atOffset(ZoneOffset.ofHours(offsetH)))
    }
  }

  /** Item `seq` of feed `source`: a pure function of (seed, source, seq),
    * so a re-delivered item is byte-identical to its first delivery. */
  def article(seed: Long, source: Int, seq: Int): Article = {
    val r = rng(seed, source.toLong * 1000003L + seq)
    val epoch = calStartEpoch + (seq.toLong * itemStepMin * 60) +
      source * 37L + r.nextInt(60)
    val topic = topicWords(r.nextInt(topicWords.size))._1
    def words(n: Int) = Seq.fill(n) {
      if (r.nextInt(4) == 0) topicWords(r.nextInt(topicWords.size))._1
      else filler(r.nextInt(filler.size))
    }
    val title = (Seq(topic) ++ words(5)).mkString(" ") + s" s$source-$seq"
    val desc = (words(18 + r.nextInt(20)) :+ topic).mkString(" ")
    val media = r.nextInt(3) match {
      case 0 => Some("content" -> s"https://cdn$source.example.org/$seq.jpg")
      case 1 => Some("enclosure" -> s"https://cdn$source.example.org/$seq.mp3")
      case _ => None
    }
    Article(source, seq, title, s"https://src$source.example.org/a/$seq", desc,
      rfc822(epoch, r.nextInt(3), offsets(r.nextInt(offsets.size))), media, epoch)
  }

  def feedXml(items: Seq[Article]): String = {
    val sb = new StringBuilder("<rss version=\"2.0\"><channel><title>feed</title>")
    items.foreach { a =>
      sb ++= "<item><title>" ++= a.title ++= "</title><link>" ++= a.link ++=
        "</link><description>" ++= a.description ++= "</description><pubDate>" ++=
        a.pubDate ++= "</pubDate>"
      a.media.foreach { case (tag, url) => sb ++= s"<$tag url=\"$url\"/>" }
      sb ++= "</item>"
    }
    (sb ++= "</channel></rss>").toString
  }

  /** Poll `cycle` of every feed after `preload` items each were loaded:
    * (id_source, xml) rows with the feed's last `window` items, of
    * which `freshPerPoll` are new since the previous poll. */
  def poll(seed: Long, preload: Int, cycle: Int): Seq[(Long, String)] =
    (1 to sources).map { s =>
      val head = preload + (cycle + 1) * freshPerPoll
      s.toLong -> feedXml((head - window until head).map(article(seed, s, _)))
    }

  /** Articles every feed published before the timed phase. */
  def preloadArticles(seed: Long, preload: Int): Seq[Article] =
    for (s <- 1 to sources; j <- 0 until preload) yield article(seed, s, j)

  /** Natural keys the table must hold after `cycles` polls. */
  def expectedKeys(seed: Long, preload: Int, cycles: Int): Set[(Long, Long, String)] =
    (for (s <- 1 to sources; j <- 0 until preload + cycles * freshPerPoll)
      yield article(seed, s, j).key).toSet

  // ---------------------------------------------------------- corpus

  final case class Corpus(
      docs: Seq[(Long, String)],
      /** (original, copy) pairs injected as exact duplicates */
      exactPairs: Seq[(Long, Long)],
      /** (original, copy) pairs injected as near duplicates */
      nearPairs: Seq[(Long, Long)],
      vecs: Seq[(Long, Array[Float])])

  val vocab: Seq[String] = (filler ++ topicWords.map(_._1)).distinct
  /** Corpus words: the classifier's topic words and the shortest
    * fillers, 31 in all, the vocabulary size of the sf0.1 `documents`. */
  val corpusVocab: IndexedSeq[String] =
    (topicWords.map(_._1) ++ filler.sortBy(_.length).take(13)).toIndexedSeq
  val dims = 64

  /** `nDocs` base documents plus injected exact and near copies, and
    * `nVecs` clustered unit vectors plus near-duplicate vectors. As in
    * the sf0.1 `documents`, a base document is 10 to 100 words drawn
    * uniformly from a 31-word vocabulary. */
  def corpus(seed: Long, nDocs: Int, nVecs: Int): Corpus = {
    val r = rng(seed, -1L)
    val base = (0 until nDocs).map { i =>
      i.toLong -> Seq.fill(10 + r.nextInt(91))(corpusVocab(r.nextInt(corpusVocab.size))).mkString(" ")
    }
    var next = nDocs.toLong
    val nInject = nDocs / 20
    val exact = (0 until nInject).map { _ =>
      val (id, t) = base(r.nextInt(nDocs))
      // the same text after normalization: only case or `;` for a space differs
      val v = if (r.nextBoolean()) t.toUpperCase(Locale.ROOT) else t.replace(' ', ';')
      next += 1; (id, next - 1, v)
    }
    val near = (0 until nInject).map { _ =>
      val (id, t) = base(r.nextInt(nDocs))
      val ws = t.split(' ')
      val k = r.nextInt(ws.length)
      ws(k) = corpusVocab((corpusVocab.indexOf(ws(k)) + 1) % corpusVocab.size)
      next += 1; (id, next - 1, ws.mkString(" "))
    }
    val docs = base ++ (exact ++ near).map { case (_, c, t) => c -> t }
    val centers = Array.fill(40)(unit(Array.fill(dims)(r.nextGaussian().toFloat)))
    val baseV = (0 until nVecs).map { i =>
      val c = centers(r.nextInt(centers.length))
      i.toLong -> unit(c.map(x => x + 0.06f * r.nextGaussian().toFloat))
    }
    val nearV = (0 until nVecs / 20).map { j =>
      val (_, v) = baseV(r.nextInt(nVecs))
      (nVecs + j).toLong -> unit(v.map(x => x + 0.02f * r.nextGaussian().toFloat))
    }
    def pairs(xs: Seq[(Long, Long, String)]) = xs.map { case (o, c, _) => (o, c) }
    Corpus(docs, pairs(exact), pairs(near), baseV ++ nearV)
  }

  private def unit(v: Array[Float]): Array[Float] = {
    val n = math.sqrt(v.map(x => x.toDouble * x).sum).toFloat
    v.map(_ / n)
  }

  // ------------------------------------------------------ lake_query

  /** A lake query: a selective `id_date` range lookup that manifest
    * stats can prune, or a full scan / aggregate / dimension join that
    * they cannot. */
  sealed trait Query { def name: String }
  final case class Lookup(lo: Long, hi: Long) extends Query { def name = "lookup" }
  final case class Scan(kind: Int, arg: Long) extends Query { def name = "scan" }
  val scanKinds = 3

  /** `n` lookups of three hours each and `n` scans cycling through the
    * scan kinds, so every seed runs the same mix. */
  def queries(seed: Long, maxHour: Long, n: Int): (IndexedSeq[Lookup], IndexedSeq[Scan]) = {
    val r = rng(seed, -2L)
    val lookups = IndexedSeq.fill(n) {
      val lo = (r.nextDouble() * (maxHour - 3)).toLong
      Lookup(lo, lo + 2)
    }
    (lookups, IndexedSeq.tabulate(n)(i => Scan(i % scanKinds, 2L + r.nextInt(20))))
  }
}
