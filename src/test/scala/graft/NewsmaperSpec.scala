package graft

import org.apache.spark.sql.functions._
import graft.newsmaper.Newsmaper

/** End-to-end pipeline test over a golden RSS fixture (FIXTURES.md §A1):
  * all three pubDate formats (/root/reference/dags/Transform.py:50-58),
  * media content/enclosure/absent fallback (Extract.py:21-24), country
  * tie-break + default (Transform.py:14,27-29), and the natural-key
  * dedup pair (Load.py:21-25). */
class NewsmaperSpec extends SparkSpec
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import spark.implicits._

  private val feedXml =
    """<?xml version="1.0" encoding="UTF-8"?>
      |<rss version="2.0"><channel>
      |  <title>fixture feed</title>
      |  <item>
      |    <title>guerre en ukraine pres de kiev</title>
      |    <link>http://ex.test/1</link>
      |    <description>offensive kiev</description>
      |    <pubDate>Tue, 12 Aug 2025 14:03:00 +0200</pubDate>
      |    <content url="http://img.test/1.jpg"/>
      |  </item>
      |  <item>
      |    <title>tie breaker guerre paris</title>
      |    <link>http://ex.test/2</link>
      |    <description>one keyword each</description>
      |    <pubDate>Tue, 12 Aug 2025 14:03:00 GMT</pubDate>
      |    <enclosure url="http://img.test/2.jpg"/>
      |  </item>
      |  <item>
      |    <title>no keywords at all</title>
      |    <link>http://ex.test/3</link>
      |    <description>plain text</description>
      |    <pubDate>Tue, 12 Aug 25 14:03:00 +0000</pubDate>
      |  </item>
      |  <item>
      |    <title>guerre en ukraine pres de kiev</title>
      |    <link>http://ex.test/dup</link>
      |    <description>duplicate natural key</description>
      |    <pubDate>Tue, 12 Aug 2025 14:30:00 +0200</pubDate>
      |  </item>
      |</channel></rss>""".stripMargin

  // the real references.json-shaped multiLine file (S5), not a Seq.toDF
  private lazy val references = graft.newsmaper.Setup.readReferencesJson(
    spark, getClass.getResource("/newsmaper/references.json").getPath)

  private lazy val feeds = Seq((1L, feedXml)).toDF("id_source", "xml")

  private lazy val dateDim =
    Newsmaper.calendarDim(spark, "2025-08-12 00:00:00", "2025-08-13 00:00:00")

  test("fetchFeeds: injected transport runs per source row; chain into extract (S2)") {
    val sources = graft.newsmaper.Setup.readSourcesCsv(
      spark, getClass.getResource("/newsmaper/sources.csv").getPath)
    val fixture = feedXml // serialized into the transport closure
    val fetched = Newsmaper.fetchFeeds(sources, url => fixture)
    assert(fetched.columns.toSeq === Seq("id_source", "xml"))
    assert(fetched.count() === 3)
    // full reference chain: sources dim -> fetch -> XML parse
    val articles = Newsmaper.extractFromXml(fetched)
    assert(articles.count() === 12) // 4 fixture items x 3 sources
    assert(articles.select("id_source").distinct().count() === 3)
  }

  test("extractFromXml parses items with media content/enclosure/NULL fallback") {
    val out = Newsmaper.extractFromXml(feeds).orderBy("link")
    assert(out.count() === 4)
    val media = out.select("link", "media").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(media("http://ex.test/1") === "http://img.test/1.jpg")  // content
    assert(media("http://ex.test/2") === "http://img.test/2.jpg")  // enclosure fallback
    assert(media("http://ex.test/3") === null)                     // real NULL, not 'null'
  }

  test("parsePubDate handles numeric-offset, tz-name, and 2-digit-year forms") {
    val parsed = Seq(
      "Tue, 12 Aug 2025 14:03:00 +0200",
      "Tue, 12 Aug 2025 14:03:00 GMT",
      "Tue, 12 Aug 25 14:03:00 +0000",
      "not a date"
    ).toDF("date").select(Newsmaper.parsePubDate(col("date")).as("ts")).collect()
    assert(parsed(0).getTimestamp(0).toInstant.toString === "2025-08-12T12:03:00Z")
    assert(parsed(1).getTimestamp(0).toInstant.toString === "2025-08-12T14:03:00Z")
    assert(parsed(2).getTimestamp(0).toInstant.toString === "2025-08-12T14:03:00Z")
    assert(parsed(3).isNullAt(0))
  }

  test("full pipeline: classification, calendar surrogate keys, final shape") {
    val out = Newsmaper.pipeline(feeds, dateDim, references)
    assert(out.columns.toSeq === Newsmaper.newsColumns)
    val byLink = out.collect().map(r => r.getAs[String]("link") -> r).toMap
    // majority vote: 2×"kiev" + guerre + ukraine → id 44
    assert(byLink("http://ex.test/1").getAs[Long]("id_country") === 44L)
    // tie (guerre=1 vote for 44, paris=1 vote for 1) → smallest id wins
    assert(byLink("http://ex.test/2").getAs[Long]("id_country") === 1L)
    // no keywords → default id 1 (Transform.py:14)
    assert(byLink("http://ex.test/3").getAs[Long]("id_country") === 1L)
    // calendar join: UTC hour 12 on 2025-08-12 → id = hour index 12
    assert(byLink("http://ex.test/1").getAs[Long]("id_date") === 12L)
    assert(byLink("http://ex.test/2").getAs[Long]("id_date") === 14L)
  }

  test("pipeline plan: the feed XML is parsed once and nothing shuffles") {
    import org.apache.spark.sql.execution.GenerateExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    val plan = Newsmaper.pipeline(feeds, dateDim, references).queryExecution.executedPlan
    // the other Generate is the calendar dim's posexplode
    val xmlParses = collect(plan) {
      case g: GenerateExec if g.generator.toString.contains("from_xml") => g
    }
    assert(xmlParses.size === 1, plan.toString)
    assert(collect(plan) { case e: ShuffleExchangeLike => e }.isEmpty, plan.toString)
  }

  test("load anti-joins on the natural key; re-load is a no-op (idempotence)") {
    val transformed = Newsmaper.pipeline(feeds, dateDim, references)
    val empty = transformed.limit(0)
    val first = Newsmaper.load(transformed, existing = empty)
    // items 1 and dup share (id_source, id_date=12, title) — both survive
    // load vs an empty base (dup is 14:30 +0200 → same UTC hour 12)
    assert(first.count() === 4)
    val second = Newsmaper.load(transformed, existing = first)
    assert(second.count() === 0)
  }

  test("maintenance keeps the lowest-id row per natural key (Main.py:28-47)") {
    val news = Seq(
      (1L, 44L, 1L, 12L, "t", "l1", "d", null.asInstanceOf[String]),
      (2L, 44L, 1L, 12L, "t", "l2", "d", null.asInstanceOf[String]),
      (3L, 44L, 1L, 13L, "t", "l3", "d", null.asInstanceOf[String])
    ).toDF("id", "id_country", "id_source", "id_date", "title", "link", "description", "media")
    val out = Newsmaper.maintenance(news)
    assert(rows(out.select("id")) === Set(Seq(1L), Seq(3L)))
  }

  test("maintainCommitted repairs a loadToCommitted table: one row per natural key") {
    import graft.sources.Lake
    val root = java.nio.file.Files.createTempDirectory("graft-k3-committed").resolve("t").toString
    val batch = Seq(
      (44L, 1L, 12L, "t1", "l1", "d1", null.asInstanceOf[String]),
      (44L, 1L, 13L, "t2", "l2", "d2", null.asInstanceOf[String])
    ).toDF(Newsmaper.newsColumns: _*)
    assert(Newsmaper.loadToCommitted(batch, root) === 2L)
    // inject a duplicate natural key loadToCommitted itself would refuse
    Lake.commitAppend(Seq(
      (44L, 1L, 12L, "t1", "l0", "d0", null.asInstanceOf[String])
    ).toDF(Newsmaper.newsColumns: _*), root)
    assert(Lake.readCommitted(spark, root).count() === 3L)
    Newsmaper.maintainCommitted(spark, root)
    val out = Lake.readCommitted(spark, root)
    assert(out.groupBy(Newsmaper.naturalKey.map(col): _*).count()
      .where(col("count") > 1).count() === 0)
    // the tie-break keeps the lowest link within the duplicated key
    assert(rows(out.select("title", "link")) === Set(Seq("t1", "l0"), Seq("t2", "l2")))
    // idempotent: a second repair keeps the same rows
    Newsmaper.maintainCommitted(spark, root)
    assert(rows(Lake.readCommitted(spark, root)) === rows(out))
  }
}
