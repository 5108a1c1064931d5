package graft.newsmaper

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.{Classify, Dedup}

/** The reference pipeline, re-expressed as one lazy Catalyst plan.
  *
  * Reference flow (/root/reference/dags/Main.py:48-49):
  *   drop_duplicate >> load(renameAndSelect(findCountry(explodeDate(extract))))
  * with every stage a separate Celery worker and the DataFrame pickled
  * through XCom between them. Here extract→transform is a single
  * unexecuted plan; `load` is the one action (SURVEY.md §3.1).
  */
object Newsmaper {

  /** Article shape after extract — /root/reference/dags/Extract.py:19-26,
    * with the `'null'`-string media quirk (Extract.py:24) normalized to
    * a real NULL. */
  val articleSchema: StructType = StructType(Seq(
    StructField("title", StringType, nullable = false),
    StructField("link", StringType, nullable = false),
    StructField("description", StringType, nullable = false),
    StructField("date", StringType, nullable = false), // raw pubDate text
    StructField("media", StringType, nullable = true),
    StructField("id_source", LongType, nullable = false)))

  val sourcesSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType),
    StructField("website", StringType), StructField("rss", StringType)))

  val countriesSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType),
    StructField("capital", StringType)))

  /** Keyword dictionary — /root/reference/dags/files/references.json:
    * id BIGINT, name STRING, words ARRAY<STRING>. */
  val referencesSchema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType),
    StructField("words", ArrayType(StringType))))

  // ---------------------------------------------------------------- extract

  /** S2 — the per-source feed fetch (/root/reference/dags/Extract.py:10
    * `requests.get` over the collected sources dim). Distributed form:
    * `mapPartitions` over the (id, rss) rows with a transport applied
    * on the executors — fetch scales with the source count instead of
    * looping on the driver. The transport is injected because the
    * harness is zero-egress: production passes an HTTP client
    * (one per partition, reused across its rows); tests pass a fixture
    * lookup. Fetch failures surface as task failures (the reference
    * lets `requests.get` raise, Extract.py:10).
    * @return (id_source, xml) rows — the input shape of
    *   [[extractFromXml]] */
  def fetchFeeds(sources: DataFrame, transport: String => String): DataFrame = {
    val spark = sources.sparkSession
    import spark.implicits._
    sources
      .select(col("id").cast(LongType), col("rss").cast(StringType))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, url) => (id, transport(url)) })
      .toDF("id_source", "xml")
  }

  /** Parse raw RSS feed XML into articles (S3,
    * /root/reference/dags/Extract.py:11-27). The reference fetches over
    * HTTP per source row; the harness is zero-egress, so feeds arrive
    * as (id_source, xml) rows (from fixture files, or at scale from a
    * `binaryFile`/blob scan). xpath is evaluated per row on executors —
    * fetch+parse distributes with the data.
    *
    * media = <content url> with <enclosure url> fallback (Extract.py:21-24),
    * real NULL instead of the reference's 'null' string.
    */
  /** Schema of one parsed RSS feed document for `from_xml`: channel →
    * item[] with media as `<content url=…>` / `<enclosure url=…>`
    * attributes (attributePrefix default `_`). */
  private val feedSchema: StructType = StructType(Seq(
    StructField("channel", StructType(Seq(
      StructField("item", ArrayType(StructType(Seq(
        StructField("title", StringType),
        StructField("link", StringType),
        StructField("description", StringType),
        StructField("pubDate", StringType),
        StructField("content", StructType(Seq(StructField("_url", StringType)))),
        StructField("enclosure", StructType(Seq(StructField("_url", StringType)))))))))))))

  def extractFromXml(feeds: DataFrame): DataFrame =
    feeds
      .select(
        col("id_source").cast(LongType).as("id_source"),
        explode(from_xml(col("xml"), feedSchema).getField("channel").getField("item"))
          .as("item"))
      .select(
        col("item.title").as("title"),
        col("item.link").as("link"),
        col("item.description").as("description"),
        col("item.pubDate").as("date"),
        coalesce(col("item.content._url"), col("item.enclosure._url")).as("media"),
        col("id_source"))
      .where(col("title").isNotNull)

  // -------------------------------------------------------------- transform

  /** F1 — multi-format RFC-822 pubDate parse with fallbacks
    * (/root/reference/dags/Transform.py:50-58): numeric offset, tz-name,
    * then 2-digit-year forms. */
  def parsePubDate(c: Column): Column = {
    // Spark 3+'s CORRECTED parser rejects day-of-week fields in parse
    // patterns; RFC-822's "EEE, " prefix is redundant (the date fully
    // determines the weekday), so strip it before parsing.
    val t = regexp_replace(c, "^[A-Za-z]{3},\\s*", "")
    // try_to_timestamp: NULL on mismatch (ANSI-safe), so the coalesce
    // implements the reference's try/except fallback chain.
    coalesce(
      try_to_timestamp(t, lit("dd MMM yyyy HH:mm:ss Z")),
      try_to_timestamp(t, lit("dd MMM yyyy HH:mm:ss zzz")),
      try_to_timestamp(t, lit("dd MMM yy HH:mm:ss Z")))
  }

  /** F2 + J1 — decompose the timestamp (Transform.py:61-68) and join
    * the hour-grain calendar dim for the surrogate key
    * (Transform.py:36-47: N+1 point queries → one broadcast equi-join).
    * Inner join + count-preservation assert reproduces the reference's
    * raise-on-miss (Transform.py:44-46) semantic lazily:
    * rows with no calendar match get a NULL id_date from a left join
    * and are caught by the NOT NULL check in [[load]]. */
  def explodeDate(articles: DataFrame, dateDim: DataFrame): DataFrame = {
    val ts = parsePubDate(col("date"))
    val withParts = articles
      .withColumn("pub_ts", ts)
      .withColumn("year", year(col("pub_ts")))
      .withColumn("month", month(col("pub_ts")))
      .withColumn("day", dayofmonth(col("pub_ts")))
      .withColumn("hours", hour(col("pub_ts")))
    withParts.join(
      broadcast(dateDim.select(
        col("id").as("id_date"), col("hours"), col("day"), col("month"), col("year"))),
      Seq("hours", "day", "month", "year"), "left_outer")
  }

  /** Generated hour-grain calendar dimension replacing the reference's
    * never-populated `date` table (SURVEY.md §1.1): one row per hour in
    * [start, end), surrogate id = hour index (dense, reproducible).
    * sequence() is end-INCLUSIVE, so the endpoint is filtered out —
    * adjacent ranges seeded back-to-back (the composition the
    * half-open contract invites) must not emit the boundary hour twice
    * with two different surrogate ids (the equi-join in [[explodeDate]]
    * would fan matching articles out into permanent duplicate facts). */
  def calendarDim(spark: SparkSession, startIso: String, endIso: String): DataFrame = {
    spark.sql(
      s"""SELECT id,
         |  hour(h) AS hours, day(h) AS day, month(h) AS month, year(h) AS year
         |FROM (
         |  SELECT posexplode(sequence(
         |    timestamp'$startIso', timestamp'$endIso', interval 1 hour)) AS (id, h)
         |)
         |WHERE h < timestamp'$endIso'""".stripMargin)
  }

  /** A2/A3/J5 — country classification by keyword majority vote
    * (/root/reference/dags/Transform.py:14-33), one vote per article
    * row like the reference's `df.apply(axis=1)`: each row's label
    * comes from its own title and description through the shared
    * [[graft.operators.Classify.vote]] kernel, so duplicate articles
    * get identical labels without being grouped. Default id 1 =
    * France / unclassified (Transform.py:14). */
  def findCountry(articles: DataFrame, references: DataFrame): DataFrame = {
    val dict = references.select(
      explode(col("words")).as("word"),
      // zero-pad so lexicographic tie-break = numeric asc (the vote
      // orders labels as strings); 19 digits covers the full positive
      // Long range — lpad TRUNCATES longer inputs, which would corrupt
      // both the id round-trip and the tie order
      lpad(col("id").cast("string"), 19, "0").as("label"))
    val country = Classify.vote(concat_ws(" ", col("title"), col("description")), dict,
      default = "0" * 18 + "1") // id 1 (France) in the same 19-digit pad
    articles.withColumn("id_country", country.cast(LongType))
  }

  /** P1/P2 — final projection to the news-fact shape
    * (/root/reference/dags/Transform.py:9-10,86-89). */
  val newsColumns: Seq[String] =
    Seq("id_country", "id_source", "id_date", "title", "link", "description", "media")

  /** The fact's natural key (/root/reference/dags/Load.py:21-25) — the
    * ONE definition [[load]], [[loadTo]] and [[maintenance]] all share:
    * a key change edited in one place but not another would silently
    * dedup on a different key than the anti-join. */
  val naturalKey: Seq[String] = Seq("id_source", "id_date", "title")

  def renameAndSelect(df: DataFrame): DataFrame =
    df.select(newsColumns.map(col): _*)

  // ------------------------------------------------------------------- load

  /** J3 + K1 — anti-join against the existing fact on the natural key
    * (id_source, id_date, title) (/root/reference/dags/Load.py:21-25)
    * then append. Returns the rows that were appended.
    *
    * A NULL id_date (unparseable pubDate or calendar miss) fails the
    * job, matching the reference's raise-on-miss
    * (/root/reference/dags/Transform.py:44-46). Without this, NULL join
    * keys never match in the anti-join and the row would be re-appended
    * on every run. coalesce short-circuits, so the raise only fires on
    * an actual NULL. */
  /** The raise-on-miss date guard shared by [[load]] and [[loadTo]]. */
  private def guardDates(incoming: DataFrame): DataFrame =
    incoming.withColumn("id_date",
      coalesce(col("id_date"),
        raise_error(concat(lit("calendar miss (NULL id_date) for title="),
          col("title"))).cast(LongType)))

  def load(incoming: DataFrame, existing: DataFrame): DataFrame =
    Dedup.newRows(guardDates(incoming), existing, naturalKey)

  /** K1 — append sink (/root/reference/dags/Load.py:28
    * `to_sql(if_exists='append')`): parquet append in the harness; the
    * connector-faithful variant is `.format("jdbc")` with the same
    * mode. */
  def append(df: DataFrame, path: String): Unit =
    df.write.mode("append").parquet(path)

  /** [[load]] + K1 against an on-disk base: anti-join the incoming
    * batch on the natural key vs what's already at `path`, append only
    * the new rows, return how many were appended. Parquet file listing
    * snapshots at read time, so the anti-join scan never sees the files
    * the append writes. Calling this twice with the same batch appends
    * zero the second time (`load ∘ load ≡ load`). The batch is also
    * deduplicated WITHIN itself on the natural key (the reference
    * appends intra-batch duplicates, Load.py:21-28 — here "each key
    * once" holds for the batch too; the kept row per duplicated key is
    * arbitrary, like the reference's insert order). The appended count
    * is taken by caching and counting the fresh set — O(batch), not a
    * rescan of the whole base. */
  def loadTo(incoming: DataFrame, path: String): Long = {
    // read-or-empty + intra-batch dedup + anti-join live in ONE place
    // (Dedup.newRowsVsBase), shared with the streaming dedupAppendSink
    val fresh = Dedup.newRowsVsBase(guardDates(incoming), path, naturalKey).persist()
    try {
      val appended = fresh.count()
      append(fresh, path)
      appended
    } finally { fresh.unpersist(); () }
  }

  private val maintenanceTieBreak: Seq[String] = newsColumns.filterNot(naturalKey.contains)

  /** O2 — dedup-repair maintenance (/root/reference/dags/Main.py:28-47):
    * keep the lowest-id row per natural key; expressed as
    * retained-rows overwrite since parquet has no row DELETE. A table
    * without an `id` column (what [[loadToCommitted]] writes) keeps
    * instead the first row ordered by the fact's non-key columns
    * (id_country, link, description, media), each ascending with NULLs
    * first: every committed news table carries them, and rows tied on
    * all of them are identical, so the repaired table is the same
    * whichever copy survives. */
  def maintenance(news: DataFrame): DataFrame =
    if (news.columns.contains("id")) Dedup.keepFirst(news, naturalKey, "id")
    else Dedup.keepFirst(news, naturalKey, maintenanceTieBreak.head, maintenanceTieBreak.tail: _*)

  /** K3 — the reference's per-row DELETE repair
    * (/root/reference/dags/Main.py:44-47) as a retained-rows overwrite:
    * parquet has no row DELETE, so the kept set is written to a staging
    * dir and swapped in (writing in place would race the scan that
    * computes the kept set). On a lakehouse table this is MERGE/DELETE.
    *
    * The swap keeps the old table as `path + ".bak"` until the new one
    * is live, so no crash point loses data: a crash between the two
    * renames leaves `path` momentarily absent but both `.bak` (old) and
    * `.staging` (new) intact — recovery is renaming either back. This
    * form is for consumers that need a STABLE literal parquet path;
    * when readers can resolve through a table root instead, use
    * [[maintainCommitted]] / [[graft.sources.Lake.commitOverwrite]],
    * whose manifest commit has NO reader-visible gap at any crash
    * point (crash-swept in LakeSpec). */
  def overwriteRetained(retained: DataFrame, path: String): Unit = {
    val spark = retained.sparkSession
    val conf = spark.sparkContext.hadoopConfiguration
    val staging = path + ".staging"
    retained.write.mode("overwrite").parquet(staging)
    val fs = org.apache.hadoop.fs.FileSystem.get(new java.net.URI(path), conf)
    val dst = new org.apache.hadoop.fs.Path(path)
    val bak = new org.apache.hadoop.fs.Path(path + ".bak")
    fs.delete(bak, true)
    if (fs.exists(dst) && !fs.rename(dst, bak))
      throw new java.io.IOException(s"backup rename $path -> $bak failed")
    if (!fs.rename(new org.apache.hadoop.fs.Path(staging), dst))
      throw new java.io.IOException(s"rename $staging -> $path failed")
    fs.delete(bak, true)
    ()
  }

  /** K1 on a manifest-committed table root: [[loadTo]]'s
    * insert-if-absent semantics (intra-batch dedup on the natural key,
    * anti-join vs the live snapshot, append only the fresh rows) with
    * the append committed as a NEW SNAPSHOT —
    * [[graft.sources.Lake.commitAppend]] writes O(batch) data, never
    * rewrites the base, and readers flip atomically. Dedup, anti-join
    * and staging write run as one execution (on an unpartitioned table
    * without CHECK constraints, generated columns, identity or row
    * tracking; see [[graft.sources.Lake.appendAbsent]]): nothing is
    * cached, no separate count runs, and the appended count is the
    * staging write's own observed row count (which also becomes the
    * manifest's row count, so `count(*)` answers from metadata). A zero-fresh
    * batch commits nothing (no snapshot churn); `load ∘ load ≡ load`
    * holds like the path form. A plain-parquet table at `root` (a
    * [[loadTo]] target) is refused with the migration path. Returns
    * the appended row count. */
  def loadToCommitted(incoming: DataFrame, root: String): Long =
    graft.sources.Lake.appendAbsent(guardDates(incoming), naturalKey, root)

  /** K3 on a manifest-committed table root: the dedup repair
    * ([[maintenance]]) folded through [[graft.sources.Lake]]'s
    * marker-file commit — the window-free form of
    * `overwriteRetained(maintenance(read), path)`. Readers resolving
    * through `Lake.readCommitted(root)` see the old table up to the
    * atomic marker creation and the repaired one after; no crash
    * point leaves the root unreadable. Returns the committed
    * version. */
  def maintainCommitted(spark: org.apache.spark.sql.SparkSession, root: String): Long =
    graft.sources.Lake.commitOverwrite(
      maintenance(graft.sources.Lake.readCommitted(spark, root)), root)

  /** O1 — the full extract→transform plan (one Catalyst plan; the
    * caller appends via [[load]]). */
  def pipeline(
      feeds: DataFrame, dateDim: DataFrame, references: DataFrame): DataFrame =
    renameAndSelect(
      findCountry(
        explodeDate(extractFromXml(feeds), dateDim),
        references))
}
