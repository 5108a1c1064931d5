package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators._

/** Degenerate-input sweep: every family of operators must survive
  * (a) an EMPTY input table and (b) NULL text values without throwing —
  * at 100 TB a partition with zero rows or a scattering of NULL
  * documents is a certainty, and an operator that NPEs on one poisons
  * the whole job. */
class RobustnessSpec extends SparkSpec {
  import spark.implicits._

  private def emptyDocs: DataFrame =
    Seq.empty[(Long, String)].toDF("doc_id", "text")
  private def nullDocs: DataFrame =
    Seq((1L, null.asInstanceOf[String]), (2L, "real text here"), (3L, ""))
      .toDF("doc_id", "text")

  test("text/dedup operators run on an empty table (0 rows out, no throw)") {
    assert(TextAnalysis.quality(emptyDocs, "doc_id", "text").count() === 0)
    assert(TextAnalysis.languageId(emptyDocs, "doc_id", "text").count() === 0)
    assert(TextAnalysis.repetitionRatio(emptyDocs, "doc_id", "text").count() === 0)
    assert(TextAnalysis.redactPii(emptyDocs, "doc_id", "text").count() === 0)
    assert(TextAnalysis.hashSplit(emptyDocs, "doc_id").count() === 0)
    assert(TextAnalysis.shuffleShards(emptyDocs, "doc_id", 8).count() === 0)
    assert(TextAnalysis.sequencePack(emptyDocs, "doc_id", "text").count() === 0)
    assert(Dedup.exact(emptyDocs, "doc_id", "text").count() === 0)
    assert(Dedup.minhashLsh(emptyDocs, "doc_id", "text").count() === 0)
    assert(Dedup.simhashFingerprints(emptyDocs, "doc_id", "text").count() === 0)
    assert(Dedup.simhashHammingPairs(emptyDocs, "doc_id", "text").count() === 0)
    assert(Dedup.ngramJaccard(emptyDocs, "doc_id", "text").count() === 0)
    assert(Dedup.crossOverlap(emptyDocs, emptyDocs, "doc_id", "text").count() === 0)
    assert(Dedup.connectedComponents(
      Seq.empty[(Long, Long)].toDF("id_a", "id_b")).count() === 0)
    assert(Dedup.sharedPassagePairs(emptyDocs, "doc_id", "text").count() === 0)
    assert(Retrieval.tfidf(emptyDocs, "doc_id", "text", 3).count() === 0)
    assert(Retrieval.bm25(emptyDocs, "doc_id", "text", Seq("x"), 5).count() === 0)
    assert(TextAnalysis.rebalanceStrata(
      Seq.empty[(Long, String)].toDF("doc_id", "stratum"),
      "doc_id", "stratum").count() === 0)
    assert(TextAnalysis.chunkDocuments(emptyDocs, "doc_id", "text", 6, 3)
      .count() === 0)
    assert(TextAnalysis.corpusGate(emptyDocs, "doc_id", "text",
      Seq(("the", "en")).toDF("word", "label"), "und").count() === 0)
    assert(TextAnalysis.stripBoilerplate(emptyDocs, "doc_id", "text").count() === 0)
    assert(Dedup.nearDedupCorpus(emptyDocs, "doc_id", "text").count() === 0)
    assert(Dedup.decontaminate(emptyDocs, emptyDocs, "doc_id", "text").count() === 0)
    assert(TextAnalysis.unigramNll(emptyDocs, "doc_id", "text").count() === 0)
    assert(TextAnalysis.capPerGroup(emptyDocs, "text", "doc_id", 3).count() === 0)
    assert(TextAnalysis.encodeTokens(emptyDocs, "doc_id", "text",
      Seq(("x", 1L)).toDF("token", "token_id")).count() === 0)
  }

  test("similarity operators run on an empty embedding table") {
    val emptyEmb = Seq.empty[(Long, Array[Float], String)]
      .toDF("vec_id", "embedding", "label")
    assert(Similarity.bruteForceTopK(emptyEmb, emptyEmb, "vec_id", "embedding", 5)
      .count() === 0)
    assert(Similarity.cosinePairs(emptyEmb, "vec_id", "embedding", 0.5).count() === 0)
    assert(Similarity.bandedCosinePairs(emptyEmb, "vec_id", "embedding", 0.5,
      bands = 2, bitsPerBand = 2).count() === 0)
    assert(Similarity.quantizedTopK(emptyEmb, emptyEmb, "vec_id", "embedding", 5)
      .count() === 0)
    // kmeans has no seeds to collect on an empty corpus — must yield an
    // empty assignment (not an analysis error), and semanticDedup with it
    assert(Similarity.kmeans(emptyEmb, "vec_id", "embedding", k = 4, iters = 2)
      .count() === 0)
    assert(Similarity.semanticDedup(emptyEmb, "vec_id", "embedding",
      k = 4, iters = 2, threshold = 0.9).count() === 0)
  }

  test("connectedComponents: a pair with a NULL end links nothing, on both paths") {
    val pairs = Seq((Some(1L), Some(2L)), (None, Some(3L)), (Some(3L), Some(4L)))
      .toDF("id_a", "id_b")
    for (limit <- Seq(2000000L, 0L)) {
      val out = Dedup.connectedComponents(pairs, localEdgeLimit = limit)
        .collect().map(r => (r.get(0), r.get(1))).toSet
      assert(out === Set((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L)), s"localEdgeLimit=$limit")
    }
  }

  test("ranking operators survive empty, single-row, and all-tied input") {
    val empty = Seq.empty[(Long, String, Long)].toDF("id", "g", "score")
    assert(Ranking.rankByScore(empty, Seq.empty, "score", "id", "rank").count() === 0)
    assert(Ranking.rankByScore(empty, Seq("g"), "score", "id", "rank").count() === 0)
    assert(Ranking.quantileGate(empty, Seq.empty, "score", "id", 0.5).count() === 0)
    assert(Ranking.quantileGate(empty, Seq("g"), "score", "id", 0.5).count() === 0)
    val one = Seq((7L, "a", 3L)).toDF("id", "g", "score")
    assert(Ranking.rankByScore(one, Seq.empty, "score", "id", "rank")
      .select("rank").as[Long].head() === 1L)
    assert(Ranking.quantileGate(one, Seq("g"), "score", "id", 0.5).count() === 1)
    // every row the same score: one cell holds the whole input; ranks
    // still a permutation by the tie-break
    val tied = (1L to 20L).map(i => (i, "a", 5L)).toDF("id", "g", "score")
    val ranks = Ranking.rankByScore(tied, Seq.empty, "score", "id", "rank")
      .select("rank").as[Long].collect().sorted.toSeq
    assert(ranks === (1L to 20L))
  }

  test("text operators tolerate NULL and empty text (no throw, ids preserved)") {
    // NULL text must not crash; the NULL/empty rows degrade gracefully
    assert(TextAnalysis.quality(nullDocs, "doc_id", "text").count() === 3)
    assert(TextAnalysis.languageId(nullDocs, "doc_id", "text").count() === 3)
    assert(TextAnalysis.hashSplit(nullDocs, "doc_id").count() === 3)
    // NULL text packs as a 0-token doc — it still gets a stream position
    // (NULL n_tokens would poison the running sum of its whole shard)
    val packed = TextAnalysis.sequencePack(nullDocs, "doc_id", "text")
    assert(packed.count() === 3)
    assert(packed.where(col("n_tokens").isNull || col("seq_id").isNull ||
      col("tok_offset").isNull).count() === 0)
    // SimHash: NULL and empty text both fingerprint to 0, so contentless
    // docs pair with each other at distance 0 — "all empty docs are
    // duplicates", the behavior an empty-doc sweep wants; at scale a
    // large contentless cohort exceeds maxBandFreq and is capped out
    val pairs = Dedup.simhashHammingPairs(nullDocs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq === Seq((1L, 3L)))
    // shingle-based generators need >= n tokens: no candidates at all
    assert(Dedup.ngramJaccard(nullDocs, "doc_id", "text").count() === 0)
    // exact dedup: NULL text hashes to a NULL fingerprint group
    assert(Dedup.exact(nullDocs, "doc_id", "text").count() >= 2)
    // retrieval: NULL/empty docs simply contribute no terms (tf side)
    // and a 0 dl (stats side) — no throw, real doc still scored
    assert(Retrieval.tfidf(nullDocs, "doc_id", "text", 3).count() === 3)
    assert(Retrieval.bm25(nullDocs, "doc_id", "text", Seq("real"), 5)
      .select("doc_id").as[Long].collect().toSeq === Seq(2L))
    assert(Dedup.sharedPassagePairs(nullDocs, "doc_id", "text").count() === 0)
    // chunking: NULL/empty docs emit no chunks; the real doc still chunks
    val chunks = TextAnalysis.chunkDocuments(nullDocs, "doc_id", "text", 2, 1)
    assert(chunks.select("doc_id").distinct().as[Long].collect().toSeq === Seq(2L))
    // fused gate: every doc keeps a row, NULL text scores 0
    val gate = TextAnalysis.corpusGate(nullDocs, "doc_id", "text",
      Seq(("real", "en")).toDF("word", "label"), "und")
    assert(gate.count() === 3)
    assert(gate.where(col("doc_id") === 2L).select("label")
      .as[String].collect().toSeq === Seq("en"))
    // near-dedup: contentless docs generate no shingles, all survive
    assert(Dedup.nearDedupCorpus(nullDocs, "doc_id", "text").count() === 3)
    // NLL: only the token-bearing doc scores; NULL/empty emit no row
    assert(TextAnalysis.unigramNll(nullDocs, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSeq === Seq(2L))
    // encode: NULL/empty docs emit no positions, real doc fully encoded
    val enc = TextAnalysis.encodeTokens(nullDocs, "doc_id", "text",
      Seq(("real", 1L)).toDF("token", "token_id"))
    assert(enc.select("doc_id").distinct().as[Long].collect().toSeq === Seq(2L))
    // decontaminate vs an empty benchmark keeps everything
    assert(Dedup.decontaminate(nullDocs, emptyDocs, "doc_id", "text").count() === 3)
    // stratified rebalance: a NULL stratum is a real stratum — its
    // rows survive at their derived rate instead of silently vanishing
    val nullStrata = Seq((1L, "en"), (2L, "en"), (3L, "en"),
      (4L, null.asInstanceOf[String])).toDF("doc_id", "stratum")
    val rebal = TextAnalysis.rebalanceStrata(nullStrata, "doc_id", "stratum")
    assert(rebal.where(col("stratum").isNull).count() === 1)
    // importanceSample refuses a p/u collision instead of overwriting
    intercept[IllegalArgumentException] {
      TextAnalysis.importanceSample(
        Seq((1L, 0.5)).toDF("doc_id", "p"), "doc_id", lit(0.5))
    }
    // boilerplate strip: NULL/empty docs keep their row as 0-segment
    // docs; the real doc's segments are unique → untouched
    val stripped = TextAnalysis.stripBoilerplate(nullDocs, "doc_id", "text")
    assert(stripped.count() === 3)
    assert(stripped.where(col("doc_id") === 2L).select("clean_text")
      .as[String].collect().toSeq === Seq("real text here"))
    assert(stripped.where(col("doc_id") =!= 2L)
      .where(col("n_seg") =!= 0L || col("clean_text") =!= "").count() === 0)
  }

  test("funnel/decay/sample/rrf operators survive empty and degenerate input") {
    val emptyEv = Seq.empty[(Long, java.sql.Timestamp, Long, String, Double)]
      .toDF("user_id", "ts", "event_id", "event_type", "value")
    assert(Funnel.funnel(emptyEv, "user_id", "ts", "event_id", "event_type",
      Seq("view", "click")).count() === 0)
    // empty input: the broadcast reference date is NULL but no group
    // exists to evaluate it — zero rows, no throw
    assert(Funnel.timeDecayScore(emptyEv, "user_id", "ts", "value").count() === 0)
    // a user with NONE of the step types: row present, zero steps
    val noSteps = Seq((9L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"),
      1L, "error", 1.0)).toDF("user_id", "ts", "event_id", "event_type", "value")
    val r = Funnel.funnel(noSteps, "user_id", "ts", "event_id", "event_type",
      Seq("view", "click")).collect().head
    assert(r.getAs[Long]("steps_reached") === 0L)
    assert(TextAnalysis.importanceSample(emptyDocs, "doc_id", lit(0.5)).count() === 0)
    // weight 0 keeps nothing; weight >= 1 keeps everything
    assert(TextAnalysis.importanceSample(nullDocs, "doc_id", lit(0.0)).count() === 0)
    assert(TextAnalysis.importanceSample(nullDocs, "doc_id", lit(5.0)).count() === 3)
    val emptyRank = Seq.empty[(Long, Long)].toDF("doc_id", "rank")
    assert(Retrieval.rrfFuse(Seq("a" -> emptyRank, "b" -> emptyRank),
      "doc_id", "rank", k = 5).count() === 0)
    // bigram NLL: empty corpus and contentless docs degrade to no rows
    assert(TextAnalysis.bigramNll(emptyDocs, "doc_id", "text").count() === 0)
    assert(TextAnalysis.bigramNll(nullDocs, "doc_id", "text")
      .select("doc_id").as[Long].collect().toSeq === Seq(2L))
    // streaming funnel in batch mode over empty input: no rows, no throw
    import graft.streaming.Streams
    assert(Streams.statefulFunnel(
      Seq.empty[Streams.Event].toDS(), Seq("view", "click")).count() === 0)
  }

  test("kmeans survives k larger than the corpus (degenerate seed set)") {
    val tiny = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.kmeans(tiny, "vec_id", "embedding", k = 5, iters = 2)
    assert(out.count() === 2) // every vector assigned; extra seeds never exist
  }

  test("multimodal paths tolerate NULL payloads (schema allows them)") {
    val media = Multimodal.mediaFromDocuments(nullDocs, "doc_id", "text")
    // doc 1 has NULL text -> NULL payload; none of the three decode
    // paths may NPE the task on it
    val feats = Multimodal.extractFeatures(media).orderBy("media_id").collect()
    val decoded = Multimodal.decodePartitioned(media).orderBy("media_id").collect()
    assert(feats.length === 3 && decoded.length === 3)
    assert(feats(0).isNullAt(3) && decoded(0).isNullAt(3)) // content_md5 NULL
    val resized = Multimodal.resizePartitioned(media, 64, 64).collect()
    assert(resized.length === 3)
    assert(resized.exists(_.getAs[Array[Byte]]("payload") == null))
    // NULL payload yields zero frames; real payloads still sample
    val frames = Multimodal.frameSample(media).collect()
    assert(frames.nonEmpty && !frames.exists(_.getLong(0) == 1L))
    // audio: NULL text -> NULL payload -> NULL features; text bytes
    // are not a WAV -> byte_len present, decode columns NULL
    val audio = Multimodal.decodeAudioPartitioned(media).orderBy("media_id").collect()
    assert(audio.length === 3)
    assert(audio(0).isNullAt(audio(0).fieldIndex("byte_len")))
    assert(audio.drop(1).forall(r =>
      !r.isNullAt(r.fieldIndex("byte_len")) && r.isNullAt(r.fieldIndex("energy"))))
  }

  test("timeseries reshapes survive empty input and NULL timestamps") {
    import java.sql.Timestamp
    val emptyEv = Seq.empty[(Long, Timestamp)].toDF("user_id", "ts")
    assert(graft.operators.Timeseries.gapFillHourly(emptyEv, "user_id", "ts").count() === 0)
    assert(graft.operators.Timeseries.cohortRetention(emptyEv, "user_id", "ts").count() === 0)
    // a key whose every timestamp is NULL has no span — it vanishes
    // from the grid instead of exploding a null sequence; a key with a
    // mix anchors its span on the non-null hours only
    val nullTs = Seq(
      (1L, null.asInstanceOf[Timestamp]),
      (2L, Timestamp.valueOf("2024-01-01 10:00:00")),
      (2L, null.asInstanceOf[Timestamp])
    ).toDF("user_id", "ts")
    val grid = graft.operators.Timeseries.gapFillHourly(nullTs, "user_id", "ts")
    assert(grid.select("user_id").distinct().collect().map(_.getLong(0)).toSeq === Seq(2L))
    assert(grid.count() === 1)
    // ...and no phantom NULL-week cell for the valid cohort
    val cohorts = graft.operators.Timeseries.cohortRetention(nullTs, "user_id", "ts")
    assert(cohorts.collect().map(r => (r.getDate(0).toString, r.getInt(1), r.getLong(2)))
      .toSeq === Seq(("2024-01-01", 0, 1L)))
  }

  test("newRows against an empty base keeps the whole batch") {
    val batch = Seq((1L, "a"), (2L, "b")).toDF("id", "k")
    assert(Dedup.newRows(batch, batch.limit(0), Seq("k")).count() === 2)
  }

  test("newsmaper transform chain survives empty input and NULL description/media") {
    import graft.newsmaper.Newsmaper
    val dim = Newsmaper.calendarDim(spark, "2025-03-01 00:00:00", "2025-03-02 00:00:00")
    val refs = Seq((2L, "relational", Seq("join", "table")))
      .toDF("id", "name", "words")
    def chain(arts: DataFrame): DataFrame =
      Newsmaper.renameAndSelect(
        Newsmaper.findCountry(Newsmaper.explodeDate(arts, dim), refs))
    val cols = Seq("title", "link", "description", "date", "media", "id_source")
    val empty = Seq.empty[(String, String, String, String, String, Long)].toDF(cols: _*)
    assert(chain(empty).count() === 0)
    // NULL description and media must flow through classification (the
    // reference's 'null'-string media quirk arrives as real NULL) and
    // the key hash must not conflate them with empty strings
    val arts = Seq(
      ("join the table", "l1", null.asInstanceOf[String],
        "Sat, 01 Mar 2025 10:00:00 GMT", null.asInstanceOf[String], 1L),
      ("no keywords at all", "l2", "plain words",
        "01 Mar 25 11:00:00 +0000", "m", 2L)).toDF(cols: _*)
    val out = chain(arts).collect()
    assert(out.length === 2)
    val byLink = out.map(r => r.getAs[String]("link") -> r).toMap
    assert(byLink("l1").getAs[Long]("id_country") === 2L) // keyword vote
    assert(byLink("l2").getAs[Long]("id_country") === 1L) // default
    assert(byLink("l1").isNullAt(byLink("l1").fieldIndex("media")))
  }
}
