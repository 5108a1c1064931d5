package graft

import org.apache.spark.sql.functions.{coalesce, col, concat, conv, lit, max, md5, size, substring, sum}
import graft.operators.TextAnalysis

class TextAnalysisSpec extends SparkSpec {
  import spark.implicits._

  test("quality metrics on a known document") {
    val docs = Seq((1L, "the cat sat on the mat.")).toDF("doc_id", "text")
    val r = TextAnalysis.quality(docs, "doc_id", "text").collect()(0)
    assert(r.getLong(1) === 23L) // n_chars
    assert(r.getLong(2) === 6L)  // n_words
    // mean word len = (3+3+3+2+3+4)/6 = 3.0 ("mat." keeps the dot)
    assert(r.getDouble(3) === 3.0)
    assert(r.getDouble(4) === 0.0435)  // 1 punct / 23 chars, half-up 4dp
    assert(r.getDouble(5) === 0.3333)  // 2×"the" / 6
    // score = min(6,100)/100·0.4 + 0.3 (3≤mwl≤10) + min(3·2/6,1)·0.3 = 0.624
    assert(r.getDouble(6) === 0.624)
  }

  test("corpusGate equals quality ⋈ byKeywords, including shared dict words") {
    // 'de' votes for BOTH fr and es (list overlap) — the quality sums
    // must still count it once
    val docs = Seq(
      (1L, "the cat sat on the mat."),
      (2L, "de la de un o."),        // overlap-heavy: every word in fr AND es
      (3L, ""),                      // token-less
      (4L, "zz qq xx"),              // no dict hits: default label
      (5L, null),                    // NULL text: no tokens, NULL n_chars
      (6L, " \t\n "),                // whitespace only
      (7L, "İL EST the\tLA")         // non-ASCII case mapping, tab split
    ).toDF("doc_id", "text")
    val dict = graft.queries.Text.langDict.toDF("word", "label")
    val gate = TextAnalysis.corpusGate(docs, "doc_id", "text", dict, "und")
    val expectQ = TextAnalysis.quality(docs, "doc_id", "text")
    val expectL = graft.operators.Classify.byKeywords(docs, "doc_id", "text", dict, "und")
    val expected = expectQ.join(expectL, "doc_id")
    assert(gate.columns.toSeq === expected.columns.toSeq)
    assert(rows(gate) === rows(expected))
  }

  test("quality and corpusGate plans: map-only, each kernel once per row") {
    import org.apache.spark.sql.catalyst.expressions.Expression
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate, LogicalPlan, RepartitionOperation}
    import org.apache.spark.sql.execution.exchange.Exchange
    import graft.plans.{KeywordVote, QualityStats}
    // a parquet scan: over a local relation the optimizer would fold the kernels away
    val dir = java.nio.file.Files.createTempDirectory("graft-quality").resolve("docs").toString
    Seq((1L, "de la de un o."), (2L, "the cat"), (3L, null)).toDF("doc_id", "text")
      .write.parquet(dir)
    val docs = spark.read.parquet(dir)
    val dict = graft.queries.Text.langDict.toDF("word", "label")
    def count(plan: LogicalPlan, p: Expression => Boolean): Int =
      plan.collect { case n => n.expressions.map(_.collect { case e if p(e) => e }.size).sum }.sum
    for (df <- Seq(TextAnalysis.quality(docs, "doc_id", "text"),
        TextAnalysis.corpusGate(docs, "doc_id", "text", dict, "und"))) {
      val plan = df.queryExecution.optimizedPlan
      assert(plan.collect {
        case n @ (_: Generate | _: Aggregate | _: RepartitionOperation) => n
      }.isEmpty, plan.toString)
      assert(count(plan, _.isInstanceOf[QualityStats]) === 1, plan.toString)
      val physical = df.queryExecution.executedPlan
      assert(planNodes(physical).collect { case e: Exchange => e }.isEmpty, physical.toString)
    }
    val gate = TextAnalysis.corpusGate(docs, "doc_id", "text", dict, "und").queryExecution.optimizedPlan
    assert(count(gate, _.isInstanceOf[KeywordVote]) === 1, gate.toString)
    // a filter on a metric is pushed below the kernel's projection with the
    // metric substituted in: one more kernel evaluation, not one per count
    val gated = TextAnalysis.quality(docs, "doc_id", "text")
      .where(col("quality_score") >= 0.5).queryExecution.optimizedPlan
    assert(count(gated, _.isInstanceOf[QualityStats]) <= 2, gated.toString)
  }

  test("chunkDocuments: overlap grid covers every token; short tail; empty docs drop") {
    val docs = Seq(
      (1L, "a b c d e f g h i j"),  // 10 tokens, chunk 4 stride 3 → starts 1,4,7
      (2L, "x y"),                  // shorter than one chunk → single short chunk
      (3L, "")                      // no tokens → no rows
    ).toDF("doc_id", "text")
    val out = TextAnalysis.chunkDocuments(docs, "doc_id", "text", 4, 3)
      .orderBy("doc_id", "chunk_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))
    assert(out.toSeq === Seq(
      (1L, 0L, 1L, 4L, "a b c d"),
      (1L, 1L, 4L, 4L, "d e f g"),
      (1L, 2L, 7L, 4L, "g h i j"),
      (2L, 0L, 1L, 2L, "x y")))
    // coverage invariant: the last chunk reaches the final token
    val last = out.filter(_._1 == 1L).map(t => t._3 + t._4 - 1).max
    assert(last === 10L)
  }

  test("unigramNll: repeated common tokens score lower NLL than rare ones") {
    val docs = Seq(
      (1L, "common common common common"),   // all high-frequency
      (2L, "common rare"),                   // half rare
      (3L, "")                               // no tokens: no row
    ).toDF("doc_id", "text")
    val out = TextAnalysis.unigramNll(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(3))).toMap
    assert(out.keySet === Set(1L, 2L))
    assert(out(1L)._1 === 4L && out(2L)._1 === 2L)
    // doc 1 is all 5/6-probability tokens; doc 2 carries a 1/6 token
    assert(out(1L)._2 < out(2L)._2)
    // micro-nat floor: ln(5/6)*1e6 ≈ -182322; doc1 mean = 182322/1e6
    assert(math.abs(out(1L)._2 - 0.182322) < 1e-6)
  }

  test("bigramNll: exact interpolated micro-nat score on a hand corpus") {
    // one doc "a b a b": cb(a,b)=2, cb(b,a)=1, cu(a)=2, cu(b)=1,
    // uni(a)=uni(b)=2, tot=4 → every transition p = 0.75·p_bi + 0.25·0.5
    val docs = Seq((1L, "a b a b")).toDF("doc_id", "text")
    val r = TextAnalysis.bigramNll(docs, "doc_id", "text").collect().head
    assert(r.getLong(1) === 3L) // n_transitions
    val pAB = 0.75 * (2.0 / 2.0) + 0.25 * (2.0 / 4.0) // a→b, twice
    val pBA = 0.75 * (1.0 / 1.0) + 0.25 * (2.0 / 4.0) // b→a, once
    val expected = -(2 * math.floor(math.log(pAB) * 1e6).toLong
      + math.floor(math.log(pBA) * 1e6).toLong)
    assert(r.getLong(2) === expected)
  }

  test("bigramNll: templated text scores lower than token soup; short docs emit no row") {
    val docs = Seq(
      (1L, "x y x y x y x y"),   // one repeated transition pattern
      (2L, "q w e r t u i o"),   // all-distinct transitions
      (3L, "solo"), (4L, "")     // < 2 tokens: no transitions, no row
    ).toDF("doc_id", "text")
    val out = TextAnalysis.bigramNll(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(3))).toMap
    assert(out.keySet === Set(1L, 2L))
    assert(out(1L)._1 === 7L && out(2L)._1 === 7L)
    assert(out(1L)._2 < out(2L)._2)
  }

  test("encodeTokens: positions are 1-based and dense, OOV encodes as unkId") {
    val docs = Seq((1L, "b a b"), (2L, "")).toDF("doc_id", "text")
    val vocab = Seq(("b", 1L)).toDF("token", "token_id") // 'a' is OOV
    val out = TextAnalysis.encodeTokens(docs, "doc_id", "text", vocab, unkId = -1L)
      .orderBy("doc_id", "pos")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
    assert(out.toSeq === Seq(
      (1L, 1L, "b", 1L), (1L, 2L, "a", -1L), (1L, 3L, "b", 1L)))
  }

  test("encodeTokens round-trips through the corpus-trained vocabulary (no OOV)") {
    val docs = Seq((1L, "x y x"), (2L, "y z")).toDF("doc_id", "text")
    val out = TextAnalysis.encodeTokens(docs, "doc_id", "text",
      TextAnalysis.vocabulary(docs, "text"))
    assert(out.where(col("token_id") === -1L).count() === 0)
    // decode: joining ids back to the vocab reproduces the tokens
    val decoded = out.join(
        TextAnalysis.vocabulary(docs, "text").select(col("token_id"),
          col("token").as("decoded")), "token_id")
      .where(col("token") =!= col("decoded"))
    assert(decoded.count() === 0)
  }

  test("capPerGroup keeps exactly the n smallest order values per group") {
    val df = (1L to 20L).map(i => (i, s"g${i % 2}")).toDF("id", "grp")
    val out = TextAnalysis.capPerGroup(df, "grp", "id", 3)
      .collect().map(r => (r.getString(1), r.getLong(0)))
    assert(out.groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap ===
      Map("g0" -> Seq(2L, 4L, 6L), "g1" -> Seq(1L, 3L, 5L)))
  }

  test("quality of empty text is all zeros (no div-by-zero)") {
    val r = TextAnalysis.quality(Seq((1L, "")).toDF("doc_id", "text"), "doc_id", "text")
      .collect()(0)
    assert((1 to 6).map(i => r.get(i)) === Seq(0L, 0L, 0.0, 0.0, 0.0, 0.0))
  }

  test("languageId votes by stopword overlap with 'und' fallback") {
    val docs = Seq(
      (1L, "the cat and the dog of it"),
      (2L, "le chat et la vie de la mer dans"),
      (3L, "zzz qqq www")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.languageId(docs, "doc_id", "text")
    assert(rows(out) === Set(Seq(1L, "en"), Seq(2L, "fr"), Seq(3L, "und")))
  }

  test("languageId ties break by lang asc (same order as the explode+argmax form)") {
    // "la" and "de" are in BOTH the fr and es stopword lists → 2-2 tie;
    // lang asc picks "es". (The pre-fix sort_array form picked "fr".)
    val docs = Seq((1L, "la de xyz")).toDF("doc_id", "text")
    assert(rows(TextAnalysis.languageId(docs, "doc_id", "text")) === Set(Seq(1L, "es")))
  }

  test("stripBoilerplate: cross-doc segments vanish, survivors keep order, emptied docs stay") {
    // seg=2, minDocFreq=2. "nav bar" opens docs 1 and 2 → boilerplate.
    // Doc 1's unique middle+tail survive IN ORDER; doc 3 is entirely
    // the shared segment → emptied but present; doc 4 repeats "nav
    // bar" twice in ONE doc — distinct-doc counting must not let a
    // within-doc repeat alone reach the threshold, but the cross-doc
    // hit still strips both copies; doc 5 is empty text.
    val docs = Seq(
      (1L, "nav bar unique one tail bit"),
      (2L, "nav bar other body"),
      (3L, "nav bar"),
      (4L, "nav bar nav bar solo pair"),
      (5L, "")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.stripBoilerplate(docs, "doc_id", "text",
        segTokens = 2, minDocFreq = 2)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq === Seq(
      (1L, 3L, 2L, "unique one tail bit"),
      (2L, 2L, 1L, "other body"),
      (3L, 1L, 0L, ""),
      (4L, 3L, 1L, "solo pair"),
      (5L, 0L, 0L, "")))
  }

  test("stripBoilerplate: within-doc repeats alone never cross the distinct-doc threshold") {
    val docs = Seq(
      (1L, "ad block ad block ad block"),
      (2L, "clean text here")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.stripBoilerplate(docs, "doc_id", "text",
        segTokens = 2, minDocFreq = 2)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
    // "ad block" appears 3× but only in ONE doc → kept everywhere
    assert(out.toSeq === Seq(
      (1L, 3L, "ad block ad block ad block"),
      (2L, 2L, "clean text here")))
  }

  test("sequencePack: contiguous shard-local token stream chopped at the budget") {
    val docs = Seq((1L, "a b c"), (2L, "d e"), (3L, "f g h i"), (9L, "j"))
      .toDF("doc_id", "text")
    // one shard → starts are the running sum in doc_id order: 0, 3, 5, 9
    // budget 4 → seq = start/4: 0, 0, 1, 2; offset = start%4: 0, 3, 1, 1
    val out = TextAnalysis.sequencePack(docs, "doc_id", "text", budget = 4, shards = 1)
    assert(rows(out) === Set(
      Seq(1L, 3L, 0, 0L, 0L), Seq(2L, 2L, 0, 0L, 3L),
      Seq(3L, 4L, 0, 1L, 1L), Seq(9L, 1L, 0, 2L, 1L)))
    // multi-shard: every doc keeps exactly one row, offsets stay in-budget
    val sharded = TextAnalysis.sequencePack(docs, "doc_id", "text", budget = 4, shards = 3)
    assert(sharded.count() === 4)
    assert(sharded.where(col("tok_offset") < 0 || col("tok_offset") >= 4).count() === 0)
  }

  test("topTokens and topNgrams rank by count then token") {
    val docs = Seq((1L, "b a a c b a"), (2L, "b c")).toDF("doc_id", "text")
    val toks = TextAnalysis.topTokens(docs, "text", 2).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(toks === Seq(("a", 3L), ("b", 3L)))
    val grams = TextAnalysis.topNgrams(docs, "text", 2, 1).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(grams === Seq(("b a", 2L))) // "b a" occurs twice in doc 1
  }

  test("vocabulary assigns dense ids by (count desc, token asc)") {
    val docs = Seq((1L, "b a a c b a"), (2L, "b c")).toDF("doc_id", "text")
    val out = TextAnalysis.vocabulary(docs, "text").orderBy("token_id").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out === Seq(("a", 3L, 1L), ("b", 3L, 2L), ("c", 2L, 3L)))
  }

  test("redactPii masks emails/phones/IPs and counts insertions") {
    val docs = Seq(
      (1L, "contact me at jane.doe@example.com or +1 (555) 123-4567 now"),
      (2L, "server at 10.0.0.1 and admin@test.org"),
      (3L, "nothing sensitive here")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.redactPii(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out(1L)._1 === "contact me at <EMAIL> or <PHONE> now")
    assert(out(1L)._2 === 2L)
    assert(out(2L)._1 === "server at <IP> and <EMAIL>")
    assert(out(2L)._2 === 2L)
    assert(out(3L) === ("nothing sensitive here", 0L))
  }

  test("repetitionRatio flags repeated-trigram documents; short docs get 0") {
    val docs = Seq(
      (1L, "spam spam spam spam spam spam"),  // 4 trigrams, all identical
      (2L, "a fresh set of distinct words"),  // 4 trigrams, all unique
      (3L, "too short")                       // < 3 tokens -> no ngrams
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionRatio(docs, "doc_id", "text", 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(out(1L) === ((4L, 4L, 1.0)))
    assert(out(2L) === ((1L, 4L, 0.25)))
    assert(out(3L) === ((0L, 0L, 0.0)))
  }

  test("mixCorpus samples each source at its weight; unknown sources kept fully") {
    val docs = (1L to 300L).map(i => (i, s"s${i % 3}", s"d$i")).toDF("doc_id", "source", "text")
    val weights = Seq(("s0", 100L), ("s1", 0L)).toDF("source", "pct")
    val out = TextAnalysis.mixCorpus(docs, "doc_id", "source", weights)
    val bySrc = out.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySrc("s0") === 100L)          // weight 100 -> all kept
    assert(!bySrc.contains("s1"))         // weight 0 -> none kept
    assert(bySrc("s2") === 100L)          // absent from weights -> all kept
    assert(rows(out) === rows(TextAnalysis.mixCorpus(docs, "doc_id", "source", weights)))
  }

  test("tokenBudgetMix: two-phase prefix sum equals the naive per-source running sum") {
    // enough docs that the 64 priority buckets are populated unevenly
    val docs = (1L to 400L).map(i => (i, s"s${i % 3}", ("w " * (i % 7 + 1).toInt).trim))
      .toDF("doc_id", "source", "text")
    val out = TextAnalysis.tokenBudgetMix(docs, "doc_id", "source", "text", 100L)
    // naive reference: one window per source (fine at test scale)
    val pri = conv(substring(md5(concat(col("doc_id").cast("string"), lit(":budget"))), 1, 8), 16, 10).cast("long")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(pri, col("doc_id"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    val naive = docs
      .select(col("doc_id"), col("source"),
        coalesce(size(graft.functions.TextFns.tokens(
          graft.functions.TextFns.normalize(col("text")))), lit(0)).cast("long").as("n_tokens"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .where(col("cum_tokens") <= 100L)
    assert(rows(out) === rows(naive))
    // every source lands within one document of the budget: the next
    // prioritized doc would overflow it
    val maxCum = out.groupBy("source").agg(max("cum_tokens").as("m")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    maxCum.values.foreach(m => assert(m <= 100L))
    assert(maxCum.nonEmpty)
    // NULL text counts zero tokens and cannot block the budget walk
    val withNull = docs.union(Seq((999L, "s0", null.asInstanceOf[String]))
      .toDF("doc_id", "source", "text"))
    val outNull = TextAnalysis.tokenBudgetMix(withNull, "doc_id", "source", "text", 100L)
    assert(outNull.where(col("doc_id") === 999L).count() <= 1)
    assert(outNull.count() >= out.count())
  }

  test("rebalanceStrata: minority stratum kept whole, majority cut to its derived rate, deterministic") {
    val docs = ((1L to 400L).map(i => (i, "big")) ++ (401L to 440L).map(i => (i, "small")))
      .toDF("doc_id", "stratum")
    val out = TextAnalysis.rebalanceStrata(docs, "doc_id", "stratum")
    val again = TextAnalysis.rebalanceStrata(docs, "doc_id", "stratum")
    assert(rows(out) === rows(again)) // reproducible
    val by = out.groupBy("stratum").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // min stratum rate = (40*10000) div 40 = 10000 -> every bucket < 10000 kept
    assert(by("small") === 40L)
    // majority rate = (40*10000) div 400 = 1000 permyriad; the kept set
    // is exactly the rows whose ':bal'-salted bucket < 1000
    val expectBig = docs.where(col("stratum") === "big")
      .where(conv(substring(md5(concat(col("doc_id").cast("string"), lit(":bal"))), 1, 8), 16, 10)
        .cast("long") % 10000 < 1000)
      .count()
    assert(by("big") === expectBig)
    assert(by("big") < 100L, s"400-row stratum should land near 40, got ${by("big")}")
  }

  test("hashSplit: deterministic, total, and respects cut thresholds") {
    val docs = (1L to 200L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val out = TextAnalysis.hashSplit(docs, "doc_id")
    val again = TextAnalysis.hashSplit(docs, "doc_id")
    assert(rows(out) === rows(again)) // reproducible
    val bydoc = out.collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
    assert(bydoc.forall { case (_, b, s) =>
      (b < 80 && s == "train") || (b >= 80 && b < 90 && s == "valid") || (b >= 90 && s == "test")
    })
    val splits = out.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(splits.values.sum === 200L)
    assert(splits("train") > splits.getOrElse("valid", 0L)) // rough proportions hold
  }

  test("weightedSample: exactly k, deterministic, dominant weight always included") {
    val docs = (1L to 500L).map(i =>
      (i, if (i == 137L) 1.0e9 else 1.0)).toDF("doc_id", "len")
    val out = TextAnalysis.weightedSample(docs, "doc_id", col("len"), k = 20)
    assert(out.count() === 20)
    assert(rows(out) === rows(
      TextAnalysis.weightedSample(docs, "doc_id", col("len"), k = 20)))
    // A-ES key is ln(u)/w: the 1e9-weight doc's key is ~0 while unit
    // weights land around ln(u) ≈ -1, so the dominant doc must be in
    // any top-20 — the weighting property as a hard assertion
    assert(out.where(col("doc_id") === 137L).count() === 1)
    // ...and a different salt draws a different unit-weight cohort
    val other = TextAnalysis.weightedSample(docs, "doc_id", col("len"), 20, salt = "b")
    assert(rows(out.select("doc_id")) !== rows(other.select("doc_id")))
    // bounded-state shape: partition-local top-k, no global sort (the
    // limit must be real — k < input rows — or EliminateLimits folds it)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(1500))
  }

  test("weightedSample: non-positive weights excluded; k must be positive") {
    val docs = Seq((1L, 5.0), (2L, 0.0), (3L, -2.0), (4L, 1.0))
      .toDF("doc_id", "len")
    val out = TextAnalysis.weightedSample(docs, "doc_id", col("len"), k = 10)
    assert(out.select("doc_id").collect().map(_.getLong(0)).toSet === Set(1L, 4L))
    intercept[IllegalArgumentException] {
      TextAnalysis.weightedSample(docs, "doc_id", col("len"), k = 0)
    }
  }

  test("bpeMerges: most-frequent pair first, one-pass merge semantics, deterministic ties") {
    import spark.implicits._
    // "aa" x3 + "ab" x1: pair (a,a) weight 3 beats (a,b) weight 1
    val docs = Seq((1L, "aa aa"), (2L, "aa ab")).toDF("doc_id", "text")
    val merges = graft.operators.TextAnalysis.bpeMerges(docs, "text", 2)
    assert(merges.head === ("a", "a"))
    // Sennrich one-pass semantics: "aaaa" + merge (a,a) → (aa)(aa),
    // NOT (aa)(a)(a) — the wrapped-literal replace must consume
    // disjoint occurrences left-to-right
    val enc = graft.operators.TextAnalysis.bpeEncode(
      Seq((1L, "aaaa")).toDF("doc_id", "text"), "doc_id", "text",
      Seq(("a", "a")))
    assert(enc.orderBy("piece_pos").collect().map(_.getString(4)).toSeq ===
      Seq("aa", "aa"))
    // boundary safety: merge (a,b) must not fire inside symbol "xa"+"b"
    // — sequence (x)(ab) vs (xa)(b) are different symbol streams
    val enc2 = graft.operators.TextAnalysis.bpeEncode(
      Seq((1L, "xab")).toDF("doc_id", "text"), "doc_id", "text",
      Seq(("x", "a")))
    // merge (x,a) applies: (x)(a)(b) → (xa)(b); a later (a,b) merge
    // must then find NO (a)(b) pair
    assert(enc2.orderBy("piece_pos").collect().map(_.getString(4)).toSeq ===
      Seq("xa", "b"))
    val enc3 = graft.operators.TextAnalysis.bpeEncode(
      Seq((1L, "xab")).toDF("doc_id", "text"), "doc_id", "text",
      Seq(("x", "a"), ("a", "b")))
    assert(enc3.orderBy("piece_pos").collect().map(_.getString(4)).toSeq ===
      Seq("xa", "b")) // the 'a' is inside (xa); (a,b) cannot apply
    // ordered merges compose: (a,b) then (ab,c)
    val enc4 = graft.operators.TextAnalysis.bpeEncode(
      Seq((1L, "abc")).toDF("doc_id", "text"), "doc_id", "text",
      Seq(("a", "b"), ("ab", "c")))
    assert(enc4.collect().map(_.getString(4)).toSeq === Seq("abc"))
    // lossless round-trip: each token's pieces, rejoined in piece_pos
    // order, are the token again — no merge chain loses characters
    val rt = graft.operators.TextAnalysis.bpeEncode(
      Seq((1L, "hello world abc aaa"), (2L, "aaaa bb")).toDF("doc_id", "text"),
      "doc_id", "text", Seq(("l", "l"), ("a", "a"), ("aa", "a"), ("b", "b")))
    val bad = rt.groupBy("doc_id", "pos", "token")
      .agg(org.apache.spark.sql.functions.array_join(
        org.apache.spark.sql.functions.transform(
          org.apache.spark.sql.functions.array_sort(
            org.apache.spark.sql.functions.collect_list(
              org.apache.spark.sql.functions.struct(
                org.apache.spark.sql.functions.col("piece_pos"),
                org.apache.spark.sql.functions.col("piece")))),
          x => x.getField("piece")), "").as("decoded"))
      .where(org.apache.spark.sql.functions.col("decoded") =!=
        org.apache.spark.sql.functions.col("token"))
    assert(bad.isEmpty)

    // non-alphabet tokens are excluded from training and encode
    val merges2 = graft.operators.TextAnalysis.bpeMerges(
      Seq((1L, "zz z-z zz")).toDF("doc_id", "text"), "text", 1)
    assert(merges2 === Seq(("z", "z"))) // "z-z" contributed no pairs
    val enc5 = graft.operators.TextAnalysis.bpeEncode(
      Seq((1L, "zz z-z")).toDF("doc_id", "text"), "doc_id", "text", merges2)
    assert(enc5.select("token").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("zz"))
  }

  test("bpeMerges: driver fast path is bit-identical to the distributed loop, at and across the collect bound") {
    import spark.implicits._
    // ties, re-created pairs, heavy repeats, shared substrings — the
    // shapes where an argmax tie-break or pass-semantics divergence
    // between the two trainers would surface
    val docs = Seq(
      (1L, "the theme thesis then there other ether"),
      (2L, "aaaa aaa aa a abab ababab banana bandana"),
      (3L, "mississippi missive promise possess"),
      (4L, "zz zz zz yy yy xx ing ring bring string"),
      (5L, "abc bcd cde def abcdef abcde aa the"))
      .toDF("doc_id", "text")
    // 12 merges: deep enough to cross several tie-breaks and a
    // re-created pair; the distributed loop chains one cached plan per
    // round, so spec-side round counts stay near the catalog's 10
    val local = graft.operators.TextAnalysis.bpeMerges(docs, "text", 12)
    val dist = graft.operators.TextAnalysis.bpeMerges(docs, "text", 12,
      localTypeLimit = 0)
    assert(local === dist)
    // the exact boundary: limit == type count collects, one less runs
    // distributed — results equal either way
    val nTypes = docs
      .select(org.apache.spark.sql.functions.explode(
        graft.functions.TextFns.tokens(graft.functions.TextFns.normalize(
          org.apache.spark.sql.functions.col("text")))).as("t"))
      .where(org.apache.spark.sql.functions.col("t").rlike("^[a-z0-9]+$"))
      .select("t").distinct().count().toInt
    val atBound = graft.operators.TextAnalysis.bpeMerges(docs, "text", 5,
      localTypeLimit = nTypes)
    val belowBound = graft.operators.TextAnalysis.bpeMerges(docs, "text", 5,
      localTypeLimit = nTypes - 1)
    assert(atBound === belowBound)
    assert(atBound === local.take(5))
    // dry-out parity: both trainers stop when no adjacent pair remains
    val tiny = Seq((1L, "ab ab")).toDF("doc_id", "text")
    assert(graft.operators.TextAnalysis.bpeMerges(tiny, "text", 10) ===
      Seq(("a", "b")))
    assert(graft.operators.TextAnalysis.bpeMerges(tiny, "text", 10,
      localTypeLimit = 0) === Seq(("a", "b")))
  }

  test("bpeEncode: sequential rank order is pinned — a later merge re-creating an earlier pair does not resurrect it") {
    import spark.implicits._
    // merges: rank 1 = (ab, c), rank 2 = (a, b). On "abc" the chain
    // applies rank 1 first (no 'ab' symbol yet — no-op), THEN rank 2
    // creates 'ab'. Rank 1's pair is now present, but the chain has
    // passed it: the result is [ab, c], NOT [abc]. (A trained list is
    // topologically ordered so this needs a hand-built list to hit.)
    val enc = graft.operators.TextAnalysis.bpeEncode(
      Seq((1L, "abc")).toDF("doc_id", "text"), "doc_id", "text",
      Seq(("ab", "c"), ("a", "b")))
    assert(enc.orderBy("piece_pos").collect().map(_.getString(4)).toSeq ===
      Seq("ab", "c"))
    // a DUPLICATE pair later in the list fires again when its pair is
    // re-created: [(bc,d), (b,c), (bc,d)] on "bcd" — rank 1 is a
    // no-op (no 'bc' symbol yet), rank 2 creates it, rank 3 (the
    // duplicate) then merges (bc)(d) → one piece "bcd"…
    val dup = graft.operators.TextAnalysis.bpeEncode(
      Seq((1L, "bcd")).toDF("doc_id", "text"), "doc_id", "text",
      Seq(("bc", "d"), ("b", "c"), ("bc", "d")))
    assert(dup.orderBy("piece_pos").collect().map(_.getString(4)).toSeq ===
      Seq("bcd"))
    // …while WITHOUT the duplicate the passed rank stays passed
    val nodup = graft.operators.TextAnalysis.bpeEncode(
      Seq((1L, "bcd")).toDF("doc_id", "text"), "doc_id", "text",
      Seq(("bc", "d"), ("b", "c")))
    assert(nodup.orderBy("piece_pos").collect().map(_.getString(4)).toSeq ===
      Seq("bc", "d"))
  }

  test("bpeEncode: plan size is O(1) in the merge count — a 2000-merge list analyzes and matches the 10-merge result") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val docs = (1L to 60L).map { i =>
      val words = Seq.fill(8)(Seq.fill(2 + rnd.nextInt(6))(
        ('a' + rnd.nextInt(4)).toChar).mkString)
      (i, words.mkString(" "))
    }.toDF("doc_id", "text")
    val trained = graft.operators.TextAnalysis.bpeMerges(docs, "text", 10)
    assert(trained.length === 10)
    // pad to 2000 with merges over symbols that can never occur
    // (alphabet here is a-d; 'z…' symbols never form), so the padded
    // list must produce the identical encoding — while being 200× the
    // size a nested-replace plan could not survive
    val padded = trained ++ (1 to 1990).map(i => (s"zz$i", s"zq$i"))
    val small = graft.operators.TextAnalysis.bpeEncode(
      docs, "doc_id", "text", trained)
    val big = graft.operators.TextAnalysis.bpeEncode(
      docs, "doc_id", "text", padded)
    // O(1) plan: identical node count regardless of merge count
    def nNodes(d: org.apache.spark.sql.DataFrame) =
      d.queryExecution.optimizedPlan.collect { case p => p }.length
    assert(nNodes(small) === nNodes(big))
    assert(rows(small) === rows(big))
    assert(small.count() > 0)

    // equivalence against the nested-literal-replace chain (the form
    // the DuckDB oracle replays): every distinct token's pieces from
    // the rank-compiled pass match the chain's, on the trained merges
    import org.apache.spark.sql.functions.{explode, expr, split, trim}
    val encSql = trained.foldLeft("regexp_replace(token, '(.)', '($1)')") {
      case (s, (a, b)) => s"replace($s, '($a)($b)', '($a$b)')"
    }
    val viaChain = docs
      .select(explode(graft.functions.TextFns.tokens(
        graft.functions.TextFns.normalize(col("text")))).as("token"))
      .where(col("token").rlike("^[a-z0-9]+$")).distinct()
      .withColumn("sym", split(trim(expr(encSql), "()"), "\\)\\("))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(viaChain.nonEmpty)
    val pairs = trained.toArray
    val ranks = graft.operators.TextAnalysis.compileRanks(pairs)
    viaChain.foreach { case (tok, expected) =>
      assert(graft.operators.TextAnalysis.applyMerges(tok, pairs, ranks)
        .toSeq === expected, s"token $tok diverged from the replace chain")
    }
  }

  test("segmentDedup: keep-first across docs, within-doc repeats dropped, all-lost doc survives") {
    // segTokens = 2 → segments are 2-token windows. Doc 1 owns
    // "a b" and "c d"; doc 2 repeats "a b" (cross-doc dup) plus its
    // own "e f"; doc 3 is entirely doc 1's content (loses everything);
    // doc 4 repeats a segment WITHIN itself; doc 5 is NULL text.
    val docs = Seq(
      (1L, "a b c d"),
      (2L, "a b e f"),
      (3L, "c d a b"),
      (4L, "g h g h"),
      (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val out = TextAnalysis.segmentDedup(docs, "doc_id", "text", segTokens = 2)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), if (r.isNullAt(3)) null else r.getString(3))).toMap
    assert(out(1L) === ((2L, 2L, "a b c d")))        // first owner keeps all
    assert(out(2L) === ((2L, 1L, "e f")))            // cross-doc dup removed
    assert(out(3L) === ((2L, 0L, null)))             // lost everything, row kept
    assert(out(4L) === ((2L, 1L, "g h")))            // within-doc repeat dropped
    assert(!out.contains(5L))                        // NULL text excluded
    // partial tail segment: 3 tokens → segments "x y" + "z"
    val tail = TextAnalysis.segmentDedup(
      Seq((9L, "x y z")).toDF("doc_id", "text"), "doc_id", "text", segTokens = 2)
      .collect().head
    assert(tail.getLong(1) === 2L && tail.getString(3) === "x y z")
    // deterministic on rerun
    val again = TextAnalysis.segmentDedup(docs, "doc_id", "text", segTokens = 2)
      .collect().map(_.toSeq).toSet
    assert(again === TextAnalysis.segmentDedup(docs, "doc_id", "text", segTokens = 2)
      .collect().map(_.toSeq).toSet)
  }
}
