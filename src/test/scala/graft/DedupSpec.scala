package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup
import graft.functions.TextFns

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private lazy val base = Seq(
    (1L, "s1", "t1"), (2L, "s1", "t1"), (3L, "s1", "t2"),
    (4L, "s2", "t1"), (5L, "s2", "t1"), (6L, "s2", "t1")
  ).toDF("id", "src", "title")

  test("keepFirst keeps the lowest order-col row per key group (Main.py:35-36)") {
    val out = Dedup.keepFirst(base, Seq("src", "title"), "id")
    assert(rows(out.select("id")) === Set(Seq(1L), Seq(3L), Seq(4L)))
  }

  test("keepFirst is idempotent") {
    val once = Dedup.keepFirst(base, Seq("src", "title"), "id")
    val twice = Dedup.keepFirst(once, Seq("src", "title"), "id")
    assert(rows(once) === rows(twice))
  }

  test("newRows is a left-anti join on the key columns (Load.py:8-9)") {
    val incoming = Seq((10L, "s1", "t1"), (11L, "s3", "t9")).toDF("id", "src", "title")
    val out = Dedup.newRows(incoming, base, Seq("src", "title"))
    assert(rows(out.select("id")) === Set(Seq(11L)))
  }

  test("anti-join and semi-join partition the incoming set") {
    val incoming = Seq((10L, "s1", "t1"), (11L, "s3", "t9"), (12L, "s2", "t1"))
      .toDF("id", "src", "title")
    val anti = Dedup.newRows(incoming, base, Seq("src", "title"))
    val semi = incoming.join(
      base.select("src", "title").distinct(), Seq("src", "title"), "left_semi")
    assert(anti.count() + semi.count() === incoming.count())
    assert(anti.select("id").intersect(semi.select("id")).count() === 0)
  }

  test("exact dedup groups normalization-equivalent texts, keeps min id") {
    val docs = Seq((5L, "Hello, World"), (2L, "hello  world"), (9L, "other"))
      .toDF("doc_id", "text")
    // "Hello, World" normalizes to "hello  world" (comma → space)
    val out = Dedup.exact(docs, "doc_id", "text")
    val m = out.collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(m === Map(2L -> 2L, 9L -> 1L))
  }

  test("minhashLsh: identical docs collide in all bands, disjoint docs in none") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "zzzz yyyy xxxx wwww vvvv uuuu tttt ssss rrrr")
    ).toDF("doc_id", "text")
    val out = Dedup.minhashLsh(docs, "doc_id", "text", shingleN = 5, numHashes = 12, bands = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out === Map((1L, 2L) -> 4L))
  }

  test("NULL text gets no signature row: NULL docs never pair and all survive") {
    val docs = Seq(
      (1L, null.asInstanceOf[String]),
      (2L, "a real document with words"),
      (3L, null.asInstanceOf[String]),
      (4L, ""),
      (5L, null.asInstanceOf[String]),
      // a repeated id bands as its non-NULL text alone
      (6L, null.asInstanceOf[String]),
      (6L, "another document entirely")
    ).toDF("doc_id", "text")
    val banded = Dedup.bandedSignatures(docs, "doc_id", "text")
    assert(banded.select("doc_id").distinct().as[Long].collect().sorted.toSeq ===
      Seq(2L, 4L, 6L))
    // the empty string keeps its single "" shingle: one row per band
    assert(banded.where(col("doc_id") === 4L).count() === 4)
    assert(rows(banded.where(col("doc_id") === 6L)) === rows(Dedup.bandedSignatures(
      Seq((6L, "another document entirely")).toDF("doc_id", "text"), "doc_id", "text")))
    assert(Dedup.minhashLsh(docs, "doc_id", "text").count() === 0)
    assert(Dedup.nearDedupCorpus(docs, "doc_id", "text").select("doc_id").as[Long]
      .collect().sorted.toSeq === Seq(1L, 2L, 3L, 4L, 5L, 6L, 6L))
  }

  test("bandedSignatures plan: no Generate below the signature aggregate") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Generate}
    val docs = Seq((1L, "the quick brown fox"), (2L, "jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val qe = Dedup.bandedSignatures(docs, "doc_id", "text").queryExecution
    val aggs = qe.optimizedPlan.collect { case a: Aggregate => a }
    assert(aggs.nonEmpty)
    aggs.foreach { a =>
      assert(a.child.collectFirst { case g: Generate => g }.isEmpty,
        s"a per-shingle explode feeds the signature aggregate:\n${qe.optimizedPlan}")
    }
  }

  test("nearDupsVsBase: cross pairs only — base-internal dups never reported") {
    val base = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"), // base-internal dup
      (3L, "zzzz yyyy xxxx wwww vvvv uuuu tttt ssss rrrr")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (10L, "the quick brown fox jumps over the lazy dog"), // dup of base 1 and 2
      (11L, "mmmm nnnn oooo pppp qqqq completely fresh")
    ).toDF("doc_id", "text")
    val out = Dedup.nearDupsVsBase(batch, base, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // batch doc 10 hits BOTH identical base docs in all 4 bands; the
    // base-internal (1,2) pair and the fresh batch doc appear nowhere
    assert(out === Map((10L, 1L) -> 4L, (10L, 2L) -> 4L))
    // consistency with the one-table pipeline: the cross pairs are a
    // subset of minhashLsh over the union (per-side caps not binding
    // at this size)
    val union = Dedup.minhashLsh(base.unionByName(batch), "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.keySet.map { case (n, b) => (math.min(n, b), math.max(n, b)) }
      .subsetOf(union))
  }

  test("ngramJaccard: identical docs score 1.0; near docs score in (0,1)") {
    val docs = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b c d e f g h"),
      (3L, "a b c d e f g X")
    ).toDF("doc_id", "text")
    val out = Dedup.ngramJaccard(docs, "doc_id", "text", shingleN = 3, threshold = 0.1)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(5)).toMap
    assert(out((1L, 2L)) === 1.0)
    assert(out((1L, 3L)) > 0 && out((1L, 3L)) < 1.0)
    assert(out((1L, 3L)) === out((2L, 3L)))
  }

  test("simhash: equal token arrays hash equal; hamming distance grows with difference") {
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val df = Seq(
      (1L, "spark streams shuffle partitions broadcast"),
      (2L, "spark streams shuffle partitions broadcast"),
      (3L, "spark streams shuffle partitions join"),
      (4L, "entirely unrelated words about gardening tulips")
    ).toDF("id", "text")
      .select(col("id"),
        Dedup.simhash(TextFns.tokens(TextFns.normalize(col("text"))), 32).as("h"))
    val m = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(m(1L) === m(2L))
    assert(ham(m(1L), m(3L)) < ham(m(1L), m(4L)))
  }

  test("simhashFingerprints (explode+agg) equals the column-level simhash") {
    val docs = Seq(
      (1L, "spark streams shuffle partitions broadcast"),
      (2L, "spark streams shuffle partitions join join join"),
      (3L, ""),   // empty token list must fingerprint to 0, not vanish
      (4L, "entirely unrelated words about gardening tulips")
    ).toDF("doc_id", "text")
    val viaAgg = Dedup.simhashFingerprints(docs, "doc_id", "text", 32)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaCol = docs.select(col("doc_id"),
        Dedup.simhash(TextFns.tokens(TextFns.normalize(col("text"))), 32).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaAgg === viaCol)
    assert(viaAgg(3L) === 0L)
  }

  test("crossOverlap finds corpus docs sharing enough shingles with the benchmark") {
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"),  // copies bench 1
      (11L, "totally different words nothing shared here at all")
    ).toDF("doc_id", "text")
    val bench = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta")
    ).toDF("doc_id", "text")
    val out = Dedup.crossOverlap(corpus, bench, "doc_id", "text",
        shingleN = 3, minCommon = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq === Seq((10L, 1L, 6L))) // 8 tokens -> 6 trigrams, all shared
  }

  test("nearDedupCorpus keeps the min-id member per near-dup cluster, schema unchanged") {
    val near = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (1L, near),                       // cluster {1,2,5}: identical text
      (2L, near),
      (5L, near),
      (3L, "completely unrelated words about gardening tulips and soil"),
      (4L, "")                          // no shingles: never a candidate, must survive
    ).toDF("doc_id", "text")
    val out = Dedup.nearDedupCorpus(docs, "doc_id", "text",
      shingleN = 5, numHashes = 12, bands = 4)
    assert(out.columns.toSeq === docs.columns.toSeq)
    val kept = out.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.contains(1L) && !kept.contains(2L) && !kept.contains(5L),
      s"cluster {1,2,5} must keep exactly its minimum id; kept=$kept")
    assert(kept.contains(3L) && kept.contains(4L))
  }

  test("nearDedupCorpus is idempotent: a cleaned corpus survives unchanged") {
    val near = "spark shuffles partitions across executors with broadcast joins"
    val docs = Seq(
      (1L, near), (2L, near),
      (3L, "other text entirely different from the duplicated pair here")
    ).toDF("doc_id", "text")
    val once = Dedup.nearDedupCorpus(docs, "doc_id", "text")
    val twice = Dedup.nearDedupCorpus(once, "doc_id", "text")
    assert(rows(once) === rows(twice))
  }

  test("decontaminate drops only the benchmark-overlapping corpus docs") {
    val corpus = Seq(
      (10L, "alpha beta gamma delta epsilon zeta eta theta"),  // copies bench
      (11L, "totally different words nothing shared here at all")
    ).toDF("doc_id", "text")
    val bench = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta")
    ).toDF("doc_id", "text")
    val out = Dedup.decontaminate(corpus, bench, "doc_id", "text",
      shingleN = 3, minCommon = 5)
    assert(out.columns.toSeq === corpus.columns.toSeq)
    assert(rows(out.select("doc_id")) === Set(Seq(11L)))
  }

  test("connectedComponents: transitive chains collapse to min-id clusters") {
    // 1-2, 2-3 chain and isolated 7-8 pair
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id_a", "id_b")
    val out = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))
  }

  test("connectedComponents: small maxIter converges on an already-settled graph (no false throw)") {
    // The seed labeling (min of self and neighbors) already solves a
    // single pair, so with the pre-loop probe seed even maxIter = 1
    // must detect convergence — the skip-2-rounds probe schedule alone
    // made every maxIter <= 3 call throw "not converged".
    // localEdgeLimit = 0 pins the distributed loop, whose probe
    // schedule is the thing under test.
    val pair = Seq((1L, 2L)).toDF("id_a", "id_b")
    for (it <- Seq(1, 2, 3)) {
      val out = Dedup.connectedComponents(pair, maxIter = it, localEdgeLimit = 0L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(out === Map(1L -> 1L, 2L -> 1L), s"maxIter=$it")
    }
  }

  test("connectedComponents: a 100-node chain converges (pointer jumping, not diameter-bound)") {
    val chain = (1L until 100L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    // distributed path pinned: the chain's pathological diameter is
    // exactly what pointer jumping must beat
    val out = Dedup.connectedComponents(chain, maxIter = 12, localEdgeLimit = 0L)
    assert(out.count() === 100)
    assert(out.select("cluster_id").distinct().collect().map(_.getLong(0)).toSeq === Seq(1L))
  }

  test("connectedComponents: driver fast path and distributed loop label identically") {
    // adversarial mix: long chain (deep union-find trees + many CC
    // rounds), star, triangle with a cross link, isolates-by-absence,
    // reversed and duplicated edges
    val edges = (1L until 60L).map(i => (i + 1, i)) ++ // reversed chain
      Seq((100L, 101L), (100L, 102L), (100L, 103L),    // star
          (200L, 201L), (201L, 202L), (202L, 200L),    // triangle
          (202L, 103L),                                // cross link
          (1L, 2L), (2L, 1L))                          // dup + both directions
    val pairs = edges.toDF("id_a", "id_b")
    val local = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dist = Dedup.connectedComponents(pairs, localEdgeLimit = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local === dist)
    // a bound below the pair count falls back to the loop after the
    // bounded collect overflows
    val bounded = Dedup.connectedComponents(pairs, localEdgeLimit = 1L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local === bounded)
    // spot semantics: star+triangle fused through the cross link,
    // labeled by the min member across BOTH
    assert(local(202L) === 100L && local(100L) === 100L)
    assert(local(60L) === 1L)
  }

  test("connectedComponents: the driver path runs one execution; over the bound it takes the loop") {
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id_a", "id_b")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L)
    var res: org.apache.spark.sql.DataFrame = null
    def run(p: org.apache.spark.sql.DataFrame, limit: Long): Int =
      executions { res = Dedup.connectedComponents(p, localEdgeLimit = limit) }
    def out = res.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(run(pairs, 3L) === 1)
    assert(out === want)
    assert(run(Seq.empty[(Long, Long)].toDF("id_a", "id_b"), 3L) === 1)
    assert(out.isEmpty)
    // 3 pairs over a bound of 1: the collect overflows, the loop runs
    assert(run(pairs, 1L) > 3)
    assert(out === want)
  }

  test("connectedComponents: an overflowing bounded collect hands the loop the pairs it computed") {
    // every evaluation of the pair plan bumps the accumulator once per
    // row; nondeterministic so the optimizer neither folds nor copies it
    val evals = spark.sparkContext.longAccumulator("pairEvals")
    val tick = udf { (a: Long) => evals.add(1); a }.asNondeterministic()
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("id_a", "id_b")
      .repartition(1)
      .select(tick(col("id_a")).as("id_a"), col("id_b"))
    val got = Dedup.connectedComponents(pairs, localEdgeLimit = 1L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L))
    assert(evals.value === 3L)
  }

  test("simhashHammingPairs: identical docs pair at distance 0; unrelated docs don't pair") {
    val docs = Seq(
      (1L, "spark streams shuffle partitions broadcast"),
      (2L, "spark streams shuffle partitions broadcast"),
      (3L, "entirely unrelated words about gardening tulips")
    ).toDF("doc_id", "text")
    val out = Dedup.simhashHammingPairs(docs, "doc_id", "text",
        bits = 32, bands = 4, maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out((1L, 2L)) === 0L)
    assert(!out.keySet.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("sharedPassagePairs: docs sharing an 8-token run pair; the cap drops boilerplate windows") {
    val run = "one two three four five six seven eight" // exactly 8 tokens
    val docs = Seq(
      (1L, s"intro words $run closing remarks"),
      (2L, s"different opening $run other tail content"),
      (3L, "no shared passage here at all just unique tokens galore today"),
      // 4,5,6 all share a DIFFERENT 8-token run -> window freq 3
      (4L, s"alpha beta gamma delta epsilon zeta eta theta"),
      (5L, s"alpha beta gamma delta epsilon zeta eta theta x"),
      (6L, s"alpha beta gamma delta epsilon zeta eta theta y z")
    ).toDF("doc_id", "text")
    val out = Dedup.sharedPassagePairs(docs, "doc_id", "text",
        windowTokens = 8, maxWindowFreq = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(out.contains((1L, 2L)), "docs sharing the 8-token run must pair")
    assert(out((1L, 2L)) === 1L)
    assert(!out.keySet.exists(p => p._1 == 3L || p._2 == 3L))
    // the (4,5,6)-shared window appears in 3 docs > cap 2 — dropped,
    // UNLESS a pair also shares an uncapped window (5,6 share
    // 'beta..theta x'? no — x vs y: no other 8-run in common)
    assert(!out.contains((4L, 5L)) && !out.contains((4L, 6L)) && !out.contains((5L, 6L)),
      s"capped window must not generate pairs: $out")
  }

  test("simhash guards: bits capped at the 32-bit base hash; maxDist < bands (pigeonhole)") {
    val docs = Seq((1L, "a b c")).toDF("doc_id", "text")
    intercept[IllegalArgumentException] {
      Dedup.simhashFingerprints(docs, "doc_id", "text", bits = 64)
    }
    intercept[IllegalArgumentException] {
      // hamming < bands is the recall guarantee; maxDist = bands would silently lose pairs
      Dedup.simhashHammingPairs(docs, "doc_id", "text", bits = 32, bands = 4, maxDist = 4)
    }
  }

  test("applyBandFeed ≡ re-banding the post-feed corpus (insert/delete/update/NULL)") {
    val before = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "the quick brown fox jumps over the dog"),
      (3L, "stale document to be deleted")).toDF("doc_id", "text")
    val index = Dedup.bandedSignatures(before, "doc_id", "text")
    // feed: delete 3, update 2 (pre+post images), insert 4 and a
    // NULL-text 5 (must not be indexed)
    val feed = Seq(
      (3L, "stale document to be deleted", "delete"),
      (2L, "the quick brown fox jumps over the dog", "update_preimage"),
      (2L, "an entirely rewritten second document", "update_postimage"),
      (4L, "fresh arrival with brand new text", "insert"),
      (5L, null.asInstanceOf[String], "insert")
    ).toDF("doc_id", "text", "change_type")
    val after = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "an entirely rewritten second document"),
      (4L, "fresh arrival with brand new text")).toDF("doc_id", "text")
    val maintained = Dedup.applyBandFeed(index, feed, "doc_id", "text")
    assert(rows(maintained) === rows(Dedup.bandedSignatures(after, "doc_id", "text")))
    // idempotence of the retract side: an empty feed is identity
    val empty = feed.where(lit(false))
    assert(rows(Dedup.applyBandFeed(maintained, empty, "doc_id", "text"))
      === rows(maintained))
  }
}
