package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.Ranking

/** Score-bucketed two-phase ranking: exact equivalence to the
  * single-reducer `row_number()` it replaces, plus the plan proofs —
  * the big side shuffles on the (group, score) CELL key (never a bare
  * low-cardinality group, never a single partition), and the window /
  * counts passes share one exchange. */
class RankingSpec extends SparkSpec {
  import spark.implicits._

  // heavy ties: 7 score values over 300 rows, two groups
  private lazy val docs = (1L to 300L)
    .map(i => (i, if (i % 2 == 0) "a" else "b", i % 7))
    .toDF("id", "g", "score")

  test("global rankByScore ≡ row_number() OVER (ORDER BY score DESC, id)") {
    val naive = docs.withColumn("rank",
      row_number().over(Window.orderBy(desc("score"), col("id"))).cast("long"))
    val ours = Ranking.rankByScore(docs, Seq.empty, "score", "id", "rank")
    assert(rows(ours.select("id", "rank")) === rows(naive.select("id", "rank")))
  }

  test("boundedRowNumber ≡ row_number() OVER (ORDER BY …): directions, NULLs, NaN, strings") {
    val small = Seq[(java.lang.Double, String, Long)](
      (1.5, "b", 1L), (null, "a", 2L), (Double.NaN, "c", 3L), (1.5, null, 4L),
      (-0.0, "é", 5L), (0.0, "e", 6L), (null, null, 7L), (2.0, "b", 8L), (1.5, "b", 9L))
      .toDF("s", "t", "id")
    val orders = Seq(
      Seq(desc("s"), col("id")),
      Seq(asc("s"), desc("t"), col("id")),
      Seq(col("t"), desc_nulls_first("s"), desc("id")),
      Seq(asc_nulls_last("t"), asc_nulls_last("s"), col("id")))
    for (o <- orders) {
      val naive = small.withColumn("rk", row_number().over(Window.orderBy(o: _*)).cast("long"))
      val ours = Ranking.boundedRowNumber(small, "rk", o: _*)
      assert(ours.columns.toSeq === naive.columns.toSeq)
      // compared as text: NaN never equals itself
      def shown(df: org.apache.spark.sql.DataFrame) = df.orderBy("rk").collect().map(_.toString).toSeq
      assert(shown(ours) === shown(naive), o.toString)
    }
    assert(Ranking.boundedRowNumber(small.limit(0), "rk", col("id")).count() === 0)
  }

  test("ascending global rank ranks the smallest score 1") {
    val ours = Ranking.rankByScore(docs, Seq.empty, "score", "id", "rank",
      ascending = true)
    val first = ours.where(col("rank") === 1).select("score", "id")
      .as[(Long, Long)].head()
    assert(first === ((0L, 7L))) // smallest score, then smallest id
  }

  test("grouped rankByScore ≡ row_number() OVER (PARTITION BY g ORDER BY score DESC, id)") {
    val naive = docs.withColumn("rank",
      row_number().over(Window.partitionBy("g").orderBy(desc("score"), col("id")))
        .cast("long"))
    val ours = Ranking.rankByScore(docs, Seq("g"), "score", "id", "rank")
    assert(rows(ours.select("id", "rank")) === rows(naive.select("id", "rank")))
  }

  test("quantileGate keeps exactly ceil(frac·n) per group, largest scores first") {
    val kept = Ranking.quantileGate(docs, Seq("g"), "score", "id", frac = 0.3)
    val perGroup = kept.groupBy("g").count().as[(String, Long)].collect().toMap
    // both groups have 150 rows -> ceil(45) = 45 kept each
    assert(perGroup === Map("a" -> 45L, "b" -> 45L))
    // the kept set is the rank-prefix: max kept rank == kept count
    val maxRank = kept.groupBy("g").agg(max("rank").as("m"))
      .as[(String, Long)].collect().toMap
    assert(maxRank === Map("a" -> 45L, "b" -> 45L))
    // nothing dropped outranks anything kept: the worst kept score is
    // still >= the best dropped score (equality = ties straddling the
    // cut, resolved deterministically by the id tie-break)
    val minKept = kept.agg(min("score")).as[Long].head()
    val dropped = docs.join(kept.select("id"), Seq("id"), "left_anti")
    val maxDropped = dropped.agg(max("score")).as[Long].head()
    assert(minKept >= maxDropped)
  }

  test("NULL score and NULL group rows are ranked, not silently dropped") {
    val withNulls = Seq(
      (1L, "en", java.lang.Long.valueOf(30L)),
      (2L, "en", null.asInstanceOf[java.lang.Long]),   // NULL score
      (3L, null.asInstanceOf[String], java.lang.Long.valueOf(10L)), // NULL group
      (4L, "en", java.lang.Long.valueOf(20L))
    ).toDF("id", "g", "score")
    val ranked = Ranking.rankByScore(withNulls, Seq("g"), "score", "id", "rank")
    assert(ranked.count() === 4) // the old `===` join lost rows 2 and 3
    val en = ranked.where($"g" === "en").orderBy("rank")
      .select("id", "rank").as[(Long, Long)].collect().toSeq
    // desc = NULLS LAST: the NULL-score row ranks after every real score
    assert(en === Seq((1L, 1L), (4L, 2L), (2L, 3L)))
    // the NULL group is its own group with its own rank sequence
    assert(ranked.where($"g".isNull).select("rank").as[Long].collect().toSeq === Seq(1L))
    // quantileGate keeps its quota inside the NULL group too
    val gated = Ranking.quantileGate(withNulls, Seq("g"), "score", "id", 1.0)
    assert(gated.count() === 4)
  }

  test("exactQuantiles ≡ the order statistic of the full sort, ties and duplicates included") {
    // deterministic values with heavy duplication (v repeats ~8x) so
    // within-bucket tie-breaks and bucket boundaries both exercise
    val data = (1L to 997L).map(i => (i, ((i * 7919L) % 127L).toDouble / 3.0))
      .toDF("id", "v")
    val pcts = Seq(1, 25, 50, 90, 99, 100)
    val got = Ranking.exactQuantiles(data, "v", "id", pcts, buckets = 32)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
    val sorted = data.orderBy(col("v"), col("id")).select("v")
      .collect().map(_.getDouble(0))
    val n = sorted.length.toLong
    val expect = pcts.map { p =>
      val r = (p.toLong * n + 99L) / 100L
      (p, r, sorted((r - 1).toInt))
    }
    assert(got.toSeq === expect)
    // all-equal input: every percentile selects the single value
    val flat = (1L to 10L).map((_, 5.0)).toDF("id", "v")
    val flatQ = Ranking.exactQuantiles(flat, "v", "id", Seq(50, 100))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getDouble(2))).toSet
    assert(flatQ === Set((50, 5L, 5.0), (100, 10L, 5.0)))
    // empty and NULL-only inputs yield no rows
    assert(Ranking.exactQuantiles(
      Seq.empty[(Long, Double)].toDF("id", "v"), "v", "id", Seq(50)).count() === 0)
    assert(Ranking.exactQuantiles(
      Seq((1L, null.asInstanceOf[java.lang.Double])).toDF("id", "v"),
      "v", "id", Seq(50)).count() === 0)
  }

  test("plan: big side hashes on the score cell; counts combine map-side") {
    val ours = Ranking.rankByScore(docs, Seq("g"), "score", "id", "rank")
    val plan = ExplainCheck.finalPlanLines(ours)
    // the local-rank window keys on (g, score) — the fine-grained cell,
    // not the 2-value group and not a single partition
    assert(plan.exists(l => l.contains("hashpartitioning") &&
      l.contains("g#") && l.contains("score#")),
      s"expected a hashpartitioning(g, score) exchange in:\n${plan.mkString("\n")}")
    // the offsets pass partially aggregates BEFORE its exchange, so the
    // second shuffle moves |distinct cells| counts, not the corpus
    assert(plan.exists(_.contains("partial_count")),
      s"counts pass lost its map-side combine:\n${plan.mkString("\n")}")
    // the offsets side reaches the probe as a broadcast, not a shuffle
    // of the big side
    assert(plan.exists(_.contains("BroadcastHashJoin")),
      s"offsets join stopped broadcasting:\n${plan.mkString("\n")}")
  }
}
