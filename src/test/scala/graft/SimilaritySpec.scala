package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.functions.VectorFns
import graft.operators.{ShuffleWidth, Similarity}

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  // four unit-ish vectors with known cosine structure: 1≈2, both ⊥ 3, 4 mixed
  private lazy val emb = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
    (2L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
    (3L, Array(0.0f, 0.0f, 1.0f, 0.0f)),
    (4L, Array(0.5f, 0.5f, 0.5f, 0.0f))
  ).toDF("vec_id", "embedding")

  test("kmeans: two well-separated groups converge to two clusters, ids to their seed") {
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),   // seed of cluster A
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),   // seed of cluster B
      (3L, Array(0.9f, 0.1f, 0.0f, 0.0f)),   // near A
      (4L, Array(0.1f, 0.9f, 0.0f, 0.0f)),   // near B
      (5L, Array(0.8f, 0.0f, 0.1f, 0.0f))    // near A
    ).toDF("vec_id", "embedding")
    val out = Similarity.kmeans(vecs, "vec_id", "embedding", k = 2, iters = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(1L) === 1L && out(3L) === 1L && out(5L) === 1L)
    assert(out(2L) === 2L && out(4L) === 2L)
  }

  test("kmeans is deterministic across runs and assigns every vector") {
    val a = Similarity.kmeans(emb, "vec_id", "embedding", k = 2, iters = 3)
    val b = Similarity.kmeans(emb, "vec_id", "embedding", k = 2, iters = 3)
    assert(rows(a) === rows(b))
    assert(a.count() === emb.count())
  }

  test("bruteForceTopK excludes self, ranks by cosine desc, caps at k") {
    val out = Similarity.bruteForceTopK(
      emb, emb.where(col("vec_id") === 1L), "vec_id", "embedding", k = 2)
    val got = out.collect().map(r => (r.getLong(1), r.getInt(3))).toSeq
    assert(got === Seq((2L, 1), (4L, 2))) // 2 closest to 1, then 4; 3 cut by k
    assert(!got.map(_._1).contains(1L))
  }

  test("rounded ranking keys selection on rounded cosine with id tie-break") {
    val out = Similarity.bruteForceTopK(
      emb, emb.where(col("vec_id") === 1L), "vec_id", "embedding", k = 3, roundTo = 4)
    assert(out.count() === 3)
    val cos = out.where(col("neighbor_id") === 3L).collect()(0).getDouble(2)
    assert(cos === 0.0)
  }

  test("lshTopK returns each query's bucket-mates ranked, never itself") {
    val out = Similarity.lshTopK(emb, "vec_id", "embedding",
        dims = 4, planesPerBand = 2, k = 3, bands = 2)
      .collect()
    assert(out.forall(r => r.getLong(0) != r.getLong(1)))
    // ranks within a query are 1..n dense
    out.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.map(_.getInt(3)).sorted.toSeq === (1 to rs.length).toSeq)
    }
  }

  test("bandedCosinePairs finds high-cosine pairs and is a subset of all-pairs") {
    val banded = Similarity.bandedCosinePairs(emb, "vec_id", "embedding",
        threshold = 0.9, bands = 2, bitsPerBand = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // only (1,2) is above 0.9; all signs agree so every pair is a candidate
    assert(banded.map(p => (p._1, p._2)) === Set((1L, 2L)))
    val allPairs = Similarity.cosinePairs(emb, "vec_id", "embedding", threshold = 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(banded.subsetOf(allPairs)) // banded candidates never invent pairs
  }

  /** The join-based sign-band operators that bucket-local scoring
    * replaced: capped window count, self-join on (band, bkey),
    * distinct, and two joins bringing the vectors back. */
  private object JoinBased {
    def lshTopK(
        df: DataFrame, idCol: String, vecCol: String,
        dims: Int, planesPerBand: Int, k: Int,
        bands: Int = 4, maxBucketFreq: Int = 200, roundTo: Int = 4): DataFrame = {
      val planeDims = Similarity.bandPlaneDims(bands, planesPerBand, dims)
      val bandKeys = (0 until bands).map { b =>
        val key = (0 until planesPerBand).map { j =>
          val d = planeDims(b)(j)
          when(element_at(col(vecCol), d + 1) >= 0, lit(1L << j)).otherwise(lit(0L))
        }.reduce(_ + _)
        struct(lit(b).as("band"), key.as("bkey"))
      }
      val bucketed = df
        .where(size(col(vecCol)) >= dims)
        .select(col(idCol), explode(array(bandKeys: _*)).as("bk"))
        .select(col(idCol), col("bk.band"), col("bk.bkey"))
        .withColumn("f", count(lit(1)).over(Window.partitionBy(col("band"), col("bkey"))))
        .where(col("f") <= maxBucketFreq)
        .drop("f")
      val a = bucketed.select(col("band"), col("bkey"), col(idCol).as("query_id"))
      val b = bucketed.select(col("band"), col("bkey"), col(idCol).as("neighbor_id"))
      val cand = a.join(b, Seq("band", "bkey"))
        .where(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"))
        .distinct()
      val qv = df.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
      val cv = df.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      val scored = cand.join(qv, Seq("query_id")).join(cv, Seq("neighbor_id"))
        .withColumn("cosine", round(VectorFns.cosine(col("qv"), col("cv")), roundTo))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(desc("cosine"), asc("neighbor_id"))
      scored
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= k)
        .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
    }

    def bandedCosinePairs(
        df: DataFrame, idCol: String, vecCol: String,
        threshold: Double, bands: Int = 8, bitsPerBand: Int = 8,
        maxBandFreq: Int = 200, roundTo: Int = 4): DataFrame = {
      val bandKeys = (0 until bands).map { b =>
        val key = (0 until bitsPerBand).map { j =>
          when(element_at(col(vecCol), b * bitsPerBand + j + 1) >= 0, lit(1L << j))
            .otherwise(lit(0L))
        }.reduce(_ + _)
        struct(lit(b).as("band"), key.as("bkey"))
      }
      val bucketed = df
        .where(size(col(vecCol)) >= bands * bitsPerBand)
        .select(col(idCol), explode(array(bandKeys: _*)).as("bk"))
        .select(col(idCol), col("bk.band"), col("bk.bkey"))
        .withColumn("f", count(lit(1)).over(Window.partitionBy(col("band"), col("bkey"))))
        .where(col("f") <= maxBandFreq)
        .drop("f")
      val a = bucketed.select(col("band"), col("bkey"), col(idCol).as("id_a"))
      val b = bucketed.select(col("band"), col("bkey"), col(idCol).as("id_b"))
      val cand = a.join(b, Seq("band", "bkey"))
        .where(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"))
        .distinct()
      val va = df.select(col(idCol).as("id_a"), col(vecCol).as("va"))
      val vb = df.select(col(idCol).as("id_b"), col(vecCol).as("vb"))
      cand.join(va, Seq("id_a")).join(vb, Seq("id_b"))
        .withColumn("cosine", round(VectorFns.cosine(col("va"), col("vb")), roundTo))
        .where(col("cosine") >= threshold)
        .select(col("id_a"), col("id_b"), col("cosine"))
    }
  }

  /** Seeded unique-id 8-dim vectors over the sign-band edge cases:
    * components on a five-point grid (many cosine ties), exact copies
    * and scaled copies (cosine-1 ties), all-zero vectors and one with
    * a NULL component (NULL cosine), and short and NULL vectors (never
    * keyed). */
  private lazy val edgeVecs: DataFrame = {
    val rnd = new scala.util.Random(17)
    val grid = Seq(-2f, -1f, 0f, 1f, 2f)
    val base = (1L to 90L).map(i => i -> Seq.fill(8)(grid(rnd.nextInt(grid.size))))
    val rs: Seq[Row] =
      base.map { case (i, v) => Row(i, v) } ++
        base.take(10).map { case (i, v) => Row(1000L + i, v) } ++
        base.slice(10, 15).map { case (i, v) => Row(2000L + i, v.map(_ * 2f)) } ++
        (0 until 4).map(j => Row(3000L + j, Seq.fill(8)(0f))) ++
        Seq(Row(4000L, Seq(1f, null, 1f, 1f, -1f, 1f, 1f, 1f)),
          Row(5000L, Seq(1f, 1f, 1f)), Row(5001L, null))
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = true))))
    spark.createDataFrame(spark.sparkContext.parallelize(rs, 3), schema)
  }

  /** All rows of `df`, duplicates kept, in a fixed order. */
  private def bag(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq).sortBy(_.mkString(","))

  private def assertBucketLocalMatchesJoinBased(): Unit = {
    for (cap <- Seq(10, 200); k <- Seq(3, 200)) {
      val got = bag(Similarity.lshTopK(edgeVecs, "vec_id", "embedding",
        dims = 8, planesPerBand = 3, k = k, bands = 3, maxBucketFreq = cap))
      assert(got === bag(JoinBased.lshTopK(edgeVecs, "vec_id", "embedding",
        dims = 8, planesPerBand = 3, k = k, bands = 3, maxBucketFreq = cap)),
        s"lshTopK cap=$cap k=$k")
      assert(got.nonEmpty)
    }
    for (cap <- Seq(10, 200); threshold <- Seq(-1.0, 0.5)) {
      val got = bag(Similarity.bandedCosinePairs(edgeVecs, "vec_id", "embedding",
        threshold, bands = 2, bitsPerBand = 4, maxBandFreq = cap))
      assert(got === bag(JoinBased.bandedCosinePairs(edgeVecs, "vec_id", "embedding",
        threshold, bands = 2, bitsPerBand = 4, maxBandFreq = cap)),
        s"bandedCosinePairs cap=$cap threshold=$threshold")
      assert(got.nonEmpty)
    }
  }

  test("edge vectors cover the cap, NULL cosines, ties and k above the candidate count") {
    def topK(cap: Int, k: Int) = Similarity.lshTopK(edgeVecs, "vec_id", "embedding",
      dims = 8, planesPerBand = 3, k = k, bands = 3, maxBucketFreq = cap).collect().toSeq
    val all = topK(200, 200)
    assert(topK(10, 200).size < all.size, "no bucket above the cap")
    assert(all.exists(_.isNullAt(2)), "no NULL cosine")
    assert(all.groupBy(r => (r.getLong(0), r.get(2))).values.exists(_.size > 1), "no tie")
    assert(all.groupBy(_.getLong(0)).values.forall(_.size < 200))
    // NULL scores rank after every scored neighbor
    all.groupBy(_.getLong(0)).values.foreach { rs =>
      val byRank = rs.sortBy(_.getInt(3))
      assert(byRank.dropWhile(!_.isNullAt(2)).forall(_.isNullAt(2)))
    }
    // short and NULL vectors are never keyed
    assert(!all.exists(r => Set(5000L, 5001L)(r.getLong(0)) || Set(5000L, 5001L)(r.getLong(1))))
  }

  test("bucket-local lshTopK/bandedCosinePairs equal the join-based form (whole-stage codegen)") {
    withConfs("spark.sql.codegen.wholeStage" -> "true") { assertBucketLocalMatchesJoinBased() }
  }

  test("bucket-local lshTopK/bandedCosinePairs equal the join-based form (interpreted)") {
    withConfs("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") { assertBucketLocalMatchesJoinBased() }
  }

  test("lshTopK plans no join and at most two shuffles") {
    withConfs("spark.sql.adaptive.enabled" -> "false") {
      val df = Similarity.lshTopK(edgeVecs, "vec_id", "embedding",
        dims = 8, planesPerBand = 3, k = 3, bands = 3)
      val qe = df.queryExecution
      assert(qe.optimizedPlan.collect { case j: Join => j }.isEmpty, qe.optimizedPlan)
      val plan = qe.executedPlan
      assert(plan.collect { case j: BaseJoinExec => j }.isEmpty, plan)
      assert(plan.collect { case e: ShuffleExchangeLike => e }.size <= 2, plan)
    }
  }

  test("lshTopK and bandedCosinePairs plan exactly two explicit-width exchanges at cpuWidth") {
    withConfs("spark.sql.adaptive.enabled" -> "false") {
      val width = ShuffleWidth.cpuWidth(edgeVecs)
      assert(width >= spark.sparkContext.defaultParallelism)
      for (df <- Seq(
          Similarity.lshTopK(edgeVecs, "vec_id", "embedding",
            dims = 8, planesPerBand = 3, k = 3, bands = 3),
          Similarity.bandedCosinePairs(edgeVecs, "vec_id", "embedding",
            0.5, bands = 2, bitsPerBand = 4))) {
        val plan = df.queryExecution.executedPlan
        val exchanges = plan.collect { case e: ShuffleExchangeLike => (e.shuffleOrigin, e.numPartitions) }
        assert(exchanges === Seq.fill(2)((REPARTITION_BY_NUM, width)), plan)
      }
    }
  }

  test("with AQE on, no stage of a 2,000-vector lshTopK runs fewer tasks than defaultParallelism") {
    val rnd = new scala.util.Random(20261020L)
    val vecs = (0 until 2000).map(i => (i.toLong, Array.fill(64)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val tasks = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        tasks.add(e.stageInfo.numTasks); ()
      }
    }
    withConfs("spark.sql.adaptive.enabled" -> "true") {
      val sc = spark.sparkContext
      org.apache.spark.graft.ListenerBus.drain(sc)
      sc.addSparkListener(listener)
      try Similarity.lshTopK(vecs, "vec_id", "embedding", dims = 64, planesPerBand = 8, k = 10)
        .write.format("noop").mode("overwrite").save()
      finally {
        org.apache.spark.graft.ListenerBus.drain(sc)
        sc.removeSparkListener(listener)
      }
    }
    import scala.jdk.CollectionConverters._
    val counts = tasks.asScala.toSeq
    assert(counts.size >= 3 && counts.forall(_ >= spark.sparkContext.defaultParallelism),
      counts.mkString(", "))
  }

  test("cosinePairs refuses inputs over the maxRows guard (recall-oracle only)") {
    val big = spark.range(5).toDF("vec_id")
      .withColumn("embedding", array(lit(1.0f), lit(0.0f)))
    val err = intercept[IllegalArgumentException] {
      Similarity.cosinePairs(big, "vec_id", "embedding",
        threshold = 0.5, maxRows = 4)
    }
    assert(err.getMessage.contains("bandedCosinePairs"))
    // at exactly the cap it still runs: the guard bounds, it doesn't shrink
    assert(Similarity.cosinePairs(big.limit(4), "vec_id", "embedding",
      threshold = 0.5, maxRows = 4).count() === 6L)
  }

  test("ivfTopK: probes bound the search; self excluded; ranks dense") {
    // two labeled clusters around x-axis and z-axis
    val labeled = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f), 0),
      (2L, Array(0.9f, 0.1f, 0.0f, 0.0f), 0),
      (3L, Array(0.0f, 0.0f, 1.0f, 0.0f), 1),
      (4L, Array(0.1f, 0.0f, 0.9f, 0.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val cb = Similarity.codebookFromLabels(labeled, "label", "embedding")
    assert(cb.count() === 2)
    val out = Similarity.ivfTopK(
        labeled, labeled.where(col("vec_id") === 1L), cb,
        "vec_id", "embedding", k = 3, nprobe = 1)
      .collect()
    assert(out.forall(_.getLong(0) == 1L))
    assert(out.forall(r => r.getLong(1) != 1L))
    // nprobe=1: only the x-cluster cell is probed → neighbor 2 only
    assert(out.map(_.getLong(1)).toSet === Set(2L))
    val out2 = Similarity.ivfTopK(
        labeled, labeled.where(col("vec_id") === 1L), cb,
        "vec_id", "embedding", k = 3, nprobe = 2)
      .collect()
    assert(out2.map(_.getLong(1)).toSet === Set(2L, 3L, 4L)) // both cells probed
    assert(out2.map(_.getInt(3)).sorted.toSeq === Seq(1, 2, 3))
  }

  test("quantizeInt8: max-abs scaling, exact half-up codes, zero-vector safe") {
    val df = Seq(
      (1L, Array(1.0f, -2.0f, 0.5f)),
      (2L, Array(0.0f, 0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = df.select(col("vec_id"),
        Similarity.quantizeInt8(col("embedding")).as("q"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Byte](1)).toMap
    // scale = 127/2 = 63.5: 1.0→floor(64.0)=64, -2.0→floor(-126.5)=-127,
    // 0.5→floor(32.25)=32
    assert(out(1L) === Seq[Byte](64, -127, 32))
    assert(out(2L) === Seq[Byte](0, 0, 0))
  }

  test("quantizedTopK: identical vectors score qcos 1.0 at rank 1; qdot is the exact integer dot") {
    val df = Seq(
      (1L, Array(1.0f, 2.0f, -1.0f)),
      (10L, Array(1.0f, 2.0f, -1.0f)),   // same direction as query 1
      (11L, Array(-1.0f, -2.0f, 1.0f)),  // exactly opposite
      (12L, Array(2.0f, -1.0f, 0.0f))    // orthogonal-ish
    ).toDF("vec_id", "embedding")
    val out = Similarity.quantizedTopK(df, df.where(col("vec_id") === 1L),
        "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3), r.getInt(4)))
    val byId = out.map(t => t._1 -> t).toMap
    // codes for (1,2,-1): scale 63.5 → (64, 127, -63); the opposite
    // vector codes to (-63, -127, 64) — floor(x+0.5) is NOT
    // antisymmetric, so its dot is -24193, not -24194
    val d = 64L * 64 + 127L * 127 + 63L * 63
    val dOpp = -(64L * 63 + 127L * 127 + 63L * 64)
    assert(byId(10L) === ((10L, d, 1.0, 1)))
    assert(byId(11L)._2 === dOpp)
    assert(byId(11L)._3 === -1.0) // -24193/24194 rounds to -1.0 at 4dp
    assert(out.map(_._4).sorted.toSeq === Seq(1, 2, 3))
  }

  test("pqCodebooks/pqEncode: subspace slicing is exact, centroid-aligned vectors code to their own cell") {
    // two labels in 4 dims, m=2 subspaces of 2; vectors sit exactly ON
    // their label mean, so every subspace code must be the own label
    val df = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 1.0f), 0L),
      (2L, Array(1.0f, 0.0f, 0.0f, 1.0f), 0L),
      (3L, Array(0.0f, 1.0f, 1.0f, 0.0f), 1L),
      (4L, Array(0.0f, 1.0f, 1.0f, 0.0f), 1L)
    ).toDF("vec_id", "embedding", "label")
    val cb = Similarity.pqCodebooks(df, "label", "embedding", m = 2, dims = 4)
    // 2 labels × 2 subspaces, each centroid of length 2
    assert(cb.count() === 4L)
    assert(cb.select(size(col("centroid"))).distinct().collect()
      .map(_.getInt(0)).toSeq === Seq(2))
    val codes = Similarity.pqEncode(df, cb, "vec_id", "embedding", subLen = 2)
    assert(codes.count() === 8L) // m codes per vector
    val byId = codes.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    Seq(1L, 2L).foreach(id =>
      Seq(0L, 1L).foreach(sub => assert(byId((id, sub)) === 0L)))
    Seq(3L, 4L).foreach(id =>
      Seq(0L, 1L).foreach(sub => assert(byId((id, sub)) === 1L)))
    // dims must divide into m
    intercept[IllegalArgumentException] {
      Similarity.pqCodebooks(df, "label", "embedding", m = 3, dims = 4)
    }
  }

  test("pqTopK: ADC ranks same-label vectors first; self excluded; ranks dense") {
    val df = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 1.0f), 0L),
      (2L, Array(0.9f, 0.1f, 0.0f, 0.9f), 0L),
      (3L, Array(0.0f, 1.0f, 1.0f, 0.0f), 1L),
      (4L, Array(0.1f, 0.9f, 1.0f, 0.1f), 1L),
      (5L, Array(0.0f, 0.9f, 1.0f, 0.0f), 1L)
    ).toDF("vec_id", "embedding", "label")
    val cb = Similarity.pqCodebooks(df, "label", "embedding", m = 2, dims = 4)
    val out = Similarity.pqTopK(df, df.where(col("vec_id") === 1L), cb,
      "vec_id", "embedding", k = 4, subLen = 2).collect()
    assert(out.forall(_.getLong(1) != 1L)) // never itself
    assert(out.map(_.getInt(3)).sorted.toSeq === Seq(1, 2, 3, 4))
    // ADC scores the reconstruction: the same-label neighbor outranks
    // every cross-label one
    val rankOf = out.map(r => r.getLong(1) -> r.getInt(3)).toMap
    assert(rankOf(2L) === 1)
    assert(Seq(3L, 4L, 5L).forall(id => rankOf(id) > 1))
  }

  test("centroids computes per-label element-wise means") {
    val df = Seq(
      ("a", Array(1.0f, 2.0f)), ("a", Array(3.0f, 4.0f)), ("b", Array(10.0f, 20.0f))
    ).toDF("label", "embedding")
    val out = Similarity.centroids(df, "label", "embedding")
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    assert(out("a") === Seq(2.0, 3.0))
    assert(out("b") === Seq(10.0, 20.0))
  }

  test("semanticDedup keeps the smallest id of each within-cluster near-dup set") {
    // two well-separated clusters, each holding one near-identical pair
    // (the larger id of each pair must die) plus one distinct member
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),   // cluster A, kept
      (2L, Array(0.99f, 0.01f, 0.0f, 0.0f)), // ≈1 -> shadowed by 1
      (3L, Array(0.7f, 0.0f, 0.7f, 0.0f)),   // cluster A-ish but far: kept
      (4L, Array(0.0f, 1.0f, 0.0f, 0.0f)),   // cluster B, kept
      (5L, Array(0.0f, 0.98f, 0.02f, 0.0f)), // ≈4 -> shadowed by 4
      (6L, Array(0.0f, 0.7f, 0.0f, 0.7f))    // cluster B-ish but far: kept
    ).toDF("vec_id", "embedding")
    val out = Similarity.semanticDedup(vecs, "vec_id", "embedding",
      k = 2, iters = 2, threshold = 0.95)
    val survivors = out.select("vec_id").as[Long].collect().toSet
    assert(survivors === Set(1L, 3L, 4L, 6L))
    // survivor property: no surviving pair in the same cluster clears
    // the threshold (else the larger id would have been shadowed)
    val asg = Similarity.kmeans(vecs, "vec_id", "embedding", k = 2, iters = 2)
      .join(vecs, Seq("vec_id"))
    val a = asg.select(col("vec_id").as("ia"), col("cluster_id"), col("embedding").as("va"))
    val b = asg.select(col("vec_id").as("ib"), col("cluster_id"), col("embedding").as("vb"))
    val survivorPairs = a.join(b, Seq("cluster_id")).where(col("ia") < col("ib"))
      .where(col("ia").isin(survivors.toSeq: _*) && col("ib").isin(survivors.toSeq: _*))
      .withColumn("cos", round(graft.functions.VectorFns.cosine(
        col("va").cast("array<double>"), col("vb").cast("array<double>")), 4))
    assert(survivorPairs.where(col("cos") >= 0.95).count() === 0)
  }

  test("powerIteration finds the dominant axis; projections are exact and deterministic") {
    import spark.implicits._
    // anisotropic 4-dim cloud: dim 0 carries ±8-scale spread, dims
    // 1-3 carry ±1 noise — the top principal direction is ~axis 0,
    // so |projection| must order by |x0|
    val rows = (0 until 40).map { i =>
      val sgn = if (i % 2 == 0) 1.0f else -1.0f
      val x0 = sgn * (1.0f + (i % 7))
      (i.toLong, Seq(x0, (i % 3 - 1).toFloat * 0.1f,
        (i % 5 - 2).toFloat * 0.1f, (i % 2).toFloat * 0.1f))
    }
    val emb = rows.toDF("vec_id", "embedding")
    val out = graft.operators.Similarity
      .powerIteration(emb, "vec_id", "embedding", dims = 4, rounds = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // deterministic: a second run is bit-identical
    val out2 = graft.operators.Similarity
      .powerIteration(emb, "vec_id", "embedding", dims = 4, rounds = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out === out2)
    // dominant-axis recovery: projection magnitude orders by |x0|
    val byMag = rows.sortBy { case (_, v) => -math.abs(v.head) }.map(_._1)
    val byProj = out.toSeq.sortBy { case (_, p) => -math.abs(p) }.map(_._1)
    assert(byMag.take(5).toSet === byProj.take(5).toSet)
    // sign structure: same-sign x0 rows project with the same sign
    val pos = rows.filter(_._2.head > 0).map(_._1)
    val neg = rows.filter(_._2.head < 0).map(_._1)
    assert(pos.map(out).forall(_ > 0) !== pos.map(out).forall(_ < 0))
    assert(pos.map(out).map(_.sign).distinct.size === 1)
    assert(neg.map(out).map(_.sign).distinct.size === 1)
    assert(pos.map(out).head.sign === -neg.map(out).head.sign)
    // degenerate all-zero corpus: projections are 0, no crash
    val zeros = Seq((1L, Seq(0.0f, 0.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val z = graft.operators.Similarity
      .powerIteration(zeros, "vec_id", "embedding", dims = 4, rounds = 3)
      .collect()
    assert(z.map(_.getLong(1)).toSeq === Seq(0L))
  }
}
