package graft

import org.apache.spark.sql.functions._
import graft.sources.{Bucketing, Tables}

/** Bucketed co-located join: both sides hash-bucketed on the join key
  * into the same bucket count → the join plans with NO Exchange. */
class BucketingSpec extends SparkSpec {

  test("matching bucketed tables join without any shuffle exchange") {
    val d = "/root/testdata/sf0.001"
    try {
      Bucketing.writeBucketed(Tables.orders(spark, d), "b_orders", "o_orderkey", 4)
      Bucketing.writeBucketed(Tables.lineitem(spark, d), "b_lineitem", "l_orderkey", 4)
      // force the shuffle-join path so the assertion is about bucketing,
      // not about a broadcast hiding the exchange
      withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val joined = spark.table("b_lineitem")
          .join(spark.table("b_orders"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderstatus")).agg(count(lit(1)).as("n"))
        assert(joined.count() > 0)
        val plan = joined.queryExecution.executedPlan.toString
        // the aggregation on o_orderstatus (a different key) still
        // shuffles; the JOIN subtree must not — both inputs arrive
        // bucket-aligned from the scans
        val joinSubtree = plan.substring(plan.indexOf("SortMergeJoin"))
        assert(plan.contains("Bucketed: true"))
        assert(!joinSubtree.contains("Exchange"),
          s"bucketed join sides must not shuffle:\n$plan")
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("incremental dedup-load vs a bucketed base shuffles only the batch, not the base") {
    val d = "/root/testdata/sf0.001"
    try {
      // the base fact is huge at 100 TB — bucket it on the natural key
      // once at write time and every nightly anti-join stops paying a
      // full-base shuffle (the batch side still shuffles: it's O(batch))
      Bucketing.writeBucketed(Tables.orders(spark, d), "b_base", "o_orderkey", 4)
      withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val batch = Tables.orders(spark, d).limit(500)
        val fresh = graft.operators.Dedup.newRows(
          batch, spark.table("b_base"), Seq("o_orderkey"))
        assert(fresh.collect().length === 0) // every batch key exists in the base
        // AQE's toString appends the pre-adaptive "Initial Plan" — audit
        // only the final one
        val plan = fresh.queryExecution.executedPlan.toString
          .split("== Initial Plan ==")(0)
        val joinSubtree = plan.substring(plan.indexOf("SortMergeJoin"))
        assert(joinSubtree.contains("LeftAnti"), s"expected anti-join:\n$plan")
        // the base-side branch — from its Sort down to the bucketed scan —
        // must contain no Exchange: the join's partitioning requirement is
        // met straight off the bucketed scan. The batch side shuffles
        // (that's O(batch), fine).
        val scanAt = joinSubtree.indexOf("Bucketed: true")
        assert(scanAt >= 0, s"base must read as a bucketed scan:\n$plan")
        val baseBranch = joinSubtree.substring(
          joinSubtree.lastIndexOf("Sort", scanAt), scanAt)
        assert(!baseBranch.contains("Exchange"),
          s"base side must not shuffle:\n$plan")
        assert(plan.contains("SelectedBucketsCount"))
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_base")
    }
  }

  test("composed layout: date partitions AND buckets prune and join shuffle-free in ONE query") {
    val d = "/root/testdata/sf0.001"
    try {
      // both asserted properties (partition pruning, bucket-aligned
      // join) are PLANNING-time facts; AQE only wraps the plan in stage
      // nodes that hide the scan from collectLeaves, so turn it off for
      // a directly inspectable plan
      withConfs("spark.sql.adaptive.enabled" -> "false") {
        // the fact: date-partitioned (scan prunes to the queried day) and
        // bucketed on the join key (the join needs no exchange) — both
        // properties must hold on the SAME scan of the SAME query
        val events = Tables.events(spark, d)
          .withColumn("event_date", to_date(col("ts")))
        Bucketing.writePartitionedBucketed(events, "pb_events", "event_date", "user_id", 4)
        // the dimension: bucketed on the same key, same bucket count
        val users = events.groupBy(col("user_id"))
          .agg(min(col("ts")).as("first_seen"))
        Bucketing.writeBucketed(users, "pb_users", "user_id", 4)
        withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
          val dates = spark.table("pb_events").select("event_date")
            .distinct().collect().map(_.getDate(0)).sorted
          assert(dates.length > 1, "test data must span several dates for a pruning proof")
          val oneDay = spark.table("pb_events")
            .where(col("event_date") === lit(dates(0)))
            .join(spark.table("pb_users"), Seq("user_id"))
            .select(col("user_id"), col("event_id"), col("first_seen"))
          assert(oneDay.collect().length > 0)

          val exec = oneDay.queryExecution.executedPlan
          val plan = exec.toString.split("== Initial Plan ==")(0)
          // (a) partition pruning reached the fact scan: 1 of N date dirs
          val factScan = exec.collectLeaves().collectFirst {
            case s: org.apache.spark.sql.execution.FileSourceScanExec
              if s.metadata.get("PartitionFilters").exists(_.contains("event_date")) => s
          }.getOrElse(fail(s"no partition-filtered scan in plan:\n$plan"))
          assert(factScan.metrics("numPartitions").value === 1,
            s"expected 1 of ${dates.length} partition dirs read")
          assert(factScan.metadata("Bucketed") === "true",
            s"fact scan must also be bucketed: ${factScan.metadata}")
          // (b) the join subtree has NO exchange on either side: both scans
          // arrive bucket-aligned on user_id
          val joinSubtree = plan.substring(plan.indexOf("SortMergeJoin"))
          assert(!joinSubtree.contains("Exchange"),
            s"composed-layout join must not shuffle either side:\n$plan")
        }
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS pb_events")
      spark.sql("DROP TABLE IF EXISTS pb_users")
    }
  }

  test("q103 shape: a stored LSH band index bucketed on (band, bkey) probes shuffle-free") {
    val d = "/root/testdata/sf0.001"
    try {
      val docs = Tables.documents(spark, d)
      val base = docs.where(pmod(col("doc_id"), lit(10)) < 8)
      val batch = docs.where(pmod(col("doc_id"), lit(10)) >= 8)
      // the stored half: built once per base, capped at BUILD time,
      // bucketed on the probe join's composite key
      graft.sources.Bucketing.writeBucketed(
        graft.operators.Dedup.bandIndex(base, "doc_id", "text"),
        "b_bandidx", Seq("band", "bkey"), 4)
      withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val probed = graft.operators.Dedup.nearDupsVsIndex(
          batch, spark.table("b_bandidx"), "doc_id", "text")
        // identical results to the inline two-sided form q103 verifies
        assert(rows(probed) === rows(graft.operators.Dedup.nearDupsVsBase(
          batch, base, "doc_id", "text")))
        val plan = probed.queryExecution.executedPlan.toString
          .split("== Initial Plan ==")(0)
        val joinSubtree = plan.substring(plan.indexOf("SortMergeJoin"))
        val scanAt = joinSubtree.indexOf("Bucketed: true")
        assert(scanAt >= 0, s"index must read as a bucketed scan:\n$plan")
        // the index branch — its Sort down to the bucketed scan — must
        // contain no Exchange: the probe join's (band, bkey) requirement
        // is met straight off the stored layout, so a batch probe
        // shuffles ONLY the batch's bands
        val idxBranch = joinSubtree.substring(
          joinSubtree.lastIndexOf("Sort", scanAt), scanAt)
        assert(!idxBranch.contains("Exchange"),
          s"stored band index must not shuffle:\n$plan")
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_bandidx")
    }
  }

  test("q105 shape: a stored df multiset bucketed on (term, doc_id) folds a batch shuffle-free") {
    val d = "/root/testdata/sf0.001"
    try {
      val docs = Tables.documents(spark, d)
      def toks(side: org.apache.spark.sql.DataFrame) = side.select(col("doc_id"),
        explode(graft.functions.TextFns.tokens(
          graft.functions.TextFns.normalize(col("text")))).as("term"))
      val hist = docs.where(pmod(col("doc_id"), lit(10)) < 8)
      val batch = docs.where(pmod(col("doc_id"), lit(10)) >= 8)
      val stored = graft.operators.Incremental.distinctPartials(
        toks(hist), Seq("term"), "doc_id")
      val batchPart = graft.operators.Incremental.distinctPartials(
        toks(batch), Seq("term"), "doc_id")
      graft.sources.Bucketing.writeBucketed(
        stored, "b_dfidx", Seq("term", "doc_id"), 4)
      withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val folded = graft.operators.Incremental.mergeDistinctStored(
          spark.table("b_dfidx"), batchPart, Seq("term"), "doc_id")
        // join-form fold == union-form fold (the q105-verified semantics)
        assert(rows(folded) === rows(graft.operators.Incremental.mergeDistinct(
          stored, batchPart, Seq("term"), "doc_id")))
        val plan = folded.queryExecution.executedPlan.toString
          .split("== Initial Plan ==")(0)
        val joinSubtree = plan.substring(plan.indexOf("SortMergeJoin"))
        assert(joinSubtree.contains("FullOuter"), s"expected full-outer fold:\n$plan")
        val scanAt = joinSubtree.indexOf("Bucketed: true")
        assert(scanAt >= 0, s"stored multiset must read as a bucketed scan:\n$plan")
        val storedBranch = joinSubtree.substring(
          joinSubtree.lastIndexOf("Sort", scanAt), scanAt)
        assert(!storedBranch.contains("Exchange"),
          s"stored df index must not shuffle on refresh:\n$plan")
      }
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_dfidx")
    }
  }

  test("lake-stored band index: bucketBy is a manifest property — appends inherit, COW + compaction preserve it, probes read with zero stored-side exchanges") {
    import graft.sources.Lake
    val d = "/root/testdata/sf0.001"
    val root = java.nio.file.Files.createTempDirectory("graft-lake-bidx")
      .resolve("t").toString
    val docs = Tables.documents(spark, d)
    val base1 = docs.where(pmod(col("doc_id"), lit(10)) < 4)
    val base2 = docs.where(pmod(col("doc_id"), lit(10)).between(4, 7))
    val batch = docs.where(pmod(col("doc_id"), lit(10)) >= 8)
    val idx1 = graft.operators.Dedup.bandIndex(base1, "doc_id", "text")
    val idx2 = graft.operators.Dedup.bandIndex(base2, "doc_id", "text")
    // the stored index is a REAL lake table now: OCC commit, time
    // travel, change feed — AND the co-located probe layout
    Lake.commitOverwrite(idx1, root, retain = 8,
      bucketBy = Some((4, Seq("band", "bkey"))))
    // the append INHERITS the declared layout (no bucketBy repeated)
    Lake.commitAppend(idx2, root, retain = 8)
    withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      def probe() = graft.operators.Dedup.nearDupsVsIndex(
        batch, Lake.readBucketed(spark, root), "doc_id", "text")
      def assertStoredSideShuffleFree(
          df: org.apache.spark.sql.DataFrame): Unit = {
        val plan = df.queryExecution.executedPlan.toString
          .split("== Initial Plan ==")(0)
        val joinSubtree = plan.substring(plan.indexOf("SortMergeJoin"))
        val scanAt = joinSubtree.indexOf("Bucketed: true")
        assert(scanAt >= 0, s"index must read as a bucketed scan:\n$plan")
        val idxBranch = joinSubtree.substring(
          joinSubtree.lastIndexOf("Sort", scanAt), scanAt)
        assert(!idxBranch.contains("Exchange"),
          s"lake-stored band index must not shuffle:\n$plan")
      }
      val probed = probe()
      assert(rows(probed) === rows(graft.operators.Dedup.nearDupsVsIndex(
        batch, idx1.unionByName(idx2), "doc_id", "text")))
      assertStoredSideShuffleFree(probed)
      // COW DELETE preserves the layout: the rewrite re-stages through
      // the bucketed writer, so the probe stays shuffle-free and the
      // dropped base doc stops pairing
      val victim = probed.select("id_base").orderBy("id_base")
        .limit(1).collect().head.getLong(0)
      Lake.deleteWhere(spark, root, col("id_base") === victim)
      val afterDelete = probe()
      assert(!afterDelete.select("id_base").collect()
        .exists(_.getLong(0) == victim))
      assertStoredSideShuffleFree(afterDelete)
      // compaction collapses the dirs and STILL preserves the layout
      Lake.compactCommitted(spark, root, retain = 8)
      val afterCompact = probe()
      assert(rows(afterCompact) === rows(afterDelete))
      assertStoredSideShuffleFree(afterCompact)
      // refusals: divergent re-bucketing, composing with partitions,
      // z-order on a bucketed table, readBucketed on an unbucketed one
      val re = intercept[IllegalArgumentException] {
        Lake.commitAppend(idx2, root, retain = 8,
          bucketBy = Some((8, Seq("band", "bkey"))))
      }
      assert(re.getMessage.contains("re-bucket"))
      val zo = intercept[IllegalArgumentException] {
        Lake.clusterCommitted(spark, root, Seq("band", "bkey"))
      }
      assert(zo.getMessage.contains("bucketed"))
      val plainRoot = java.nio.file.Files.createTempDirectory("graft-plain")
        .resolve("t").toString
      import spark.implicits._
      Lake.commitOverwrite(Seq((1L, 2L)).toDF("k", "p"), plainRoot)
      val rb = intercept[IllegalArgumentException] {
        Lake.readBucketed(spark, plainRoot)
      }
      assert(rb.getMessage.contains("no bucket layout"))
      // an APPEND cannot introduce bucketing to an existing unbucketed
      // table: its earlier dirs lack the bucket file naming
      val late = intercept[IllegalArgumentException] {
        Lake.commitAppend(Seq((2L, 3L)).toDF("k", "p"), plainRoot,
          bucketBy = Some((4, Seq("k"))))
      }
      assert(late.getMessage.contains("cannot declare a bucket layout"))
    }
  }

  test("composed LAKE layout: partition dirs prune AND the bucket join is shuffle-free on both sides, surviving COW maintenance") {
    import graft.sources.Lake
    import spark.implicits._
    val factRoot = java.nio.file.Files.createTempDirectory("graft-lake-pbfact")
      .resolve("t").toString
    val dimRoot = java.nio.file.Files.createTempDirectory("graft-lake-pbdim")
      .resolve("t").toString
    // the standard 100 TB fact layout: date-ish partitions (scan
    // prunes to the queried range) AND hash buckets on the join key
    // (the join needs no exchange) — on LAKE tables now, so OCC,
    // time travel and COW maintenance ride along
    val fact = (1L to 400L).map(k => (k, 1995L + k % 4, k % 37))
      .toDF("k", "y", "u")
    Lake.commitOverwrite(fact, factRoot, retain = 8,
      partitionBy = Seq("y"), bucketBy = Some((4, Seq("u"))))
    val dim = (0L until 37L).map(u => (u, s"user$u")).toDF("u", "name")
    Lake.commitOverwrite(dim, dimRoot, retain = 8,
      bucketBy = Some((4, Seq("u"))))
    withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      def joined() = Lake.sqlTable(spark, factRoot)
        .where(col("y") === 1996L)
        .join(Lake.readBucketed(spark, dimRoot), Seq("u"))
        .select(col("k"), col("u"), col("name"))
      def assertShape(df: org.apache.spark.sql.DataFrame,
          expect: Set[Seq[Any]]): Unit = {
        assert(rows(df) === expect)
        val plan = df.queryExecution.executedPlan.toString
          .split("== Initial Plan ==")(0)
        val joinSubtree = plan.substring(plan.indexOf("SortMergeJoin"))
        assert(!joinSubtree.contains("Exchange"),
          s"composed lake layout join must not shuffle either side:\n$plan")
      }
      val expect = (1L to 400L).filter(k => 1995L + k % 4 == 1996L)
        .map(k => Seq(k, k % 37, s"user${k % 37}")).toSet
      assertShape(joined(), expect)
      // partition pruning holds on the same handle: 3 of 4 year dirs
      // skipped at planning
      val (_, skippedDirs, _) =
        Lake.resolveWhere(spark, factRoot, col("y") === 1996L)
      assert(skippedDirs.length === 3, s"expected 3 year dirs skipped: $skippedDirs")
      // COW UPDATE preserves BOTH layout halves: per-tuple dirs,
      // bucket-named files, the probe stays shuffle-free
      Lake.updateWhere(spark, factRoot, col("k") === 5L,
        Map("u" -> lit(7L)), retain = 8)
      val expect2 = expect.map {
        case Seq(5L, _, _) => Seq(5L, 7L, "user7")
        case other => other
      }
      assertShape(joined(), expect2)
      assert(Lake.partitionValues(spark, factRoot).count() === 4L)
    }
  }

  test("bucketed lake edges: a shallow clone carries the layout; fold commits refuse on bucketed tables") {
    import graft.sources.Lake
    import spark.implicits._
    val src = java.nio.file.Files.createTempDirectory("graft-lake-bsrc")
      .resolve("t").toString
    val dst = java.nio.file.Files.createTempDirectory("graft-lake-bdst")
      .resolve("t").toString
    Lake.commitOverwrite((1L to 40L).map(k => (k, k % 7)).toDF("k", "u"),
      src, retain = 8, bucketBy = Some((4, Seq("u"))))
    Lake.cloneCommitted(spark, src, dst)
    // the clone reads bucketed (source dirs carry the bucket naming)
    // and its own appends stage bucketed under the inherited property
    assert(Lake.readBucketed(spark, dst).count() === 40L)
    Lake.commitAppend(Seq((41L, 3L)).toDF("k", "u"), dst, retain = 8)
    assert(Lake.readBucketed(spark, dst).count() === 41L)
    // a fold commit would pre-write plain dirs — refused on bucketed
    val e = intercept[IllegalArgumentException] {
      Lake.commitVersion(spark, src, 99L, Seq("v99"), retain = 8)
    }
    assert(e.getMessage.contains("fold commits"))
  }

  test("date-partitioned layout: a partition filter reads N of M directories") {
    val d = "/root/testdata/sf0.001"
    val path = java.nio.file.Files.createTempDirectory("graft-part").toString + "/events"
    val events = Tables.events(spark, d)
      .withColumn("event_date", to_date(col("ts")))
    Bucketing.writePartitioned(events, path, "event_date")

    val all = spark.read.parquet(path)
    val dates = all.select("event_date").distinct().collect().map(_.getDate(0)).sorted
    assert(dates.length > 1, "test data must span several dates for a pruning proof")

    val oneDay = all.where(col("event_date") === lit(dates(0)))
    // collect() executes THIS dataset's physical plan (count() would
    // build a new one whose scan metrics we couldn't inspect)
    assert(oneDay.collect().length > 0)
    // pruning happens at planning: the scan node itself reports how many
    // partition directories survived the partition filter
    val scan = oneDay.queryExecution.executedPlan.collectLeaves().collectFirst {
      case s: org.apache.spark.sql.execution.FileSourceScanExec => s
    }.getOrElse(fail("no FileSourceScanExec in plan"))
    assert(scan.metadata("PartitionFilters").contains("event_date"),
      s"partition filter must reach the scan: ${scan.metadata}")
    assert(scan.metrics("numPartitions").value === 1,
      s"expected 1 of ${dates.length} partition dirs read")
  }

  test("q110 shape: a stored IVF codebook probes with zero added exchanges vs inline") {
    val d = "/root/testdata/sf0.001"
    val root = java.nio.file.Files.createTempDirectory("graft-cbidx")
      .resolve("codebook").toString
    val emb = Tables.embeddings(spark, d)
    val queries = emb.where(col("vec_id") < 8)
    val inlineCb = graft.operators.Similarity.codebookFromLabels(
      emb, "label", "embedding")
    graft.operators.Similarity.storeCodebook(inlineCb, root)
    def probe(cb: org.apache.spark.sql.DataFrame) =
      graft.operators.Similarity.ivfTopK(
        emb, queries, cb, "vec_id", "embedding", k = 5, nprobe = 2)
    val stored = probe(graft.operators.Similarity.loadCodebook(spark, root))
    val inline = probe(inlineCb)
    // identical results: centroids round-trip parquet bit-exactly
    assert(rows(stored) === rows(inline))
    // the stored side must add NOTHING to the plan's exchange census:
    // the codebook is bounded by construction, so it enters as
    // broadcast on both paths — storing it converts per-query
    // derivation into one k-row table read, not a new shuffle
    def census(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
      val plan = df.queryExecution.executedPlan.toString
        .split("== Initial Plan ==")(0)
      ("(?m)^\\s*[+:]?-?\\s*Exchange hashpartitioning".r.findAllIn(plan).size,
        "BroadcastExchange".r.findAllIn(plan).size)
    }
    assert(census(stored) === census(inline),
      s"stored codebook changed the exchange census: ${census(stored)} vs ${census(inline)}")
    // a refresh is an atomic flip; the superseded codebook version
    // stays readable for pinned/in-flight batches (retention horizon)
    val v2 = graft.operators.Similarity.storeCodebook(inlineCb, root)
    assert(rows(probe(graft.operators.Similarity.loadCodebookAt(spark, root, v2 - 1)))
      === rows(inline))
  }
}
