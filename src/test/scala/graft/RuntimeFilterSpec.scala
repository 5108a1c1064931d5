package graft

import org.apache.spark.sql.functions._
import graft.sources.Tables

/** Runtime bloom-filter join pruning — the 100 TB scan-reduction story
  * for selective non-broadcast joins: when the build side of a
  * shuffle join carries a selective filter, Catalyst's
  * InjectRuntimeFilter plants a `might_contain(bloom_filter_agg(...))`
  * predicate on the PROBE side, so fact rows that cannot match are
  * dropped at the scan instead of surviving to the shuffle. On a
  * 1000-executor cluster this is the difference between shuffling the
  * whole fact table and shuffling the matching fraction.
  *
  * The thresholds default to cluster scale (10 GB probe-side scans);
  * the test lowers them so the tiny sf0.001 files qualify, proving the
  * rewrite fires on this engine's join shapes — configuration, not new
  * operator code, which is exactly the point: declarative plans get
  * the optimization for free.
  */
class RuntimeFilterSpec extends SparkSpec {
  private val d = "/root/testdata/sf0.001"

  test("a selective dim filter plants a bloom might_contain on the fact scan side") {
    withConfs(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force shuffle join
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB") {
      val fact = Tables.lineitem(spark, d)
      val dim = Tables.part(spark, d).where(col("p_retailprice") > lit(1800.0))
      val joined = fact.join(dim, fact("l_partkey") === dim("p_partkey"))
        .select(col("l_orderkey"), col("p_retailprice"))
      val optimized = joined.queryExecution.optimizedPlan.toString
      assert(optimized.contains("might_contain"),
        s"expected a bloom-filter runtime predicate on the probe side; plan:\n$optimized")
      // the rewrite must not change results: same rows as the plain join
      val expected = fact.join(dim.hint("broadcast"),
        fact("l_partkey") === dim("p_partkey"))
        .select(col("l_orderkey"), col("p_retailprice"))
      assert(rows(joined) === rows(expected))
    }
  }

  test("without a selective build-side filter no runtime bloom is planted") {
    withConfs(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0") {
      val fact = Tables.lineitem(spark, d)
      val dim = Tables.part(spark, d) // unfiltered: nothing selective to exploit
      val joined = fact.join(dim, fact("l_partkey") === dim("p_partkey"))
      assert(!joined.queryExecution.optimizedPlan.toString.contains("might_contain"))
    }
  }
}
