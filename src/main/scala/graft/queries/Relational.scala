package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.DecimalType
import graft.sources.Tables
import graft.operators.Dedup

/** Relational operator coverage over the TPC-H-ish tables — scans,
  * projections/filters (SURVEY.md §2.3), joins (§2.4), aggregations
  * (§2.5), windows/sorts/top-k/set-ops (§2.6), scalar functions (§2.7).
  *
  * Every query is written so the physical plan is the one you'd want at
  * 100 TB: filters/projections reach the parquet scan, dimension sides
  * are broadcast, fact-fact joins shuffle once on their keys, and
  * aggregates get map-side partial aggregation for free.
  */
object Relational {

  /** Exact, order-independent sum of a DOUBLE measure. */
  private def dsum(c: String): org.apache.spark.sql.Column =
    sum(col(c).cast(DecimalType(18, 2))).cast("double")

  val all: Seq[Q] = Seq(

    // A2/A4/P4 — grouped aggregation with filter pushdown (TPC-H Q1 shape).
    Q("q01_pricing_summary",
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .where(col("l_shipdate") <= lit("1998-09-02 00:00:00").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum("l_quantity").as("sum_qty"),
          dsum("l_extendedprice").as("sum_base_price"),
          sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
            (lit(1) - col("l_discount").cast(DecimalType(18, 2))))
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },

    // S/P1/P4 — projection + range filter, pushed to the parquet scan.
    Q("q02_filter_pushdown",
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
        |  AND l_shipdate < TIMESTAMP '1995-04-01 00:00:00'
        |  AND l_discount > 0.05
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .where(col("l_shipdate") >= lit("1995-01-01 00:00:00").cast("timestamp") &&
          col("l_shipdate") < lit("1995-04-01 00:00:00").cast("timestamp") &&
          col("l_discount") > 0.05)
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")
    },

    // J — broadcast hash join fact×dim (dim is tiny → no fact shuffle).
    Q("q03_broadcast_join",
      """SELECT p_brand,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE p_size < 10
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .join(broadcast(Tables.part(s, d).where(col("p_size") < 10)),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(dsum("l_extendedprice").as("revenue"), count(lit(1)).as("n_items"))
        .orderBy(col("p_brand"))
    },

    // J4 — semi join (EXISTS) + aggregation (TPC-H Q4 shape).
    Q("q04_semijoin_exists",
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
      val li = Tables.lineitem(s, d)
      o.join(li,
          o("o_orderkey") === li("l_orderkey") && li("l_shipdate") > o("o_orderdate"),
          "left_semi")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("order_count"))
        .orderBy(col("o_orderpriority"))
    },

    // J — multi-way star join: dims broadcast, facts shuffle on keys once.
    Q("q05_star_join",
      """SELECT n_name,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders   ON c_custkey = o_custkey
        |JOIN lineitem ON l_orderkey = o_orderkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |WHERE r_name = 'ASIA'
        |GROUP BY n_name ORDER BY n_name""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"))
        .join(Tables.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))
        .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables.region(s, d).where(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(sum(col("l_extendedprice").cast(DecimalType(18, 2)) *
          (lit(1) - col("l_discount").cast(DecimalType(18, 2))))
          .cast("double").as("revenue"))
        .orderBy(col("n_name"))
    },

    // J3 — anti join: customers that never ordered (Load.is_in_base shape,
    // /root/reference/dags/Load.py:8-9, as a single hash anti-join).
    Q("q06_anti_join",
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
        .select("c_custkey", "c_name")
        .orderBy("c_custkey")
    },

    // J — outer join preserving empty groups + NULL-safe aggregates.
    Q("q08_outer_join_agg",
      """SELECT c_custkey,
        |  count(o_orderkey) AS n_orders,
        |  CAST(coalesce(sum(CAST(o_totalprice AS DECIMAL(18,2))), 0) AS DOUBLE) AS total_spend
        |FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin) { (s, d) =>
      Tables.customer(s, d)
        .join(Tables.orders(s, d), col("c_custkey") === col("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(
          count(col("o_orderkey")).as("n_orders"),
          coalesce(sum(col("o_totalprice").cast(DecimalType(18, 2))), lit(0))
            .cast("double").as("total_spend"))
        .orderBy(col("c_custkey"))
    },

    // W — ranking window: top-3 orders per customer, total order pinned.
    Q("q09_window_rank",
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      Tables.orders(s, d)
        .withColumn("rn", row_number().over(w))
        .where(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
        .orderBy("o_custkey", "rn")
    },

    // W — frame-spec running aggregate (exact decimal, then double).
    Q("q10_window_running",
      """SELECT o_custkey, o_orderkey,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
        |    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_spend
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.orders(s, d)
        .select(
          col("o_custkey"), col("o_orderkey"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).over(w)
            .cast("double").as("running_spend"))
        .orderBy("o_custkey", "o_orderkey")
    },

    // W — analytic lag: previous order date + exact gap via interval arithmetic.
    Q("q11_window_lag",
      """SELECT o_custkey, o_orderkey, o_orderdate,
        |  lag(o_orderdate) OVER (PARTITION BY o_custkey
        |                         ORDER BY o_orderdate, o_orderkey) AS prev_orderdate
        |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, d)
        .select(
          col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
          lag(col("o_orderdate"), 1).over(w).as("prev_orderdate"))
        .orderBy("o_custkey", "o_orderkey")
    },

    // Top-k: Spark plans TakeOrderedAndProject — no global sort of the fact.
    Q("q12_topk",
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .limit(10)
    },

    // A1 — deterministic keep-first dedup (reference Main.py:28-47 repair).
    Q("q13_dedup_keepfirst",
      """SELECT o_custkey, o_orderstatus, o_orderkey FROM (
        |  SELECT o_custkey, o_orderstatus, o_orderkey,
        |    row_number() OVER (PARTITION BY o_custkey, o_orderstatus
        |                       ORDER BY o_orderkey) AS rn
        |  FROM orders)
        |WHERE rn = 1 ORDER BY o_custkey, o_orderstatus""".stripMargin) { (s, d) =>
      Dedup.keepFirst(Tables.orders(s, d), Seq("o_custkey", "o_orderstatus"), "o_orderkey")
        .select("o_custkey", "o_orderstatus", "o_orderkey")
        .orderBy("o_custkey", "o_orderstatus")
    },

    // A — ROLLUP grouping sets (absent in reference; category fill-in §2.5).
    Q("q14_rollup",
      """SELECT coalesce(o_orderpriority, 'ALL') AS priority,
        |  coalesce(o_orderstatus, 'ALL') AS status,
        |  count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
        |ORDER BY priority, status""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .rollup(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), dsum("o_totalprice").as("total"))
        .select(
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          col("n"), col("total"))
        .orderBy("priority", "status")
    },

    // Set ops: INTERSECT / EXCEPT / UNION (distinct semantics in both engines).
    Q("q15_setops",
      """SELECT o_custkey FROM (
        |  (SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
        |   INTERSECT
        |   SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
        |  UNION
        |  (SELECT o_custkey FROM orders WHERE o_orderstatus = 'P'
        |   EXCEPT
        |   SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'))
        |ORDER BY o_custkey""".stripMargin) { (s, d) =>
      val o = Tables.orders(s, d)
      def ks(st: String) = o.where(col("o_orderstatus") === st).select("o_custkey")
      ks("F").intersect(ks("O"))
        .union(ks("P").except(ks("F")))
        .distinct()
        .orderBy("o_custkey")
    },

    // Distinct aggregates.
    Q("q16_distinct_agg",
      """SELECT o_orderstatus,
        |  count(DISTINCT o_custkey) AS n_customers,
        |  count(*) AS n_orders,
        |  CAST(sum(DISTINCT CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_distinct_price
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderstatus"))
        .agg(
          countDistinct(col("o_custkey")).as("n_customers"),
          count(lit(1)).as("n_orders"),
          sum_distinct(col("o_totalprice").cast(DecimalType(18, 2)))
            .cast("double").as("sum_distinct_price"))
        .orderBy(col("o_orderstatus"))
    },

    // Scalar CASE/bucketing.
    Q("q17_case_buckets",
      """SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
        |            WHEN o_totalprice < 150000 THEN 'medium'
        |            ELSE 'large' END AS bucket,
        |  count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1 ORDER BY bucket""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .withColumn("bucket",
          when(col("o_totalprice") < 50000, "small")
            .when(col("o_totalprice") < 150000, "medium")
            .otherwise("large"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n"), dsum("o_totalprice").as("total"))
        .orderBy(col("bucket"))
    },

    // F2 — calendar decomposition (reference Transform.py:61-68).
    Q("q18_datetime_parts",
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS y,
        |  CAST(month(o_orderdate) AS BIGINT) AS m,
        |  count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY 1, 2 ORDER BY y, m""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .groupBy(
          year(col("o_orderdate")).cast("long").as("y"),
          month(col("o_orderdate")).cast("long").as("m"))
        .agg(count(lit(1)).as("n"), dsum("o_totalprice").as("total"))
        .orderBy("y", "m")
    },

    // F3/F5 — string function battery (reference Transform.py:15-16 family).
    Q("q19_strings",
      """SELECT p_partkey,
        |  lower(p_type) AS type_lower,
        |  upper(p_brand) AS brand_upper,
        |  substr(p_name, 1, 12) AS name_prefix,
        |  CAST(length(p_name) AS BIGINT) AS name_len,
        |  replace(p_type, ' ', '_') AS type_snake,
        |  concat_ws('|', p_brand, p_type) AS brand_type,
        |  translate(p_name, ',;', '  ') AS name_clean
        |FROM part ORDER BY p_partkey""".stripMargin) { (s, d) =>
      Tables.part(s, d)
        .select(
          col("p_partkey"),
          lower(col("p_type")).as("type_lower"),
          upper(col("p_brand")).as("brand_upper"),
          substring(col("p_name"), 1, 12).as("name_prefix"),
          length(col("p_name")).cast("long").as("name_len"),
          regexp_replace(col("p_type"), " ", "_").as("type_snake"),
          concat_ws("|", col("p_brand"), col("p_type")).as("brand_type"),
          translate(col("p_name"), ",;", "  ").as("name_clean"))
        .orderBy("p_partkey")
    },

    // Math function battery (exact double ops only: floor/ceil/abs/mod).
    Q("q21_math",
      """SELECT l_orderkey, l_linenumber,
        |  CAST(floor(l_extendedprice) AS BIGINT) AS price_floor,
        |  CAST(ceil(l_discount * 100) AS BIGINT) AS disc_pct,
        |  abs(l_quantity - 25) AS qty_dev,
        |  l_partkey % 10 AS pk_mod,
        |  greatest(l_quantity, 10.0) AS qty_min10,
        |  least(l_tax, 0.05) AS tax_cap
        |FROM lineitem WHERE l_orderkey < 1000
        |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, d) =>
      Tables.lineitem(s, d)
        .where(col("l_orderkey") < 1000)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          floor(col("l_extendedprice")).as("price_floor"),
          ceil(col("l_discount") * 100).as("disc_pct"),
          abs(col("l_quantity") - 25).as("qty_dev"),
          (col("l_partkey") % 10).as("pk_mod"),
          greatest(col("l_quantity"), lit(10.0)).as("qty_min10"),
          least(col("l_tax"), lit(0.05)).as("tax_cap"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // Cross join — small dim × small derived dim (absent in reference;
    // §2.4 category fill-in). Both sides tiny → BroadcastNestedLoopJoin.
    Q("q07_cross_join",
      """SELECT r_name, o_orderstatus AS status
        |FROM region CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders)
        |ORDER BY r_name, status""".stripMargin) { (s, d) =>
      Tables.region(s, d)
        .crossJoin(Tables.orders(s, d).select("o_orderstatus").distinct())
        .select(col("r_name"), col("o_orderstatus").as("status"))
        .orderBy("r_name", "status")
    },

    // CUBE grouping sets — all 4 grouping combinations in one pass
    // (partial aggregation expands grouping ids map-side; one shuffle).
    Q("q25_cube",
      """SELECT coalesce(o_orderpriority, 'ALL') AS priority,
        |  coalesce(o_orderstatus, 'ALL') AS status,
        |  count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY CUBE(o_orderpriority, o_orderstatus)
        |ORDER BY priority, status""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .cube(col("o_orderpriority"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), dsum("o_totalprice").as("total"))
        .select(
          coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          col("n"), col("total"))
        .orderBy("priority", "status")
    },

    // A3/A5 — deterministic argmax via lexicographic struct max: the
    // reference's idxmax (Transform.py:27-29) as ONE hash aggregate —
    // no window, no second shuffle; tie-break = highest orderkey.
    Q("q26_argmax",
      """SELECT o_custkey, o_orderkey AS best_orderkey, o_totalprice AS best_price
        |FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |                       ORDER BY o_totalprice DESC, o_orderkey DESC) AS rn
        |  FROM orders)
        |WHERE rn = 1 ORDER BY o_custkey""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_custkey"))
        .agg(max(struct(col("o_totalprice"), col("o_orderkey"))).as("m"))
        .select(
          col("o_custkey"),
          col("m.o_orderkey").as("best_orderkey"),
          col("m.o_totalprice").as("best_price"))
        .orderBy("o_custkey")
    },

    // W — analytic battery: ntile / first_value / nth_value / lead over
    // one totally-ordered window (single sort per partition, shared by
    // all four functions — one Window exec, not four).
    Q("q27_window_battery",
      """SELECT o_custkey, o_orderkey,
        |  ntile(4) OVER w AS quartile,
        |  first_value(o_orderkey) OVER w AS first_orderkey,
        |  nth_value(o_orderkey, 2) OVER w AS second_orderkey,
        |  lead(o_orderkey) OVER w AS next_orderkey
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin) { (s, d) =>
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      Tables.orders(s, d)
        .select(
          col("o_custkey"), col("o_orderkey"),
          ntile(4).over(w).as("quartile"),
          first(col("o_orderkey")).over(w).as("first_orderkey"),
          nth_value(col("o_orderkey"), 2).over(w).as("second_orderkey"),
          lead(col("o_orderkey"), 1).over(w).as("next_orderkey"))
        .orderBy("o_custkey", "o_orderkey")
    },

    // Exact percentiles (linear interpolation — same (n-1)·q order
    // statistic convention in Spark `percentile` and DuckDB
    // `quantile_cont`).
    Q("q28_percentiles",
      """SELECT o_orderstatus,
        |  quantile_cont(o_totalprice, 0.25) AS p25,
        |  quantile_cont(o_totalprice, 0.50) AS p50,
        |  quantile_cont(o_totalprice, 0.75) AS p75
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderstatus"))
        .agg(
          percentile(col("o_totalprice"), lit(0.25)).as("p25"),
          percentile(col("o_totalprice"), lit(0.50)).as("p50"),
          percentile(col("o_totalprice"), lit(0.75)).as("p75"))
        .orderBy("o_orderstatus")
    },

    // Pivot (wide aggregation) — explicit value list so the plan is one
    // pass with no distinct-values pre-query; oracle = FILTER aggregates.
    Q("q29_pivot",
      """SELECT o_orderpriority AS priority,
        |  count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
        |  count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
        |  count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
        |FROM orders GROUP BY 1 ORDER BY priority""".stripMargin) { (s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .select(
          col("o_orderpriority").as("priority"),
          coalesce(col("F"), lit(0L)).as("n_f"),
          coalesce(col("O"), lit(0L)).as("n_o"),
          coalesce(col("P"), lit(0L)).as("n_p"))
        .orderBy("priority")
    },

    // Approximate distinct. The raw HLL++ estimates cannot hash-match
    // DuckDB (different sketch by design), so the checked output is
    // (a) exact count(DISTINCT) twin columns the oracle verifies
    // value-for-value, and (b) within-bound booleans asserting the
    // sketch's estimate landed inside 3× its configured rsd (0.05 →
    // 15%) of the exact count — deterministic for fixed data because
    // HLL++ is deterministic, and the oracle pins them TRUE. The
    // sketch genuinely executes: the booleans derive from it, so it
    // cannot be pruned, and a degraded sketch flips a FALSE and fails
    // the hash compare. (Category coverage §2.5: at 100 TB the sketch
    // is the point — a fixed-width accumulator where exact distinct
    // needs an Expand + full shuffle of the key space; the exact twins
    // here are the sf-scale validation harness for it.)
    Q("q90_approx_distinct",
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS exact_parts,
        |  count(DISTINCT l_orderkey) AS exact_orders,
        |  TRUE AS parts_within_bound,
        |  TRUE AS orders_within_bound
        |FROM lineitem GROUP BY 1 ORDER BY l_returnflag""".stripMargin) { (s, d) =>
      val bound = 3 * 0.05 // 3 sigma at approx_count_distinct's default rsd
      // widen: two exact distincts + two HLL sketches Expand the scan
      // 4x before the first exchange; a one-row-group input would run
      // that whole map side in a single task (guide §2.5 input skew)
      graft.operators.ShuffleWidth.widen(Tables.lineitem(s, d))
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).as("exact_parts"),
          countDistinct(col("l_orderkey")).as("exact_orders"),
          approx_count_distinct(col("l_partkey")).as("__ap"),
          approx_count_distinct(col("l_orderkey")).as("__ao"))
        .select(
          col("l_returnflag"), col("exact_parts"), col("exact_orders"),
          (abs(col("__ap") - col("exact_parts"))
            <= col("exact_parts") * bound).as("parts_within_bound"),
          (abs(col("__ao") - col("exact_orders"))
            <= col("exact_orders") * bound).as("orders_within_bound"))
        .orderBy(col("l_returnflag"))
    })
}
