package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shim
import org.apache.spark.storage.StorageLevel

/** Link-graph analytics: click-transition edge derivation and integer
  * PageRank — the page-importance signal a web-scale training corpus
  * uses for quality weighting (crawl frontier ordering, source-trust
  * priors). The reference has no graph surface at all
  * (/root/reference/dags/Main.py:23 stops at flat scans); this extends
  * its event model the same way [[Funnel]] does, per SURVEY.md §8.
  *
  * Scale design mirrors [[Dedup.connectedComponents]], the repo's
  * other iterative operator: the big immutable side (edges, with
  * out-degree pre-attached) is cached pre-partitioned on the join key
  * ONCE; each iteration shuffles only the fixed-width (node, rank)
  * rank table into that partitioning and partial-aggregates
  * contributions on `dst`. Plan lineage is truncated per iteration
  * with an eager localCheckpoint of the tiny rank table, so the
  * iteration count never deepens the physical plan.
  */
object Graph {

  /** (src, dst) click-transition edges: for each key, consecutive
    * events in (ts, tie) total order yield an edge prev-page → page.
    * One shuffle on the key; the lag window and the NULL drops both
    * ride it. A NULL page (missing/unparseable page field) is not a
    * node: edges into or out of it are dropped — keeping it would put
    * a NULL key in the rank table, where engines disagree on NULL
    * ordering and equality semantics. */
  def clickEdges(
      df: DataFrame, keyCol: String, tsCol: String, tieCol: String,
      pageCol: String): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
    df.select(col(keyCol), col(tsCol), col(tieCol), col(pageCol).as("dst"))
      .withColumn("src", lag(col("dst"), 1).over(w))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .select(col("src").cast("long"), col("dst").cast("long"))
  }

  /** PageRank over (src, dst) edges, `iterations` rounds of
    * rank(p) ← base + d·Σ_{q→p} rank(q)/outdeg(q), with damping
    * d = dampPct/100 and base = (100−dampPct)·(SCALE/N)/100.
    *
    * All arithmetic is 64-bit integer over micro-rank units
    * (SCALE = 10¹²): contributions divide by out-degree with integer
    * `div`, so every sum is order-independent and the result is
    * bit-identical under any partitioning — and to the oracle's
    * recursive CTE running the same formula (floating-point PageRank
    * can never hash-match across engines; exact integer PageRank
    * does, at a rank resolution of 10⁻¹² — far below any ranking
    * decision threshold). Max intermediate: 85·Σcontrib ≤ 85·SCALE ≪
    * 2⁶³.
    *
    * The self-loop trick keeps every node in the aggregate with ONE
    * pass: a zero-weight self edge per node guarantees each node
    * appears as `dst` every round (pure sinks and never-linked nodes
    * would otherwise vanish from the group-by), without a second join
    * against the node list per iteration. Pure-sink rank leaks
    * (standard simplified PageRank) — identically in both engines.
    *
    * `nodes.count()` is one driver-side scalar (the
    * [[Dedup.connectedComponents]] convergence-probe precedent), not a
    * collect of data.
    * @return (p, rank) — rank in micro-units of SCALE */
  def pageRank(
      edges: DataFrame, iterations: Int, dampPct: Int = 85): DataFrame = {
    require(iterations >= 1 && iterations <= 100,
      s"iterations must be in [1, 100], got $iterations")
    require(dampPct >= 0 && dampPct <= 100,
      s"dampPct must be in [0, 100], got $dampPct")
    val scale = 1000000000000L
    val spark = edges.sparkSession
    val e0 = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // Loop shuffle-width hygiene is the shared [[ShuffleWidth]]
      // policy (measured here: 5.5s → 4.1s isolated at sf0.1). The e2
      // cache is built on the narrowed session so its partitioning
      // matches the width the loop's per-round exchanges plan with —
      // a cache built at session width would force either a re-exchange
      // of the edge side every round or full-width rank shuffles.
      val m = ShuffleWidth.narrowedCount(e0)
      val e = Shim.rebind(
        ShuffleWidth.narrowed(spark, ShuffleWidth.rowsWidth(m)), e0)
      var e2Cache: Option[DataFrame] = None
      try {
        val nodes = e.select(col("src").as("p"))
          .unionByName(e.select(col("dst").as("p"))).distinct()
        val n = nodes.count()
        // empty edge set: no nodes, empty result (0-row partitions
        // at 100 TB must not throw) — skip the iteration entirely
        val init = if (n == 0) scale else scale / n
        val base = ((100L - dampPct) * init) / 100L
        val deg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
        // out-degree rides the cached edge rows: the per-iteration
        // join touches ONE build side, not two; the uniform restart
        // base rides every node's single self-loop row (`sb`), the
        // exact shape [[personalizedPageRank]] uses for seed bases
        val linked = e.join(deg, Seq("src"))
          .withColumn("w", lit(1)).withColumn("sb", lit(0L))
        val loops = nodes.select(col("p").as("src"), col("p").as("dst"),
          lit(null).cast("long").as("outdeg"), lit(0).as("w"),
          lit(base).as("sb"))
        val e2 = linked.unionByName(loops)
          .repartition(col("src"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        e2Cache = Some(e2)
        val ranks0 = nodes.select(col("p"), lit(init).as("r"))
        Shim.rebind(spark,
          if (n == 0) ranks0.select(col("p"), col("r").as("rank"))
          else dampedRankLoop(e2, ranks0, iterations, dampPct))
      } finally { e2Cache.foreach(_.unpersist()); () }
    } finally { e0.unpersist(); () }
  }

  /** The shared damped-rank round loop over an e2 table of (src, dst,
    * outdeg, w, sb) rows: real edges carry w=1/sb=0; each node's ONE
    * self-loop row carries w=0 and that node's restart base in `sb`,
    * so a single partial-aggregatable pass computes
    * r(p) ← sb(p) + d·Σ_{q→p} r(q) div outdeg(q). Bit-exactness-
    * critical and shared by BOTH public entry points ([[pageRank]] =
    * uniform base on every loop row, [[personalizedPageRank]] = seed
    * bases only), so the integer aggregate and the measured
    * lineage-truncation cadence (every 3rd round — an eager
    * localCheckpoint is a whole extra job; 4.1s → 3.6s at sf0.1)
    * cannot drift apart. */
  private def dampedRankLoop(e2: DataFrame, ranks0: DataFrame,
      iterations: Int, dampPct: Int): DataFrame = {
    var ranks = ranks0.localCheckpoint(true)
    for (i <- 1 to iterations) {
      ranks = e2.join(ranks.withColumnRenamed("p", "src"), Seq("src"))
        .groupBy(col("dst").as("p"))
        // one SQL expression, all integral ops (div, not IEEE
        // divide): BIGINT end to end, no 2^53 caveat
        .agg(expr(s"sum(sb) + (($dampPct * " +
          "sum(CASE WHEN w = 1 THEN r div outdeg ELSE 0 END)) div 100)")
          .as("r"))
      if (i % 3 == 0 || i == iterations) ranks = ranks.localCheckpoint(true)
    }
    ranks.select(col("p"), col("r").as("rank"))
  }

  /** Per-node TRIANGLE COUNTS over the undirected simple graph induced
    * by (src, dst) edges — the local-clustering signal (spam rings,
    * community density) a link-graph quality prior uses next to
    * PageRank. Direction and multiplicity are dropped; self-loops are
    * not triangles.
    *
    * Scale shape is the standard DEGREE-ORDERING compact-forward
    * algorithm: orient every edge from the (degree, id)-smaller
    * endpoint to the larger, so each triangle is found EXACTLY ONCE at
    * its lowest-ranked vertex, and the wedge self-join fans out from
    * out-degrees bounded by O(√m) — total wedge work O(m^1.5)
    * regardless of skew (a celebrity node of degree 10⁶ contributes
    * wedges only through its low-degree neighbors, not deg² pairs).
    * Every step is an equi-join key shuffle; nothing is cartesian and
    * no adjacency list needs to fit in memory.
    * @return (p, triangles) — nodes in ≥1 triangle */
  def triangleCounts(edges: DataFrame): DataFrame = {
    // canonical simple undirected edge set
    val e = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b") && col("a").isNotNull && col("b").isNotNull)
      .distinct()
    val deg = e.select(col("a").as("p"))
      .unionAll(e.select(col("b").as("p")))
      .groupBy("p").agg(count(lit(1)).as("deg"))
    // orient low rank → high rank, rank = (deg, id)
    val withDeg = e
      .join(deg.select(col("p").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("p").as("b"), col("deg").as("db")), Seq("b"))
    val directed = withDeg.select(
      when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
        struct(col("a").as("u"), col("b").as("v")))
        .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v"))
    // wedges at the lowest-ranked vertex; id order canonicalizes the pair
    val wedges = directed.select(col("u"), col("v").as("x"))
      .join(directed.select(col("u"), col("v").as("y")), Seq("u"))
      .where(col("x") < col("y"))
    // close the wedge against the canonical edge set
    val tri = wedges.join(e,
      wedges("x") === e("a") && wedges("y") === e("b"))
      .select(col("u"), col("x"), col("y"))
    tri.select(col("u").as("p"))
      .unionAll(tri.select(col("x").as("p")))
      .unionAll(tri.select(col("y").as("p")))
      .groupBy("p").agg(count(lit(1)).as("triangles"))
  }

  /** PERSONALIZED PageRank: rank mass restarts onto the SEED set
    * instead of uniformly — TrustRank proper, the weighted complement
    * of [[bfsDistances]]'s hop counts (how much seed trust flows to a
    * page, not merely how far it sits). Same integer-exact machinery
    * as [[pageRank]]: micro-rank units, integer div per contribution,
    * bit-identical to the oracle's unrolled CTE under any
    * partitioning. The restart base rides the self-loop rows as a
    * per-node `sb` column (seedBase on a seed's loop, 0 elsewhere), so
    * the per-round aggregate stays ONE pass with no extra join —
    * r(p) ← sb(p) + d·Σ_{q→p} r(q)/outdeg(q). Nodes unreachable from
    * the seeds legitimately hold rank 0 and stay in the result
    * (deterministic shape). Node set = graph nodes ∪ seeds, so an
    * isolated seed keeps its restart mass.
    * @return (p, rank) — rank in micro-units of SCALE, Σ ≈ SCALE */
  def personalizedPageRank(
      edges: DataFrame, seeds: DataFrame, iterations: Int,
      dampPct: Int = 85): DataFrame = {
    require(iterations >= 1 && iterations <= 100,
      s"iterations must be in [1, 100], got $iterations")
    require(dampPct >= 0 && dampPct <= 100,
      s"dampPct must be in [0, 100], got $dampPct")
    val scale = 1000000000000L
    val spark = edges.sparkSession
    val e0 = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val m = ShuffleWidth.narrowedCount(e0)
      val loop = ShuffleWidth.narrowed(spark, ShuffleWidth.rowsWidth(m))
      val e = Shim.rebind(loop, e0)
      var e2Cache: Option[DataFrame] = None
      try {
        // the caller's seed plan is arbitrary (often derived from
        // these very edges) and is consumed three times below —
        // materialize the small id list ONCE, or every use replays
        // the caller's full lineage
        val s = Shim.rebind(loop, seeds).select(col("p").cast("long"))
          .where(col("p").isNotNull).distinct().localCheckpoint(true)
        val nodes = e.select(col("src").as("p"))
          .unionByName(e.select(col("dst").as("p")))
          .unionByName(s).distinct()
        val nSeeds = s.count()
        val seedInit = if (nSeeds == 0) 0L else scale / nSeeds
        val seedBase = ((100L - dampPct) * seedInit) / 100L
        val deg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
        val linked = e.join(deg, Seq("src"))
          .withColumn("w", lit(1)).withColumn("sb", lit(0L))
        // the seed flag RIDES the loop rows' `w` column (-1 = seed
        // loop, 0 = plain loop; the round aggregate only tests
        // w = 1, so loop rows may carry anything else): both the
        // restart bases AND the initial ranks then derive from the
        // ONE cached e2 build — no separate flagged-nodes join or
        // extra eager checkpoint. (`sb` alone could not flag seeds:
        // dampPct=100 makes every seedBase 0 while seedInit is not.)
        val loops = nodes.join(s.withColumn("__s", lit(1)), Seq("p"), "left")
          .select(col("p").as("src"), col("p").as("dst"),
            lit(null).cast("long").as("outdeg"),
            when(col("__s").isNotNull, lit(-1)).otherwise(lit(0)).as("w"),
            when(col("__s").isNotNull, lit(seedBase)).otherwise(lit(0L)).as("sb"))
        val e2 = linked.unionByName(loops)
          .repartition(col("src"))
          .persist(StorageLevel.MEMORY_AND_DISK)
        e2Cache = Some(e2)
        // initial ranks read back out of the cached loop rows — the
        // first evaluation (ranks0's checkpoint inside the loop)
        // populates the e2 cache as a side effect
        val ranks0 = e2.where(col("w") =!= 1).select(col("src").as("p"),
          when(col("w") === -1, lit(seedInit)).otherwise(lit(0L)).as("r"))
        Shim.rebind(spark,
          if (m == 0 && nSeeds == 0)
            ranks0.select(col("p"), col("r").as("rank"))
          else dampedRankLoop(e2, ranks0, iterations, dampPct))
      } finally { e2Cache.foreach(_.unpersist()); () }
    } finally { e0.unpersist(); () }
  }

  /** Multi-source BFS over directed (src, dst) edges: the minimum hop
    * count from ANY seed to each reachable node, capped at `maxDepth`
    * — the crawl-frontier / link-distance-from-trusted-set signal
    * next to [[pageRank]]'s importance prior.
    *
    * FRONTIER formulation, not whole-table relaxation: each round
    * joins only the nodes discovered LAST round against the edge
    * table (cached pre-partitioned on `src` once, so the per-round
    * shuffle is the frontier, never the edges or the accumulated
    * distances), anti-joins the known set, and stops on the first
    * empty frontier — a diameter-6 graph costs 6 rounds regardless of
    * `maxDepth`. Hop counts are integers; the result is bit-identical
    * under any partitioning and to the oracle's recursive CTE. The
    * empty-frontier probe is one boolean job on a checkpointed
    * frontier (the [[Dedup.connectedComponents]] convergence-probe
    * precedent). Seeds themselves report distance 0, present in the
    * graph or not.
    * @return (p, dist) for every node within `maxDepth` hops */
  def bfsDistances(edges: DataFrame, seeds: DataFrame,
      maxDepth: Int): DataFrame = {
    require(maxDepth >= 0 && maxDepth <= 64,
      s"maxDepth must be in [0, 64], got $maxDepth")
    val spark = edges.sparkSession
    val e = edges.select(col("src").cast("long"), col("dst").cast("long"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
    val m = ShuffleWidth.narrowedCount(e)
    val loop = ShuffleWidth.narrowed(spark, ShuffleWidth.rowsWidth(m))
    var adjCache: Option[DataFrame] = None
    try {
      val adj = Shim.rebind(loop, e).repartition(col("src"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      adjCache = Some(adj)
      var dist = Shim.rebind(loop, seeds).select(col("p").cast("long"))
        .where(col("p").isNotNull).distinct()
        .select(col("p"), lit(0L).as("dist")).localCheckpoint(true)
      var frontier = dist.select("p").localCheckpoint(true)
      var depth = 0L
      var done = frontier.isEmpty || m == 0
      while (depth < maxDepth && !done) {
        depth += 1
        val next = adj
          .join(frontier.withColumnRenamed("p", "src"), Seq("src"))
          .select(col("dst").as("p")).distinct()
          .join(dist, Seq("p"), "left_anti")
          .localCheckpoint(true)
        done = next.isEmpty
        if (!done) {
          dist = dist
            .unionByName(next.select(col("p"), lit(depth).as("dist")))
            .localCheckpoint(true)
          frontier = next
        }
      }
      Shim.rebind(spark, dist)
    } finally { adjCache.foreach(_.unpersist()); () }
  }

  /** Synchronous LABEL-PROPAGATION community detection over the
    * undirected simple graph induced by (src, dst) — the
    * domain-clustering signal next to [[pageRank]] (importance) and
    * [[triangleCounts]] (density). Every node starts as its own label;
    * each round it adopts the most frequent label among its neighbors,
    * ties broken to the SMALLEST label — fully deterministic, so a
    * fixed round count is oracle-exact (the float-free analog of the
    * q91 discipline; classic async LPA is run-order-dependent and
    * could never hash).
    *
    * Scale shape follows [[pageRank]]: the symmetric adjacency is
    * cached pre-partitioned on the join key once; each round shuffles
    * only the fixed-width (node, label) table through one join and a
    * two-level count/argmax aggregate (both partial-aggregatable), and
    * lineage truncates every third round.
    * @return (p, label) — label = smallest-id convention per community */
  def labelPropagation(edges: DataFrame, iterations: Int): DataFrame = {
    require(iterations >= 1 && iterations <= 50,
      s"iterations must be in [1, 50], got $iterations")
    val spark = edges.sparkSession
    val e0 = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .where(col("a") =!= col("b") && col("a").isNotNull && col("b").isNotNull)
      .distinct()
    val m = ShuffleWidth.narrowedCount(e0)
    val e = Shim.rebind(
      ShuffleWidth.narrowed(spark, ShuffleWidth.rowsWidth(m)), e0)
    var symCache: Option[DataFrame] = None
    try {
      val sym = e.select(col("a").as("u"), col("b").as("v"))
        .unionByName(e.select(col("b").as("u"), col("a").as("v")))
        .repartition(col("v"))
        .persist(StorageLevel.MEMORY_AND_DISK)
      symCache = Some(sym)
      var labels = sym.select(col("u").as("p")).distinct()
        .select(col("p"), col("p").as("label"))
        .localCheckpoint(true)
      for (i <- 1 to iterations if m > 0) {
        labels = sym.join(labels.withColumnRenamed("p", "v"), Seq("v"))
          .groupBy(col("u"), col("label")).agg(count(lit(1)).as("cnt"))
          .groupBy(col("u").as("p"))
          // argmax cnt, tie -> smallest label: lexicographic struct
          // max over (cnt, -label), all integral
          .agg(max(struct(col("cnt"), (lit(0L) - col("label")).as("negl"))).as("m"))
          .select(col("p"), (lit(0L) - col("m.negl")).as("label"))
        if (i % 3 == 0 || i == iterations) labels = labels.localCheckpoint(true)
      }
      Shim.rebind(spark, labels)
    } finally { symCache.foreach(_.unpersist()); () }
  }
}
