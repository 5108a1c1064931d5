package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.catalyst.expressions.{Ascending, NullsFirst, SortOrder}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shim
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Exact global / per-group ranking WITHOUT a single-reducer window.
  *
  * The naive total order — `row_number().over(Window.orderBy(...))` —
  * moves the whole input to ONE task (WindowExec with no partition
  * spec); at 100 TB that is the plan bug, not a slow plan. This
  * operator computes the identical rank in two balanced passes keyed
  * by the SCORE VALUE itself:
  *
  *  1. local rank within each (group, score) cell — a fine-grained
  *     window whose partition count is the number of distinct
  *     (group, score) pairs, so no reducer owns more than one cell;
  *  2. offsets: rows strictly ahead of each cell, from the
  *     per-(group, score) counts (map-side combined) running-summed
  *     over the DISTINCT-SCORE table and broadcast back.
  *
  * rank = offset + local rank ≡ `row_number() OVER (PARTITION BY group
  * ORDER BY score [DESC], tie)` — exact, deterministic, hash-checkable.
  *
  * Requirements, by design:
  *  - `scoreCol` must be domain-bounded (discrete or quantized —
  *    lengths, integer quality scores, bucketed floats): the offsets
  *    table is |distinct (group, score)| rows and its running sum runs
  *    per group on that small table. Curriculum/quality scores always
  *    are; quantize (`round`, `cast int`) first if not. For a truly
  *    continuous key the alternative is `repartitionByRange` +
  *    per-partition offsets, but that couples correctness to
  *    partition-id stability across AQE replans — the score-bucket
  *    form has no such coupling.
  *  - `tieCol` must be unique per (group, score) cell (an id): ranks
  *    are then a permutation of 1..n within each group.
  *
  * Scale shape: ONE full shuffle of the input (the cell-keyed window);
  * the counts pass map-side combines BEFORE its exchange, so its
  * shuffle moves |distinct cells| partial counts, not the corpus —
  * deliberately NOT a reused copy of the window's full-row exchange
  * (both shapes asserted in RankingSpec). A single score value
  * dominating a group makes one big cell — `tieBucketWidth` splits it
  * with a monotone-in-tie bucket, keeping ranks bit-identical while
  * bounding every window partition (RankingSkewSpec; [[Skew]]'s hash
  * salting is the wrong tool here because it scrambles tie order).
  */
object Ranking {

  /** `row_number() OVER (PARTITION BY groupCols ORDER BY score
    * [DESC], tieCol)` as balanced two-phase ranking (see object doc).
    *
    * @param ascending false ranks the LARGEST score 1 (curriculum
    *                  "hardest/longest first" order)
    * @param tieBucketWidth skew guard for a DOMINANT (group, score)
    *        cell (one score carrying most of a group): sub-divide every
    *        cell by `floor(tie / width)` so no window partition holds
    *        more than ~width ties. The bucket is MONOTONE in the tie —
    *        unlike a hash salt, which would scramble tie order — so the
    *        ranks are bit-identical to the unbucketed ones (proven in
    *        RankingSkewSpec) and the offsets table grows only by
    *        |tie-range|/width rows per hot cell. Requires a non-NULL
    *        numeric tie; pick width ≈ target task rows (e.g. 100k at
    *        cluster scale). None = original per-cell windows.
    * @param tieBucket same guard for non-numeric ties: any expression
    *        MONOTONE NON-DECREASING in the tie ordering (a string
    *        tie's character prefix, a timestamp's day). Correctness
    *        depends on the caller honoring monotonicity — a
    *        non-monotone bucket silently mis-ranks. Wins over
    *        tieBucketWidth when both are set. */
  def rankByScore(
      df: DataFrame, groupCols: Seq[String], scoreCol: String,
      tieCol: String, rankName: String, ascending: Boolean = false,
      tieBucketWidth: Option[Long] = None,
      tieBucket: Option[Column] = None): DataFrame =
    rankWithCells(df, groupCols, scoreCol, tieCol, rankName, ascending,
      tieBucketWidth, tieBucket)._1

  /** rankByScore plus the per-(group, score) cell-count table it
    * builds anyway — [[quantileGate]] derives group totals from the
    * |distinct cells|-row table instead of re-scanning the corpus. */
  private def rankWithCells(
      df: DataFrame, groupCols: Seq[String], scoreCol: String,
      tieCol: String, rankName: String,
      ascending: Boolean,
      tieBucketWidth: Option[Long] = None,
      tieBucket: Option[Column] = None): (DataFrame, DataFrame) = {
    require(!df.columns.contains("__lrank") && !df.columns.contains("__off"),
      "input must not already carry __lrank/__off columns")
    require(!(groupCols :+ scoreCol :+ tieCol).contains(rankName),
      s"rank column '$rankName' collides with an input column")
    tieBucketWidth.foreach(w => require(w >= 1, s"tieBucketWidth must be >= 1, got $w"))
    val g = groupCols.map(col)
    // skew guard: a monotone-in-tie bucket extends the cell key, so a
    // dominant (group, score) cell splits across many window partitions
    // while the overall (score [desc], bucket asc, tie asc) order stays
    // exactly (score [desc], tie asc) — a hash salt would break this
    // integer `div`, not floor(x / double): double division is lossy
    // past 2^53 and ranks must be exact for any 64-bit id tie
    val bucket = tieBucket.orElse(
      tieBucketWidth.map(w => expr(s"CAST(`$tieCol` AS BIGINT) div ${w}L")))
    val withB = bucket.fold(df)(b => df.withColumn("__tb", b))
    val cell = (g :+ col(scoreCol)) ++ bucket.map(_ => col("__tb")).toSeq
    // pass 1: local rank inside each (group, score[, bucket]) cell
    val local = withB.withColumn("__lrank",
      row_number().over(Window.partitionBy(cell: _*).orderBy(col(tieCol)))
        .cast("long"))
    // pass 2: offsets — strictly-better row counts per cell; the
    // running sum runs on the distinct-cell table only
    // asc_nulls_last, not plain asc: Spark's asc default is NULLS
    // FIRST while DuckDB's is NULLS LAST, so an ascending rank over a
    // column with NULL scores would otherwise disagree cross-engine.
    // (desc is NULLS LAST in both engines already.)
    val sOrd = if (ascending) col(scoreCol).asc_nulls_last else col(scoreCol).desc
    val oOrd = sOrd +: bucket.map(_ => col("__tb").asc).toSeq
    val ow = Window.partitionBy(g: _*).orderBy(oOrd: _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cells = withB.groupBy(cell: _*).agg(count(lit(1)).as("__cnt"))
    val offsets = cells
      .withColumn("__off", coalesce(sum(col("__cnt")).over(ow), lit(0L)))
      .select(cell :+ col("__off"): _*)
    // null-SAFE equi-join: groupBy above treats NULL group/score
    // values as ordinary cells (their own partition; desc orders them
    // NULLS LAST, matching the documented row_number semantics in both
    // engines), so the join back must too — a plain `===` would
    // silently drop every NULL-keyed row from the output
    val o = offsets.columns.foldLeft(offsets)((d, c) => d.withColumnRenamed(c, s"__o_$c"))
    val keys = (groupCols :+ scoreCol) ++ bucket.map(_ => "__tb").toSeq
    val cond = keys.map(k => col(k) <=> col(s"__o_$k")).reduce(_ && _)
    val joined = local.join(broadcast(o), cond)
      .withColumn(rankName, col("__o___off") + col("__lrank"))
      .drop("__lrank" +: "__tb" +: o.columns.toSeq: _*)
    (joined, cells)
  }

  /** Keep the top `frac` of each group by score — the per-language /
    * per-source quality gate of a training-data pipeline, in the same
    * balanced shape (no per-group single-reducer window; a group's
    * whole population never meets one task).
    *
    * Keeps `rank <= ceil(frac * n_group)` with the largest scores
    * first and `tieCol` breaking ties, so the kept set is exact and
    * deterministic — not a threshold filter that over- or under-keeps
    * when ties straddle the cut. */
  /** Exact global order statistics (percentile values) WITHOUT a
    * global sort: the two-phase histogram selection a 100 TB quality
    * threshold needs. [[rankByScore]]'s cell machinery assumes coarse
    * scores (few distinct cells); near-unique DOUBLE scores would
    * degrade its offsets table to corpus size, so this takes the
    * classic selection route instead:
    *
    *  1. one aggregate for (count, min, max);
    *  2. bucket counts over `buckets` equal-width value ranges — a
    *     map-side-combinable groupBy whose result (≤ `buckets` rows)
    *     collects to the driver: a BOUNDED model-state sync, the
    *     k-means-centroid shape, never O(corpus);
    *  3. each target rank resolves to its bucket + within-bucket
    *     offset from the prefix counts; only the TARGET buckets'
    *     rows (≈ n/buckets each) are re-read, ranked inside their
    *     bucket by (value, tie), and the offset element selected.
    *
    * The selected element is the exact rank-r order statistic under
    * the total order (value, tie): bucketing is monotone in value, so
    * prefix counts + within-bucket rank compose to the global rank —
    * float bucket-boundary rounding can move rows between adjacent
    * buckets but never reorder them, and the ORACLE need not know the
    * buckets exist (it checks the order statistic directly).
    *
    * Ranks use integer percent arithmetic (`r = ceil(pct·n / 100)` as
    * `(pct·n + 99) div 100`) — a float `ceil(q·n)` can flip on
    * representation error at exactly-divisible boundaries.
    *
    * @param percents integer percentiles in (0, 100]
    * @param tieCol unique per row — makes every rank deterministic
    * @return (pct, rank, value) one row per requested percentile;
    *         empty input yields no rows. NULL values are excluded
    *         (SQL percentile convention); NaN is the caller's problem
    *         (NaN ordering is not portable across engines). */
  def exactQuantiles(
      df: DataFrame, valueCol: String, tieCol: String,
      percents: Seq[Int], buckets: Int = 8192): DataFrame = {
    require(percents.nonEmpty && percents.forall(p => p >= 1 && p <= 100),
      s"percents must be integers in [1, 100], got $percents")
    require(buckets >= 1, s"buckets must be positive, got $buckets")
    val spark = df.sparkSession
    import spark.implicits._
    // persist for the duration of the three phases: they are three
    // INDEPENDENT jobs, and a non-deterministic input (or a lake table
    // whose snapshot flips between jobs) would make n/prefix counts
    // and the phase-3 ranking disagree — wrong or missing percentile
    // rows. The pin also makes phases 2–3 scan cached rows instead of
    // re-reading the source.
    val vals = df.where(col(valueCol).isNotNull)
      .select(col(valueCol).cast("double").as("__v"), col(tieCol).as("__tie"))
      .persist()
    try {
      val stats = vals.agg(
        count(lit(1)).as("n"), min(col("__v")).as("lo"), max(col("__v")).as("hi"))
        .collect().head
      val n = stats.getLong(0)
      if (n == 0L) return Seq.empty[(Int, Long, Double)].toDF("pct", "rank", "value")
      val (lo, hi) = (stats.getDouble(1), stats.getDouble(2))
      val targets = percents.distinct.sorted.map(p => (p, (p.toLong * n + 99L) / 100L))
      // degenerate range: every value equal — every rank selects it
      if (lo == hi)
        return targets.map { case (p, r) => (p, r, lo) }.toDF("pct", "rank", "value")
      val width = (hi - lo) / buckets
      val bucketOf = least(
        floor((col("__v") - lit(lo)) / lit(width)).cast("long"), lit(buckets - 1L))
      // phase 2: ≤ `buckets` fixed-width rows to the driver
      val counts = vals.groupBy(bucketOf.as("__b")).agg(count(lit(1)).as("__c"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val prefix = (0L until buckets.toLong).scanLeft(0L) {
        case (acc, b) => acc + counts.getOrElse(b, 0L)
      } // prefix(b) = rows in buckets < b
      val plan = targets.map { case (p, r) =>
        // bucket b spans global ranks prefix(b)+1 .. prefix(b+1); the
        // last prefix entry below r identifies it (prefix nondecreasing,
        // linear scan over <= buckets entries is driver-trivial)
        val b = prefix.lastIndexWhere(_ < r)
        (p, r, b.toLong, r - prefix(b)) // within-bucket rank
      }
      // phase 3: rank only the target buckets' rows inside their
      // bucket; materialized eagerly (≤ |percents| rows) so the result
      // survives the unpersist below — a lazy plan would re-read the
      // (possibly changed) source after the pin is gone
      val wanted = broadcast(plan.toDF("pct", "rank", "__wb", "__lrank"))
      val selected = vals.withColumn("__b", bucketOf)
        .join(broadcast(plan.map(_._3).distinct.toDF("__b")), Seq("__b"), "left_semi")
        .withColumn("__r",
          row_number().over(
            Window.partitionBy(col("__b")).orderBy(col("__v"), col("__tie")))
            .cast("long"))
        .join(wanted,
          col("__b") === col("__wb") && col("__r") === col("__lrank"))
        .select(col("pct"), col("rank"), col("__v").as("value"))
        .collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2)))
        .toSeq
      selected.toDF("pct", "rank", "value")
    } finally { vals.unpersist(); () }
  }

  def quantileGate(
      df: DataFrame, groupCols: Seq[String], scoreCol: String,
      tieCol: String, frac: Double, rankName: String = "rank"): DataFrame = {
    require(frac > 0.0 && frac <= 1.0, s"frac must be in (0, 1], got $frac")
    val (ranked, cells) = rankWithCells(df, groupCols, scoreCol, tieCol,
      rankName, ascending = false)
    // group totals from the |distinct cells| table, NOT a third scan of
    // the corpus — the cells aggregate is the same subtree the offsets
    // pass shuffles, so its exchange is planned once and reused
    val totals =
      if (groupCols.isEmpty) cells.groupBy().agg(sum(col("__cnt")).as("__n"))
      else {
        val t = cells.groupBy(groupCols.map(col): _*).agg(sum(col("__cnt")).as("__n"))
        t.columns.foldLeft(t)((d, c) => d.withColumnRenamed(c, s"__t_$c"))
      }
    val gated =
      if (groupCols.isEmpty) ranked.crossJoin(broadcast(totals))
      else {
        // null-safe: a NULL group is a real group and keeps its quota
        val cond = groupCols.map(k => col(k) <=> col(s"__t_$k")).reduce(_ && _)
        ranked.join(broadcast(totals), cond)
          .withColumnRenamed("__t___n", "__n")
      }
    gated.where(col(rankName) <= ceil(lit(frac) * col("__n")))
      .drop("__n" +: totals.columns.toSeq: _*)
  }

  /** Top k rows per group at BOUNDED state, exact. The idiomatic
    * `row_number().over(Window.partitionBy(group).orderBy(...))` +
    * `rank <= k` shuffles every row to its group's reducer and sorts
    * the whole group there — O(N) shuffle volume, a hot reducer under
    * group skew, and a full sort for an answer of size groups × k.
    * Here a [[graft.functions.TopK]] typed Aggregator holds only the
    * k best (score, id) pairs; partial aggregation runs it map-side,
    * so the shuffle moves ≤ groups × k fixed-width pairs per map task
    * and no sort happens anywhere. Small-k per-group leaderboards
    * (k ≪ group size) are exactly the shape that wins at 100 TB.
    *
    * Emits one row per kept (group, rank): groupCols ++ (rankName,
    * idName, scoreName), rank 1-based under (score desc, id asc) —
    * `row_number()` semantics, so the DuckDB twin is the window form.
    * Carries ONLY the id + score through the aggregate; re-join wide
    * payloads on the id afterwards (groups × k rows — broadcastable).
    * NULL scores/ids are filtered first (a NULL never ranks; matches
    * the oracle, where desc NULLS LAST puts them past any finite k
    * only when the group has ≥ k non-null rows — filtering makes the
    * semantics unconditional).
    *
    * `scoreCol` and `idCol` MUST be integral (byte/short/int/long):
    * the bounded-state aggregator compares longs, and a silent cast
    * would truncate fractional scores (1.9 → 1) or NULL-out strings —
    * rejected here rather than diverging from row_number() quietly.
    * Fractional scores → pre-scale to a fixed-point long upstream. */
  def groupedTopK(
      df: DataFrame, groupCols: Seq[String], scoreCol: String,
      idCol: String, k: Int, rankName: String = "rk",
      idName: String = "id", scoreName: String = "score"): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    for (c <- Seq(scoreCol, idCol)) {
      val dt = df.schema(c).dataType
      require(Seq(ByteType, ShortType, IntegerType, LongType).contains(dt),
        s"groupedTopK requires an integral $c (byte/short/int/long), got " +
          s"${dt.simpleString}: casting would silently truncate or NULL — " +
          "pre-scale fractional scores to fixed-point long upstream")
    }
    val tk = udaf(new graft.functions.TopK(k))
    val g = groupCols.map(col)
    df.where(col(scoreCol).isNotNull && col(idCol).isNotNull)
      .groupBy(g: _*)
      .agg(tk(col(scoreCol).cast("long"), col(idCol).cast("long")).as("__top"))
      .select((g :+ posexplode(col("__top"))): _*)
      .select((g ++ Seq((col("pos") + 1).cast("long").as(rankName),
        col("col._2").as(idName), col("col._1").as(scoreName))): _*)
  }

  /** `row_number() OVER (ORDER BY orderBy)` of a BOUNDED input — a
    * top-k list, a per-year dimension, a ten-row file — appended as
    * the LONG column `rankName`.
    *
    * The whole input meets in one task, which is right only because it
    * is small by construction; unbounded inputs use [[rankByScore]].
    * The plain unpartitioned window would log WindowExec's
    * single-partition warning on every run (a constant partition key
    * does not help: the optimizer strips it), so instead a global
    * aggregate collects the rows into one array, `array_sort` orders
    * it exactly as `orderBy` does — each key's direction and NULL
    * placement, compared with SQL `<`, so NaN sorts as the largest
    * value — and `posexplode` numbers it. */
  def boundedRowNumber(df: DataFrame, rankName: String, orderBy: Column*): DataFrame = {
    // (key, ascending, nulls first) per order column; a bare column is ASC NULLS FIRST
    val keys = orderBy.map(c => Shim.catalystTree(c) match {
      case s: SortOrder => (Shim.column(s.child), s.direction == Ascending, s.nullOrdering == NullsFirst)
      case _ => (c, true, true)
    })
    def compare(l: Column, r: Column, asc: Boolean, nullsFirst: Boolean): Column = {
      val before = lit(-1); val after = lit(1)
      val (lt, gt) = if (asc) (before, after) else (after, before)
      when(l.isNull && r.isNull, 0)
        .when(l.isNull, if (nullsFirst) before else after)
        .when(r.isNull, if (nullsFirst) after else before)
        .when(l < r, lt).when(l > r, gt).otherwise(0)
    }
    val row = struct(keys.zipWithIndex.map { case ((k, _, _), i) => k.as(s"k$i") } :+
      struct(df.columns.map(c => col(s"`$c`")): _*).as("row"): _*)
    val sorted = array_sort(collect_list(row), (l, r) =>
      keys.zipWithIndex.foldRight(lit(0)) { case (((_, asc, nullsFirst), i), rest) =>
        val c = compare(l.getField(s"k$i"), r.getField(s"k$i"), asc, nullsFirst)
        when(c =!= 0, c).otherwise(rest)
      })
    df.agg(sorted.as("__sorted"))
      .select(posexplode(col("__sorted")))
      .select(col("col.row.*"), (col("pos") + 1).cast(LongType).as(rankName))
  }
}
