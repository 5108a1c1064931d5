package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFns

/** Approximate/exact nearest-neighbor search over an embedding column.
  *
  * No counterpart exists in the reference (pandas ETL); this is part of
  * the LLM-data-pipeline surface mandated by the north star
  * (repo:BASELINE.json line 6). Two tiers:
  *
  *  - [[bruteForceTopK]] — exact cosine top-k for a *small query set*
  *    against a large corpus: broadcast the queries, stream the corpus.
  *    Cost O(|corpus|·|queries|), embarrassingly parallel, zero shuffle
  *    on the corpus side until the final per-query top-k (which moves
  *    only k·|queries| rows). This is the right plan even at 100 TB as
  *    long as |queries| is bounded.
  *  - [[lshTopK]] (top-k) and [[bandedCosinePairs]] (pairs over a
  *    threshold) — axis-sign band LSH for query sets too large to
  *    broadcast-cross: every vector is filed under one sign-pattern
  *    bucket per band and only bucket-collisions are scored, inside
  *    the bucket. The vectors ride the one bucket shuffle; no join
  *    brings them back for the rescore.
  */
object Similarity {

  /** Exact top-k by cosine for each row of `queries`.
    *
    * Self-exclusion is by id: `queries` is assumed to be drawn from the
    * same id space as `corpus` (the usual "query by example" case); a
    * row never matches the corpus row with its own id. If queries come
    * from an unrelated table, remap ids first (e.g. negate them) or a
    * coincidental id collision silently drops a valid neighbor.
    *
    * @param roundTo if >= 0, round the score to that many decimals and
    *   rank on the rounded value (with id tie-break) — makes the
    *   selection robust to sub-ulp float differences across engines.
    * @return (query_id, neighbor_id, cosine, rank) */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, roundTo: Int = -1): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val raw = VectorFns.cosine(col("qv"), col("cv"))
    val scored = c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", if (roundTo >= 0) round(raw, roundTo) else raw)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("cosine"), asc("neighbor_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Deterministic pseudo-random dimension pick for hyperplane `plane`:
    * md5-derived index in [0, dims), probed (`plane-0`, `plane-1`, …)
    * until the dim is unused within `taken` — duplicate dims inside one
    * band would make two key bits identical, silently halving that
    * band's discrimination (measured: the unprobed derivation gave
    * q53's band 1 only 7 distinct sign tests of 8). Public because the
    * DuckDB oracle twin is GENERATED from the same picks
    * (graft.queries.Vectors) — freezing the selection here keeps both
    * sides in lockstep. */
  def planeDim(plane: Int, dims: Int, taken: Set[Int] = Set.empty): Int = {
    require(taken.size < dims, "more planes per band than dimensions")
    Iterator.from(0).map { salt =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"plane$plane-$salt".getBytes("UTF-8"))
        .take(7).map("%02x".format(_)).mkString
      Math.floorMod(java.lang.Long.parseLong(hex, 16), dims.toLong).toInt
    }.find(!taken(_)).get
  }

  /** The per-band dimension picks for sign-plane LSH: `planesPerBand`
    * DISTINCT dims per band via [[planeDim]] probing. Both lshTopK and
    * its generated oracle derive from this one list. */
  def bandPlaneDims(bands: Int, planesPerBand: Int, dims: Int): Seq[Seq[Int]] =
    (0 until bands).map { b =>
      (0 until planesPerBand).foldLeft(Seq.empty[Int]) { (acc, j) =>
        acc :+ planeDim(b * planesPerBand + j, dims, acc.toSet)
      }
    }

  /** Sign-plane LSH ANN with OR-amplification: `bands` independent
    * integer keys, each packing the sign bits of `planesPerBand`
    * axis-aligned hyperplanes on md5-chosen dimensions ([[planeDim]]).
    * A vector pair is a candidate if it collides in ANY band (union),
    * which recovers the recall a single AND-only pattern of b·r planes
    * throws away, while each band still bounds its candidates by
    * bucket. Candidates are scored inside their bucket
    * ([[bucketPairs]]); buckets above `maxBucketFreq` members (skew)
    * are dropped. A pair colliding in several bands is kept once, and
    * one exchange on `query_id` serves both that dedup and the top-k
    * window, so the plan has no join and two shuffles. Both are
    * explicit-width repartitions at [[ShuffleWidth.cpuWidth]] of the
    * input: the bucket scoring and the top-k are CPU-bound, and AQE
    * would coalesce either small shuffle into a single task.
    *
    * Axis-aligned planes (sign tests on stored components) instead of
    * random float hyperplanes make candidate generation INTEGER-ONLY:
    * zero float arithmetic before the rescore, so the candidate set —
    * and with the rounded rescore, the whole result — is bit-exactly
    * reproducible in the DuckDB oracle. Same scheme as
    * [[bandedCosinePairs]] but with pseudo-random (not consecutive)
    * dimension picks and per-query top-k output (ANN search, not pair
    * mining). Classic Charikar random-projection LSH trades this
    * reproducibility for rotation-invariance; for normalized embedding
    * corpora the axis-sign family has equivalent collision behavior.
    *
    * Ids are expected unique. A repeated id is not joined back to
    * every vector filed under it: a pair scores the vectors that
    * collided, and when one (query, neighbor) pair collides through
    * several vectors the highest score is kept. NULL ids never pair;
    * a zero vector scores NULL and ranks after every scored neighbor.
    * @return (query_id, neighbor_id, cosine, rank) — approximate */
  def lshTopK(
      df: DataFrame, idCol: String, vecCol: String,
      dims: Int, planesPerBand: Int, k: Int,
      bands: Int = 4, maxBucketFreq: Int = 200, roundTo: Int = 4): DataFrame = {
    val planeDims = bandPlaneDims(bands, planesPerBand, dims)
    val bandKeys = (0 until bands).map(b => signKey(b, vecCol, planeDims(b)))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("cosine"), asc("neighbor_id"))
    val width = ShuffleWidth.cpuWidth(df)
    bucketPairs(df, idCol, vecCol, dims, bandKeys, maxBucketFreq, roundTo, width)(_ =!= _)
      .select(col("id_a").as("query_id"), col("id_b").as("neighbor_id"), col("cosine"))
      .repartition(width, col("query_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(max(col("cosine")).as("cosine"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Scale path for [[cosinePairs]]: axis-sign SimHash banding for
    * candidate generation + exact cosine rescore of candidates only.
    *
    * Band key b = the sign bits of components b·r … b·r+r−1 packed into
    * an integer (`r = bitsPerBand`). Candidate pair = same key in ANY
    * band (OR-amplification), bounded per bucket by `maxBandFreq`.
    * Candidate generation therefore involves ZERO floating-point
    * arithmetic — only `component >= 0` tests on stored values — so the
    * DuckDB oracle twin reproduces the candidate set bit-exactly, and
    * the rescore reuses the rounded-cosine policy of [[cosinePairs]].
    *
    * Candidates are scored inside their bucket ([[bucketPairs]]), so
    * the vectors ride the one bucket shuffle instead of being joined
    * back per candidate; the threshold applies before the pair dedup,
    * so only passing pairs reach its exchange. Both exchanges are
    * explicit-width repartitions at [[ShuffleWidth.cpuWidth]], as in
    * [[lshTopK]]: pairs dedup after the `(id_a, id_b)` exchange, with
    * no map-side partial. Recall depends on the
    * threshold: sign agreement per component is 1 − θ/π, so
    * high-similarity pairs (θ small) collide with high probability
    * while random pairs almost never do. Same repeated-id contract as
    * [[lshTopK]].
    * @return (id_a, id_b, cosine) with id_a < id_b, cosine ≥ threshold */
  def bandedCosinePairs(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, bands: Int = 8, bitsPerBand: Int = 8,
      maxBandFreq: Int = 200, roundTo: Int = 4): DataFrame = {
    val bandKeys = (0 until bands).map { b =>
      signKey(b, vecCol, (0 until bitsPerBand).map(b * bitsPerBand + _))
    }
    val width = ShuffleWidth.cpuWidth(df)
    bucketPairs(df, idCol, vecCol, bands * bitsPerBand, bandKeys, maxBandFreq, roundTo, width)(_ < _)
      .where(col("cosine") >= threshold)
      .repartition(width, col("id_a"), col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(max(col("cosine")).as("cosine"))
  }

  /** Band `b`'s bucket as a `(band, bkey)` struct: bit j of `bkey` is
    * set when the (0-based) component `dims(j)` is >= 0. */
  private def signKey(b: Int, vecCol: String, dims: Seq[Int]): Column = {
    val key = dims.zipWithIndex.map { case (d, j) =>
      when(element_at(col(vecCol), d + 1) >= 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    struct(lit(b).as("band"), key.as("bkey"))
  }

  /** Bucket-local candidate scoring for the sign-band operators: each
    * vector is filed under its `bandKeys` (one `(band, bkey)` struct
    * per band), buckets over `cap` members are dropped, each remaining
    * bucket becomes ONE row carrying its members' `(id, vector)`
    * structs, and the member pairs that `keep(a.id, b.id)` admits are
    * exploded in place and scored with the native cosine, rounded to
    * `roundTo` decimals.
    *
    * One shuffle, no join: a `(band, bkey)` repartition at `width`
    * (the caller's [[ShuffleWidth.cpuWidth]]; AQE never coalesces it,
    * so the scoring runs on every core), and the vectors move with
    * their bucket instead
    * of (band, bkey, id) triples moving first and two vectors being
    * joined onto every candidate afterwards. The shuffle therefore
    * carries bands × the keyed vectors' bytes (more bytes than the
    * triples on a small corpus, in fewer stages), against two vectors
    * per candidate row for the join. The cap is a window count on the
    * bucket key, so it rides that same exchange and its row buffer can
    * spill: a hot bucket (every all-zero vector, and every vector of a
    * non-negative corpus, keys to all ones in every band) is dropped
    * before any array is built, and no collected bucket exceeds `cap`
    * members.
    *
    * Vectors shorter than `minDims` cannot be sign-keyed: under ANSI
    * (Spark 4 default) `element_at` past the end THROWS, and with ANSI
    * off the missing dims would silently read as negative signs,
    * collapsing band keys. Excluding them is explicit: a short (or
    * NULL) vector generates no candidates through this index.
    * @return (id_a, id_b, cosine), one row per bucket collision */
  private def bucketPairs(
      df: DataFrame, idCol: String, vecCol: String, minDims: Int,
      bandKeys: Seq[Column], cap: Int, roundTo: Int, width: Int)(
      keep: (Column, Column) => Column): DataFrame =
    df.where(size(col(vecCol)) >= minDims)
      .select(explode(array(bandKeys: _*)).as("bk"),
        struct(col(idCol).as("id"), col(vecCol).as("v")).as("m"))
      .repartition(width, col("bk"))
      .withColumn("f", count(lit(1)).over(Window.partitionBy(col("bk"))))
      .where(col("f") <= cap)
      .groupBy(col("bk"))
      .agg(collect_list(col("m")).as("ms"))
      .select(col("ms"), explode(col("ms")).as("a"))
      .select(col("a"), explode(col("ms")).as("b"))
      .where(keep(col("a.id"), col("b.id")))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        round(VectorFns.cosine(col("a.v"), col("b.v")), roundTo).as("cosine"))

  /** Embedding-cosine near-duplicate pairs: all (a, b) with
    * cosine ≥ threshold, a < b. Exact all-pairs scoring — the
    * O(N²) SMALL-N BASELINE (exhaustive recall for validation); at
    * corpus scale use [[bandedCosinePairs]] — same scorer and rounding
    * policy, candidates bounded by sign-band buckets instead of N².
    * The threshold is applied to the ROUNDED score so a sub-1e-4 float
    * difference between engines cannot change the selected pair set.
    * One side is round-robined to [[ShuffleWidth.cpuWidth]] tasks, so
    * the quadratic loop runs on every core.
    *
    * `maxRows` is a hard input-size guard: the quadratic baseline is a
    * recall oracle, never a production path, and must not be invokable
    * unbounded on a full-size corpus (100k rows already means 5·10⁹
    * candidate pairs). The probe reads at most `maxRows + 1` rows, a
    * negligible pre-pass next to the N² join it protects. Callers that
    * genuinely need near-dup pairs at corpus scale use
    * [[bandedCosinePairs]] or [[semanticDedup]]. */
  def cosinePairs(
      df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, roundTo: Int = 4,
      maxRows: Int = 100000): DataFrame = {
    val n = df.limit(maxRows + 1).count()
    require(n <= maxRows,
      s"cosinePairs is the O(N²) recall-oracle baseline and refuses inputs over " +
        s"$maxRows rows (got >= $n); use bandedCosinePairs/semanticDedup — same " +
        "scorer and rounding policy — as the scale path")
    // the N² scoring streams this side through a broadcast nested-loop join
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("va"))
      .repartition(ShuffleWidth.cpuWidth(df))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("vb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cosine", round(VectorFns.cosine(col("va"), col("vb")), roundTo))
      .where(col("cosine") >= threshold)
      .select(col("id_a"), col("id_b"), col("cosine"))
  }

  /** Deterministic codebook for [[ivfTopK]]: per-label centroids over
    * all dims with DECIMAL accumulation (order-independent sums, so the
    * oracle twin reproduces the exact doubles). A trained k-means
    * codebook plugs into the same (cell, centroid) shape; labels are
    * the training-free deterministic stand-in.
    * @return (cell, centroid ARRAY<DOUBLE>) */
  def codebookFromLabels(df: DataFrame, labelCol: String, vecCol: String): DataFrame =
    df.select(col(labelCol), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy(col(labelCol), col("pos"))
      .agg((sum(col("v").cast("double")
        .cast(org.apache.spark.sql.types.DecimalType(20, 10))).cast("double") /
        count(lit(1))).as("mean_v"))
      .groupBy(col(labelCol))
      .agg(array_sort(collect_list(struct(col("pos"), col("mean_v")))).as("pairs"))
      .select(col(labelCol).as("cell"), expr("transform(pairs, p -> p.mean_v)").as("centroid"))

  /** Persist an IVF codebook as a manifest-committed table — the
    * STORED half of an incremental ANN index (the q103 band-index /
    * q105 df-multiset pattern applied to vector search). q57 builds
    * its codebook inline per query; storing it lets every arriving
    * batch probe the SAME index: the corpus assignment and the probe
    * both broadcast the stored centroids, so adding a batch costs one
    * read of a k-row table, never a re-train. A centroid refresh
    * (periodic k-means over the grown corpus) is a `commitOverwrite`
    * readers flip to atomically; `retain` keeps superseded codebooks
    * readable so an in-flight batch finishes against the index it
    * started with, and [[loadCodebookAt]] pins a batch to a version
    * explicitly — reproducible ANN results across index refreshes.
    * @return the committed version */
  def storeCodebook(codebook: DataFrame, root: String, retain: Int = 1): Long =
    graft.sources.Lake.commitOverwrite(
      codebook.select(col("cell"), col("centroid")), root, retain)

  /** The live stored codebook (see [[storeCodebook]]). */
  def loadCodebook(spark: org.apache.spark.sql.SparkSession, root: String): DataFrame =
    graft.sources.Lake.readCommitted(spark, root)

  /** A PINNED codebook version — time travel over the index: a batch
    * re-run against the same version reproduces its results exactly
    * even after later refreshes (within the store's retention
    * horizon). */
  def loadCodebookAt(spark: org.apache.spark.sql.SparkSession, root: String,
      version: Long): DataFrame =
    graft.sources.Lake.readCommittedAt(spark, root, version)

  /** IVF-style ANN: a bounded codebook of cell centroids partitions the
    * corpus (each vector assigned to its max-cosine cell); each query
    * probes only its `nprobe` nearest cells and scores exactly within
    * them. The standard inverted-file trade: recall bounded by nprobe,
    * cost bounded by |probed cells| instead of |corpus|.
    *
    * At 100 TB: the codebook broadcasts (it is bounded by construction,
    * like any IVF codebook); assignment is one map over the corpus with
    * a map-side-combinable `max_by` argmax — the shuffle carries ONE
    * row per corpus vector (its cell), never the N×C scored pairs, and
    * the scoring join shuffles on cell with the per-cell lists bounded
    * by the cell sizes. `cell` must be numeric (the deterministic
    * tie-break negates it).
    * @param roundTo assignment and score use the rounded cosine with
    *   id/cell tie-breaks, so sub-1e-4 float drift cannot change the
    *   result set (same policy as [[bruteForceTopK]])
    * @return (query_id, neighbor_id, cosine, rank) — approximate */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame, codebook: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int,
      roundTo: Int = 4): DataFrame = {
    val cb = broadcast(codebook.select(col("cell"), col("centroid")))
    def cellCos(v: Column) = round(VectorFns.cosine(v, col("centroid")), roundTo)
    val assigned = corpus.select(col(idCol), col(vecCol))
      .join(cb)
      .select(col(idCol), col(vecCol), col("cell"), cellCos(col(vecCol)).as("__cos"))
      .groupBy(col(idCol))
      .agg(max_by(struct(col("cell"), col(vecCol).as("v")),
        struct(col("__cos"), negate(col("cell")))).as("m"))
      .select(col("m.cell").as("cell"), col(idCol).as("neighbor_id"), col("m.v").as("cv"))
    val wProbe = Window.partitionBy(col(idCol))
      .orderBy(desc("__cos"), asc("cell"))
    val probes = queries.select(col(idCol), col(vecCol))
      .join(cb)
      .select(col(idCol), col(vecCol), col("cell"), cellCos(col(vecCol)).as("__cos"))
      .withColumn("__rn", row_number().over(wProbe))
      .where(col("__rn") <= nprobe)
      .select(col("cell"), col(idCol).as("query_id"), col(vecCol).as("qv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("cosine"), asc("neighbor_id"))
    probes.join(assigned, Seq("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .withColumn("cosine", round(VectorFns.cosine(col("qv"), col("cv")), roundTo))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Int8 scalar quantization of a float vector: per-vector max-abs
    * scale, `qᵢ = floor(xᵢ·(127/maxabs) + 0.5)` stored as TINYINT —
    * the 4×-smaller index representation an ANN system holds in memory
    * at corpus scale (float32 → int8). Every step is deterministic
    * IEEE arithmetic on exactly-representable values (float→double
    * casts are exact, the scale division and mul are correctly
    * rounded, floor is exact), so quantized codes are bit-identical
    * across engines and partitionings. An all-zero (or empty) vector
    * quantizes to all zeros. Quantization is a write-time, once-per-
    * corpus map stage — the HOF `transform` here is off the query hot
    * path by construction. */
  def quantizeInt8(vec: Column): Column = {
    val d = transform(vec, x => x.cast("double"))
    val m = array_max(transform(d, x => abs(x)))
    when(coalesce(m, lit(0.0)) === 0.0,
      transform(d, _ => lit(0).cast("byte")))
      .otherwise(transform(d,
        x => floor((x * (lit(127.0) / m)) + 0.5).cast("byte")))
  }

  /** Exact top-k over the QUANTIZED codes: integer dot products and an
    * integer-derived cosine — the scoring path of an int8 ANN index.
    * Same broadcast-query shape as [[bruteForceTopK]], but every
    * arithmetic step before the final division is EXACT: int8 products
    * and their sums stay ≤ dims·127² ≪ 2⁵³, so `qdot` and both
    * squared norms are exact integers in any summation order, and the
    * cosine is one correctly-rounded sqrt/mul/div chain on identical
    * inputs in both engines — no accumulation-order caveat at all,
    * which is precisely why int8 scoring reproduces bit-identically
    * across engines while float32 scoring needs the rounding policy.
    * @return (query_id, neighbor_id, qdot, qcos, rank) */
  def quantizedTopK(
      corpus: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, roundTo: Int = 4): DataFrame = {
    def dequant(c: Column) = transform(c, x => x.cast("double"))
    val q = queries.select(col(idCol).as("query_id"),
      dequant(quantizeInt8(col(vecCol))).as("qq"))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      dequant(quantizeInt8(col(vecCol))).as("qc"))
    val qdot = VectorFns.dot(col("qq"), col("qc"))
    val na2 = VectorFns.dot(col("qq"), col("qq"))
    val nb2 = VectorFns.dot(col("qc"), col("qc"))
    // explicit dot/(sqrt·sqrt) instead of the fused cosine: the oracle
    // mirrors this exact operation sequence on the same exact-integer
    // inputs, so the pre-round doubles are bitwise identical
    val qcos = when(na2 * nb2 === 0.0, lit(0.0))
      .otherwise(qdot / (sqrt(na2) * sqrt(nb2)))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("qcos"), asc("neighbor_id"))
    c.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("qdot", qdot.cast("long"))
      .withColumn("qcos", round(qcos, roundTo))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("qdot"),
        col("qcos"), col("rank"))
  }

  /** PRODUCT-QUANTIZATION codebooks: split the `dims`-dim space into
    * `m` contiguous subspaces and give each its own bounded codebook.
    * Cells derive from the SAME per-(label, dim) means as
    * [[codebookFromLabels]] (sliced per subspace), so the construction
    * is fully deterministic and oracle-expressible — the role k-means
    * would play in a production PQ trainer, played here by the label
    * structure (the established codebook policy of q57/q110).
    * @return (sub, cell, centroid[dims/m]) — m·|labels| rows, bounded
    *   model state that broadcasts like any IVF codebook */
  def pqCodebooks(df: DataFrame, labelCol: String, vecCol: String,
      m: Int, dims: Int): DataFrame = {
    require(m > 0 && dims % m == 0, s"dims=$dims must divide into m=$m subspaces")
    val subLen = dims / m
    codebookFromLabels(df, labelCol, vecCol)
      .select(col("cell"),
        explode(transform(sequence(lit(0), lit(m - 1)),
          s => struct(s.cast("long").as("sub"),
            slice(col("centroid"), s * subLen + 1, lit(subLen)).as("centroid"))))
          .as("e"))
      .select(col("e.sub").as("sub"), col("cell"), col("e.centroid").as("centroid"))
  }

  /** PQ ENCODE: each vector compresses to `m` small cell codes — the
    * memory representation that makes billion-scale ANN fit in RAM
    * (m bytes-ish per vector instead of dims·4). Per subspace the code
    * is the L2-argmin cell, computed as argmax of the equivalent
    * `x·c − ‖c‖²/2` form (the per-vector ‖x‖² constant drops out of
    * the argmin), rounded with cell-ascending tie-break so the
    * selection is engine-stable. One broadcast of the bounded codebook;
    * the argmax is map-side-combinable — the shuffle carries one row
    * per (vector, subspace), never the scored pairs.
    * @return (idCol, sub, code) */
  def pqEncode(corpus: DataFrame, codebooks: DataFrame, idCol: String,
      vecCol: String, subLen: Int, roundTo: Int = 4): DataFrame =
    corpus.select(col(idCol), col(vecCol))
      .join(broadcast(codebooks))
      .select(col(idCol), col("sub"), col("cell"),
        round(
          VectorFns.dot(
            slice(col(vecCol), col("sub") * subLen + 1, lit(subLen)),
            col("centroid")) -
            lit(0.5) * VectorFns.dot(col("centroid"), col("centroid")),
          roundTo).as("__e"))
      .groupBy(col(idCol), col("sub"))
      .agg(max_by(col("cell"), struct(col("__e"), negate(col("cell")))).as("code"))

  /** PQ top-k by ASYMMETRIC DISTANCE COMPUTATION: queries never touch
    * the raw corpus vectors — each query precomputes, per (subspace,
    * cell), the partial dot with that cell's centroid plus the
    * centroid's squared norm (the classic ADC lookup table), and a
    * corpus vector scores as the sum of its codes' table entries:
    * cos ≈ Σ partials / (‖q‖ · √Σ ‖c‖²), the cosine of the query with
    * the RECONSTRUCTED vector. At 100 TB the scoring scan reads the
    * m-codes table (bytes per vector), not the embeddings — that I/O
    * asymmetry is the whole point of PQ. The LUT (|queries|·m·|cells|
    * rows) broadcasts; partial aggregation combines the m table hits
    * map-side, so the one shuffle carries (query, neighbor) partial
    * sums. Partials sum in DECIMAL (order-independent) with the final
    * rounded division in double, same oracle discipline as the rest of
    * the vector catalog.
    * @return (query_id, neighbor_id, cosine, rank) — approximate */
  def pqTopK(corpus: DataFrame, queries: DataFrame, codebooks: DataFrame,
      idCol: String, vecCol: String, k: Int, subLen: Int,
      roundTo: Int = 4): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(20, 10)
    val codes = pqEncode(corpus, codebooks, idCol, vecCol, subLen, roundTo)
      .withColumnRenamed(idCol, "neighbor_id")
    val lut = queries.select(col(idCol), col(vecCol))
      .join(broadcast(codebooks))
      .select(col(idCol).as("query_id"), col("sub").as("lsub"), col("cell"),
        round(VectorFns.dot(
          slice(col(vecCol), col("sub") * subLen + 1, lit(subLen)),
          col("centroid")), roundTo).cast(dec).as("__p"),
        round(VectorFns.dot(col("centroid"), col("centroid")), roundTo)
          .cast(dec).as("__c2"),
        VectorFns.l2Norm(col(vecCol)).as("__qn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("cosine"), asc("neighbor_id"))
    codes.join(broadcast(lut),
        codes("sub") === col("lsub") && codes("code") === col("cell"))
      .where(col("query_id") =!= col("neighbor_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(sum(col("__p")).as("__sp"), sum(col("__c2")).as("__sc2"),
        first(col("__qn")).as("__qn"))
      .withColumn("cosine", round(col("__sp").cast("double") /
        (col("__qn") * sqrt(col("__sc2").cast("double"))), roundTo))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cosine"), col("rank"))
  }

  /** Lloyd's k-means over an embedding column: `iters` fixed rounds of
    * assign-then-update from a deterministic seed (the k smallest ids'
    * vectors) — the semantic-clustering primitive behind
    * cluster-balanced sampling and semantic dedup.
    *
    * Scale shape — NO corpus-sized shuffle anywhere:
    *  - centroids are MODEL STATE, not data: k·dims doubles, collected
    *    to the driver between rounds and re-inlined as literal arrays
    *    (the spark.ml KMeans pattern — `collect()` on a k·dims
    *    aggregate is parameter sync, not a driver-side data loop);
    *  - assignment is map-only: the k cosines are UNROLLED into one
    *    codegen'd projection (array of (score, -cid) structs →
    *    array_max), no join, no HOF lambda, no shuffle;
    *  - the update shuffles only (cid, dim) partial sums — k·dims rows
    *    after map-side combine, independent of corpus size.
    *
    * Cross-engine determinism: scores are round(cosine, `roundTo`)
    * with ties to the smallest centroid id (max over (s, -cid));
    * centroid means accumulate in DECIMAL(20,10) (order-independent)
    * and divide once in double — both sides of the oracle compute
    * bit-identical centroids, so even the ROUND-2 assignment
    * hash-matches. A cluster that loses all members simply drops out
    * (standard dead-centroid behavior, mirrored by the oracle).
    *
    * @return (id, cluster_id, cosine) — final-round assignment */
  def kmeans(
      emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, roundTo: Int = 4): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(iters >= 1, "iters must be >= 1")
    val e = emb.select(col(idCol).cast("long").as("__id"),
      col(vecCol).cast("array<double>").as("__v"))
    def assign(cents: Seq[(Long, Seq[Double])]): DataFrame = {
      val scored = array(cents.sortBy(_._1).map { case (cid, cv) =>
        struct(
          round(VectorFns.cosine(col("__v"), array(cv.map(lit): _*)), roundTo)
            .as("s"),
          lit(-cid).as("nc"))
      }: _*)
      e.withColumn("__best", array_max(scored))
        .select(col("__id"), col("__v"),
          (-col("__best.nc")).as("cluster_id"), col("__best.s").as("cosine"))
    }
    def update(assigned: DataFrame): Seq[(Long, Seq[Double])] =
      assigned
        .select(col("cluster_id"), posexplode(col("__v")).as(Seq("__pos", "__val")))
        .groupBy(col("cluster_id"), col("__pos"))
        .agg((sum(col("__val").cast(org.apache.spark.sql.types.DecimalType(20, 10))).cast("double") /
          count(lit(1))).as("__mv"))
        .collect()
        .groupBy(_.getLong(0))
        .map { case (cid, rows) =>
          cid -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)).toSeq
        }.toSeq
    val cents: Seq[(Long, Seq[Double])] = e.orderBy(col("__id")).limit(k)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toSeq).toSeq
    // empty corpus -> no seeds: a zero-arm `array()` of centroid structs
    // would not even analyze, so return the (empty) result shape directly
    if (cents.isEmpty)
      return e.select(col("__id").as(idCol), lit(0L).as("cluster_id"),
        lit(0.0).as("cosine"))
    var assigned = assign(cents)
    for (_ <- 1 until iters) assigned = assign(update(assigned))
    assigned.select(col("__id").as(idCol), col("cluster_id"), col("cosine"))
  }

  /** Embedding-level DECONTAMINATION — q76's shingle sweep lifted to
    * the semantic space: drop every corpus vector whose max cosine
    * against ANY benchmark vector reaches `threshold` (paraphrased
    * eval leakage that exact n-gram overlap misses). The benchmark
    * set broadcasts (eval suites are thousands of rows, never
    * corpus-scale) and the corpus, round-robined to
    * [[ShuffleWidth.cpuWidth]] tasks, streams past it — the q50
    * brute-force scoring shape — then one key-grouped max and a
    * filter; the corpus never shuffles its payloads. Cosines round to
    * `roundTo` BEFORE the max/threshold (the q50 cross-engine float
    * policy). An empty benchmark set contaminates nothing: every
    * corpus row survives with NULL max_cos.
    * @return the surviving corpus rows + their `max_cos` */
  def decontaminateByCosine(
      corpus: DataFrame, bench: DataFrame, idCol: String, vecCol: String,
      threshold: Double, roundTo: Int = 4): DataFrame = {
    val b = broadcast(bench
      .select(col(vecCol).cast("array<double>").as("__bv")))
    val scored = corpus
      .select(col(idCol), col(vecCol).cast("array<double>").as("__cv"))
      .repartition(ShuffleWidth.cpuWidth(corpus))
      .join(b)
      .select(col(idCol),
        round(VectorFns.cosine(col("__cv"), col("__bv")), roundTo).as("__cos"))
      .groupBy(col(idCol)).agg(max(col("__cos")).as("max_cos"))
    corpus.join(scored, Seq(idCol), "left")
      .where(col("max_cos").isNull || col("max_cos") < threshold)
  }

  /** POWER ITERATION for the corpus's top principal direction — the
    * spectral signal an embedding pipeline derives before whitening,
    * spectral dedup/outlier scoring, or projection-based curricula.
    * Computes v ← rescale(Xᵀ(Xv)) without EVER materializing the
    * covariance matrix: each round is ONE map-only pass (per row,
    * s = x·v against the broadcast-literal direction — the k-means
    * literal-centroid sync precedent) feeding ONE dims-group
    * partial-aggregatable shuffle (u_d = Σ x_d·s), then a
    * driver-side exact rescale of the 64 collected components
    * (max|v| pinned to 2¹⁶ in BigInt — mirrors the oracle's HUGEINT
    * bit for bit).
    *
    * INTEGER-EXACT end to end, the q69/q91 discipline: inputs
    * fixed-point at x·1024 (a power of two, so the float→double
    * widen, multiply and +0.5-floor are all exact and
    * engine-identical), all sums BIGINT, the rescale
    * sign·(|u|·2¹⁶ div max|u|) on nonnegative operands so truncation
    * and floor agree across engines. Overflow headroom is ENFORCED,
    * not assumed: with m = max|x_q| over the corpus, each row's
    * projection is |s| ≤ dims·m·2¹⁶ and each component's sum is
    * |u_d| ≤ N·m·|s| = N·dims·m²·2¹⁶ — Spark's non-ANSI long sum
    * would wrap SILENTLY past 2⁶³ while the oracle's HUGEINT interior
    * stays exact, so the operator measures (N, m) up front and
    * refuses when the bound leaves less than 2× headroom (at unit
    * embeddings, m = 2¹⁰, dims = 64, that admits N up to ~2³⁵ rows;
    * larger inputs shrink it — the refusal names the numbers).
    * Convergence sign follows the deterministic all-ones start.
    * @return (idCol, pc1_proj) — each row's exact integer projection
    *   onto the final direction */
  def powerIteration(
      emb: DataFrame, idCol: String, vecCol: String,
      dims: Int, rounds: Int = 8): DataFrame = {
    require(dims >= 1, s"dims must be >= 1, got $dims")
    require(rounds >= 1 && rounds <= 50, s"rounds must be in [1,50], got $rounds")
    // __qd carries the SAME quantized values widened to double once at
    // persist time, so each round's projection can run through the
    // native codegen dot product ([[graft.plans.DotProduct]]) instead
    // of an interpreted zip_with/aggregate HOF — measured 320 ms →
    // ~40 ms per round-task at sf0.1. Bit-exactness is preserved, not
    // approximated: the overflow guard below enforces m < 2^20, so
    // every product |x_q·v| ≤ m·2^16 < 2^36 and every partial sum
    // ≤ dims·m·2^16 < 2^42 — all integers below 2^53, exact in IEEE
    // double in ANY accumulation order, and the final cast back to
    // long is exact. Identical results to the HOF form by construction.
    val xq = emb.select(col(idCol),
        transform(col(vecCol),
          x => floor(x.cast("double") * 1024.0 + 0.5).cast("long")).as("__q"))
      .where(size(col("__q")) === dims)
      .withColumn("__qd", col("__q").cast("array<double>"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // one narrow pass over the (persisted) quantized corpus measures
      // the exact overflow envelope — see the scaladoc bound
      val hdr = xq.select(count(lit(1)).as("n"),
        max(aggregate(col("__q"), lit(0L),
          (acc, y) => greatest(acc, abs(y)))).as("m")).head()
      val n = hdr.getLong(0)
      val m = if (hdr.isNullAt(1)) 0L else math.max(hdr.getLong(1), 1L)
      val worst = BigInt(n) * dims * BigInt(m) * BigInt(m) * BigInt(65536)
      require(worst < (BigInt(1) << 62),
        s"powerIteration would overflow BIGINT partial sums: N=$n rows × " +
          s"dims=$dims × max|x_q|²=$m² × 2^16 = $worst ≥ 2^62 — Spark's " +
          "long sum wraps silently past 2^63 while the oracle stays exact. " +
          "Reduce the corpus slice, dims, or input magnitude (the 2^16 " +
          "direction scale is pinned to the integer-exact oracle).")
      var v: IndexedSeq[Long] = IndexedSeq.fill(dims)(1024L)
      // native codegen dot over the pre-widened __qd (exact — see the
      // __qd comment above). History: a flat 64-term Add tree measured
      // 15.5 s (deep tree defeats codegen), the zip_with/aggregate HOF
      // 7.1 s (interpreted lambda per element), this form ~5 s at
      // sf0.1 — same integers out of all three.
      def proj(vNow: IndexedSeq[Long]): Column = VectorFns.dot(
        col("__qd"), array(vNow.map(x => lit(x.toDouble)): _*)).cast("long")
      for (_ <- 1 to rounds) {
        val u = xq
          .select(proj(v).as("__s"), posexplode(col("__q")).as(Seq("__d", "__x")))
          .groupBy(col("__d"))
          .agg(sum(col("__x") * col("__s")).as("__u"))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        val ub = (0 until dims).map(d => BigInt(u.getOrElse(d, 0L)))
        val m = ub.map(_.abs).max
        v =
          if (m == 0) IndexedSeq.fill(dims)(1024L) // degenerate: restart
          else ub.map(x => (x.sign * ((x.abs * 65536) / m)).toLong)
      }
      // one extra evaluation of xq under the FINAL direction — the
      // projection scores the oracle's last CTE emits
      xq.select(col(idCol), proj(v).as("pc1_proj"))
    } finally { xq.unpersist(); () }
  }

  /** Per-label centroids: element-wise mean via posexplode + regroup.
    * Shuffles (label, pos) pairs — dims × |labels| cells, independent of
    * corpus size after the partial aggregation. */
  def centroids(df: DataFrame, labelCol: String, vecCol: String): DataFrame =
    df.select(col(labelCol), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy(col(labelCol), col("pos"))
      .agg(avg(col("v").cast("double")).as("mean"))
      .groupBy(col(labelCol))
      .agg(array_sort(collect_list(struct(col("pos"), col("mean")))).as("pairs"))
      .select(col(labelCol), expr("transform(pairs, p -> p.mean)").as("centroid"))

  /** Semantic dedup, SemDeDup-shaped (cluster, then prune near-dups
    * INSIDE each cluster only): [[kmeans]] assigns every vector to a
    * cluster, exact cosine runs only between same-cluster pairs, and a
    * vector is dropped iff a same-cluster vector with a SMALLER id
    * scores `>= threshold` against it — keep-first, like the exact
    * dedup family, so the survivor set is deterministic.
    *
    * Why this scales where all-pairs ([[cosinePairs]]) cannot: the
    * candidate join is keyed on `cluster_id`, so the comparison count
    * is Σ|cluster|², not N². The operative knob is `k` — grow it with
    * the corpus (k ∝ N keeps mean cluster size constant, so total work
    * stays ~N · mean-cluster-size). A runaway cluster (a dense mode
    * swallowing the corpus) is the hot-key case: raise `k`, or cap the
    * cluster like the LSH buckets cap theirs. Vectors shuffle once per
    * join side, keyed by cluster.
    *
    * @return survivors only: (id, cluster_id, cosine-to-centroid) */
  def semanticDedup(
      emb: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int, threshold: Double, roundTo: Int = 4): DataFrame = {
    val asg = kmeans(emb, idCol, vecCol, k, iters, roundTo)
    val e = emb.select(col(idCol).cast("long").as(idCol),
      col(vecCol).cast("array<double>").as("__v"))
    // lazy localCheckpoint: withVec is referenced THREE times (both
    // pair-join sides + the final anti-join left), and each plan-level
    // reference would re-run the embedding scan + assignment + id-join
    // — checkpointing collapses them to one RDD computed once (the
    // connectedComponents lineage discipline; storage is freed when
    // the result's RDD is collected by the ContextCleaner)
    val withVec = asg.join(e, Seq(idCol)).localCheckpoint(false)
    val a = withVec.select(col(idCol).as("__id_a"), col("cluster_id"),
      col("__v").as("__va"))
    val b = withVec.select(col(idCol).as("__id_b"), col("cluster_id"),
      col("__v").as("__vb"))
    // a vector with an earlier (smaller-id) near-dup in its cluster dies
    val shadowed = a.join(b, Seq("cluster_id"))
      .where(col("__id_a") < col("__id_b"))
      .where(round(VectorFns.cosine(col("__va"), col("__vb")), roundTo)
        >= lit(threshold))
      .select(col("__id_b").as(idCol))
      .distinct()
    withVec.join(shadowed, Seq(idCol), "left_anti")
      .select(col(idCol), col("cluster_id"), col("cosine"))
  }
}
