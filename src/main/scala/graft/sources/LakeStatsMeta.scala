package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Per-dir data-skipping metadata: column range statistics, per-file stats, and Bloom filters.
  *
  * Mechanically split from the [[Lake]] object (one object, many
  * files): every member keeps its semantics and its package-private
  * reach; [[Lake]] mixes the traits back into the single public
  * surface. See Lake.scala for the protocol overview. */
private[graft] trait LakeStatsMeta { this: Lake.type =>

  // ---- per-dir column statistics (data skipping) -------------------
  //
  // `#statscols=<c1,c2>` names the table's STAT COLUMNS (established by
  // the first commit passing `statsCols`, inherited by every later
  // commit), and one `#stats_<dir>=<json>` line per data dir carries
  // that dir's min/max per stat column. This is Delta/Iceberg-style
  // file-level data skipping at snapshot-dir granularity: a predicate
  // read ([[readCommittedWhere]]) drops every dir whose range provably
  // excludes the filter BEFORE the scan plans, so a time- or
  // key-ordered 100 TB table answers a range query from the dirs that
  // can match — manifest-read cost, zero data I/O for skipped dirs.
  // Stats are an OPTIMIZATION ONLY: the full predicate is still
  // applied to the surviving dirs, a dir without stats is always kept,
  // and a conjunct the pruner doesn't understand is ignored — so
  // correctness never depends on the stats being present or complete.
  //
  // Values normalize to two comparable kinds: NUMBERS (integrals,
  // float/double, decimal, and date/timestamp via their Catalyst
  // internal day/micros form) compared as BigDecimal, and STRINGS
  // compared in UTF8String binary order — the same order parquet
  // footers and Spark's min/max use, so driver-side pruning agrees
  // with executor-side semantics on non-ASCII data. NaN/Infinity
  // refuse normalization and simply drop that column's stats for the
  // dir (conservative, never wrong).

  private[graft] sealed trait NormVal
  private[graft] final case class NumV(v: BigDecimal) extends NormVal
  private[graft] final case class StrV(v: org.apache.spark.unsafe.types.UTF8String)
    extends NormVal

  private[sources] def cmpNorm(a: NormVal, b: NormVal): Option[Int] = (a, b) match {
    case (NumV(x), NumV(y)) => Some(x.compare(y))
    case (StrV(x), StrV(y)) => Some(x.compareTo(y))
    case _                  => None
  }

  /** Catalyst-INTERNAL literal value -> normalized, by declared type.
    * `functions.lit` converts external values eagerly, so dates arrive
    * as Int days and timestamps as Long micros already. */
  private[sources] def normLit(value: Any,
      dt: org.apache.spark.sql.types.DataType): Option[NormVal] = {
    import org.apache.spark.sql.types._
    if (value == null) None
    else dt match {
      case ByteType | ShortType | IntegerType | LongType | DateType |
           TimestampType | TimestampNTZType =>
        Some(NumV(BigDecimal(value.toString)))
      case FloatType | DoubleType =>
        scala.util.Try(BigDecimal(value.toString)).toOption.map(NumV)
      case _: DecimalType => value match {
        case d: Decimal => Some(NumV(BigDecimal(d.toJavaBigDecimal)))
        case other => scala.util.Try(BigDecimal(other.toString)).toOption.map(NumV)
      }
      case StringType => value match {
        case u: org.apache.spark.unsafe.types.UTF8String => Some(StrV(u))
        case s: String =>
          Some(StrV(org.apache.spark.unsafe.types.UTF8String.fromString(s)))
        case _ => None
      }
      case _ => None
    }
  }

  /** EXTERNAL value (from a collected stats row) -> normalized. */
  private[sources] def normExternal(value: Any): Option[NormVal] = {
    import org.apache.spark.sql.catalyst.util.DateTimeUtils
    value match {
      case null => None
      case d: java.lang.Double =>
        scala.util.Try(BigDecimal(d.toString)).toOption.map(NumV)
      case f: java.lang.Float =>
        scala.util.Try(BigDecimal(f.toString)).toOption.map(NumV)
      case bd: java.math.BigDecimal => Some(NumV(BigDecimal(bd)))
      case n @ (_: java.lang.Long | _: java.lang.Integer | _: java.lang.Short |
                _: java.lang.Byte) => Some(NumV(BigDecimal(n.toString)))
      case s: String =>
        Some(StrV(org.apache.spark.unsafe.types.UTF8String.fromString(s)))
      case d: java.sql.Date => Some(NumV(BigDecimal(DateTimeUtils.fromJavaDate(d))))
      case t: java.sql.Timestamp =>
        Some(NumV(BigDecimal(DateTimeUtils.fromJavaTimestamp(t))))
      case d: java.time.LocalDate =>
        Some(NumV(BigDecimal(DateTimeUtils.localDateToDays(d))))
      case i: java.time.Instant => Some(NumV(BigDecimal(DateTimeUtils.instantToMicros(i))))
      case l: java.time.LocalDateTime =>
        Some(NumV(BigDecimal(DateTimeUtils.localDateTimeToMicros(l))))
      case _ => None
    }
  }

  // Long-string stat bounds TRUNCATE before they reach a manifest
  // line (Delta's rule): a user putting a document-sized text column
  // in statsCols must not bloat every manifest (and every planning
  // read) with full min/max strings. min -> its first
  // `StatsStringMaxLen` code points (a prefix is ≤ the original in
  // UTF8 binary order: valid lower bound); max -> the truncated
  // prefix's SUCCESSOR — last code point incremented (surrogate gap
  // jumped, max-code-point chars dropped), which upper-bounds every
  // string sharing the prefix because UTF-8 preserves code-point
  // order byte-wise. No successor derivable (all chars at the
  // maximum code point) -> the column's stats drop for that dir,
  // conservative as always. Pruning proofs stay sound either way:
  // the recorded range only ever WIDENS, and both predExcludes and
  // predIncludesAll are superset-range-safe.
  private[sources] val StatsStringMaxLen = 32

  private[sources] def truncPrefix(s: String): String =
    if (s.codePointCount(0, s.length) <= StatsStringMaxLen) s
    else s.substring(0, s.offsetByCodePoints(0, StatsStringMaxLen))

  /** Successor of a truncated prefix: smallest string-prefix bound
    * strictly above every string starting with `s`. */
  private[sources] def prefixSuccessor(s: String): Option[String] = {
    val cps = s.codePoints().toArray
    var i = cps.length - 1
    while (i >= 0) {
      if (cps(i) < 0x10FFFF) {
        val next0 = cps(i) + 1
        // the surrogate range is not encodable as a scalar value —
        // jump past it (0xE000 > every char below 0xD800 encodes
        // greater byte-wise too)
        val next = if (next0 >= 0xD800 && next0 <= 0xDFFF) 0xE000 else next0
        val out = new java.lang.StringBuilder()
        (0 until i).foreach(j => out.appendCodePoint(cps(j)))
        out.appendCodePoint(next)
        return Some(out.toString)
      }
      i -= 1 // max code point: drop it, increment the previous one
    }
    None
  }

  private[sources] def boundedStat(lo: NormVal, hi: NormVal):
      Option[(NormVal, NormVal)] = (lo, hi) match {
    case (StrV(a), StrV(b)) =>
      val as = a.toString; val bs = b.toString
      val aLong = as.codePointCount(0, as.length) > StatsStringMaxLen
      val bLong = bs.codePointCount(0, bs.length) > StatsStringMaxLen
      if (!aLong && !bLong) Some((lo, hi))
      else {
        val newLo =
          if (aLong) StrV(org.apache.spark.unsafe.types.UTF8String
            .fromString(truncPrefix(as)))
          else lo
        val newHi =
          if (bLong) prefixSuccessor(truncPrefix(bs)).map(up =>
            StrV(org.apache.spark.unsafe.types.UTF8String.fromString(up)))
          else Some(hi)
        newHi.map(h => (newLo, h))
      }
    case other => Some(other)
  }

  private[sources] def statsJson(m: Map[String, (NormVal, NormVal)]): String = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.createObjectNode()
    m.toSeq.sortBy(_._1).foreach { case (c, (lo, hi)) =>
      val arr = om.createArrayNode()
      val node = om.createObjectNode()
      (lo, hi) match {
        case (NumV(a), NumV(b)) =>
          arr.add(a.toString); arr.add(b.toString)
          node.set[com.fasterxml.jackson.databind.JsonNode]("n", arr)
        case (StrV(a), StrV(b)) =>
          arr.add(a.toString); arr.add(b.toString)
          node.set[com.fasterxml.jackson.databind.JsonNode]("s", arr)
        case _ => node // mixed kinds cannot arise from one column; drop
      }
      if (!node.isEmpty)
        root.set[com.fasterxml.jackson.databind.JsonNode](c, node)
      ()
    }
    om.writeValueAsString(root)
  }

  private[sources] def parseStatsJson(json: String): Map[String, (NormVal, NormVal)] = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = scala.util.Try(om.readTree(json)).getOrElse(return Map.empty)
    val it = root.properties().iterator()
    val out = Map.newBuilder[String, (NormVal, NormVal)]
    while (it.hasNext) {
      val e = it.next()
      val v = e.getValue
      if (v.has("n") && v.get("n").size == 2)
        scala.util.Try((
          NumV(BigDecimal(v.get("n").get(0).asText)),
          NumV(BigDecimal(v.get("n").get(1).asText))
        )).foreach(out += e.getKey -> _)
      else if (v.has("s") && v.get("s").size == 2)
        out += e.getKey -> ((
          StrV(org.apache.spark.unsafe.types.UTF8String.fromString(v.get("s").get(0).asText)),
          StrV(org.apache.spark.unsafe.types.UTF8String.fromString(v.get("s").get(1).asText))))
    }
    out.result()
  }

  /** Union of two evidence ranges; None when the bounds are of mixed
    * kinds (no sound merge — the caller drops the column). */
  private[sources] def rangeUnion(a: (NormVal, NormVal), b: (NormVal, NormVal)):
      Option[(NormVal, NormVal)] =
    for { cl <- cmpNorm(a._1, b._1); ch <- cmpNorm(a._2, b._2) }
      yield ((if (cl <= 0) a._1 else b._1), (if (ch >= 0) a._2 else b._2))

  /** Fold several dirs' effective per-dir evidence — (stats json,
    * partition-tuple json) — into ONE merged range map: the
    * `#segsum_<name>=` SEGMENT SUMMARY (Iceberg's manifest-list
    * partition summaries, serialized in the stats-json grammar so
    * segment-level exclusion reuses [[predExcludes]] verbatim).
    *
    * SOUNDNESS CONTRACT (what lets a scan skip READING the segment
    * file when the summary range excludes a predicate): a column
    * appears only when EVERY dir bounds its non-NULL domain — an exact
    * partition value contributes the point [v, v], a stats line its
    * [lo, hi], an all-NULL partition value the empty domain, and a dir
    * carrying BOTH contributes their union (defensive widest). One dir
    * with NO evidence for the column drops the column entirely: the
    * summary must never claim more than the per-dir evidence the full
    * expansion would consult, because exclusion against the merged
    * range must imply per-dir exclusion for every member dir
    * (ranges only ever widen; [[predExcludes]] is superset-range-safe,
    * and an all-NULL-domain dir is excluded by every comparison the
    * range rules can fire — NULL tests never exclude through ranges). */
  private[sources] def foldSegSummary(
      evidence: Seq[(Option[String], Option[String])]):
      Map[String, (NormVal, NormVal)] = {
    if (evidence.isEmpty) return Map.empty
    val parsed = evidence.map { case (st, pt) =>
      (st.map(parseStatsJson).getOrElse(Map.empty[String, (NormVal, NormVal)]),
       pt.map(parsePartJson).getOrElse(Map.empty[String, Option[NormVal]])) }
    val cols = parsed.iterator
      .flatMap { case (s, p) => s.keysIterator ++ p.keysIterator }.toSet
    val out = Map.newBuilder[String, (NormVal, NormVal)]
    cols.foreach { c =>
      var ok = true
      var acc: Option[(NormVal, NormVal)] = None
      parsed.foreach { case (s, p) =>
        if (ok) {
          // this dir's bounded non-NULL domain for c: None = unbounded
          // (drop the column), Some(None) = provably empty (all-NULL
          // partition value), Some(Some(range)) = bounded
          val fromStats = s.get(c)
          val dom: Option[Option[(NormVal, NormVal)]] = p.get(c) match {
            case Some(Some(v)) => fromStats match {
              case Some(rg) => rangeUnion((v, v), rg).map(Some(_))
              case None     => Some(Some((v, v)))
            }
            case Some(None) => Some(fromStats) // all-NULL; cover any stats
            case None => fromStats match {
              case Some(rg) => Some(Some(rg))
              case None     => None
            }
          }
          dom match {
            case None       => ok = false
            case Some(None) => // empty domain contributes nothing
            case Some(Some(rg)) => acc match {
              case None => acc = Some(rg)
              case Some(prev) => rangeUnion(prev, rg) match {
                case Some(u) => acc = Some(u)
                case None    => ok = false // mixed kinds: no sound merge
              }
            }
          }
        }
      }
      if (ok) acc.foreach(rg => out += c -> rg)
    }
    out.result()
  }

  /** Resolve a possibly-dotted NESTED path against `schema` — stats
    * and bloom columns accept struct-field paths (`meta.v`) so
    * struct-heavy event schemas skip like flat ones. An exact
    * top-level name wins first (a column literally named "a.b"). */
  private[sources] def resolveField(schema: org.apache.spark.sql.types.StructType,
      c: String): Option[org.apache.spark.sql.types.StructField] =
    schema.fields.find(_.name == c).orElse {
      val i = c.indexOf('.')
      if (i < 0) None
      else schema.fields.find(_.name == c.take(i)).flatMap(_.dataType match {
        case st: org.apache.spark.sql.types.StructType =>
          resolveField(st, c.drop(i + 1))
        case _ => None
      })
    }

  // `#fstats_<dir>/<file>=<json>` — FILE-level ranges inside a dir,
  // written by commits that can pay one column-pruned pass over their
  // fresh dir (notably [[clusterCommitted]], whose whole point is
  // tight per-file ranges). File skipping composes under dir skipping
  // in [[readCommittedWhere]]: surviving dirs with file stats read an
  // explicit pruned file list. A file on disk absent from the lines
  // is always kept (only zero-row files can be absent from a full
  // stats pass, but a reader must not have to trust that).
  /** Per-FILE min/max on `cols` of freshly-written dirs under `r`,
    * plus each dir's merged range and TOTAL row count — ONE
    * column-pruned pass (`groupBy(input_file_name)`) over all of them,
    * O(these dirs) like the writes that produced them, so a
    * partitioned OPTIMIZE that staged T tuple dirs pays one stats job
    * instead of T. PRECONDITION: the dirs share one schema (`cols`
    * resolve once, against the merged schema) — trivially true for one
    * dir. Keys are the `dirs` entries (names under `r`, writer-unique,
    * so grouping rows by parent-dir name is unambiguous); a dir with
    * no data rows maps to ("{}", empty, 0), and every dir maps to
    * ("{}", empty, -1) when no column resolves. An empty `cols` (or
    * `dirs`) returns an empty map. Returns dir -> (dirJson, fileName
    * -> json, rows). */
  private[sources] def dirFileStats(spark: SparkSession, r: Path,
      dirs: Seq[String], cols: Seq[String]):
      Map[String, (String, Map[String, String], Long)] = {
    import org.apache.spark.sql.functions.{count, input_file_name, lit, max, min}
    if (cols.isEmpty || dirs.isEmpty) return Map.empty
    val df = spark.read.parquet(dirs.map(d => new Path(r, d).toString): _*)
    val present = cols.filter(c => resolveField(df.schema, c).isDefined)
    if (present.isEmpty)
      return dirs.map(_ -> (("{}", Map.empty[String, String], -1L))).toMap
    val aggs = count(lit(1)) +: present.flatMap(c => Seq(min(df(c)), max(df(c))))
    val rows = df.groupBy(input_file_name().as("__f"))
      .agg(aggs.head, aggs.drop(1): _*).collect()
    val byDir = rows.groupBy(row =>
      new Path(row.getString(0)).getParent.getName)
    dirs.map { d =>
      val dirRows = byDir.getOrElse(d, Array.empty[org.apache.spark.sql.Row])
      val nRows = dirRows.map(_.getLong(1)).sum
      val perFile = dirRows.map { row =>
        val name = new Path(row.getString(0)).getName
        val m = present.zipWithIndex.flatMap { case (c, i) =>
          for {
            lo <- normExternal(row.get(2 + 2 * i))
            hi <- normExternal(row.get(3 + 2 * i))
            if cmpNorm(lo, hi).isDefined
            bounded <- boundedStat(lo, hi)
          } yield c -> bounded
        }.toMap
        name -> m
      }.toMap
      // dir range = merge of file ranges (min of lows, max of highs)
      val dirStats = perFile.values.flatten
        .groupBy(_._1)
        .collect { case (c, vs) if vs.size == perFile.size =>
          // only when EVERY rowful file carries the col's stats: a file
          // whose extreme refused normalization (NaN/∞) or was all-NULL
          // may still hold rows a predicate matches (NaN sorts greatest
          // in Spark), so a dir range built without it could prune
          // wrongly — drop the col at dir level, file level stays exact
          val los = vs.map(_._2._1); val his = vs.map(_._2._2)
          c -> ((los.reduce((a, b) => if (cmpNorm(a, b).exists(_ <= 0)) a else b),
                 his.reduce((a, b) => if (cmpNorm(a, b).exists(_ >= 0)) a else b)))
        }.toMap
      d -> ((statsJson(dirStats),
        perFile.map { case (f, m) => f -> statsJson(m) }, nRows))
    }.toMap
  }

  // ---- per-dir Bloom filters (point-lookup skipping) ---------------
  //
  // `#bloomcols=<c1,c2>` names the table's BLOOM COLUMNS (established
  // like stat columns, inherited by later commits), and one
  // `#bloom_<dir>=<json>` line per data dir carries a base64 Bloom
  // filter per column (Spark's public `org.apache.spark.util.sketch
  // .BloomFilter` — integral and string columns). Min/max ranges
  // cannot prune an EQUALITY lookup on a hash- or round-robin-
  // distributed key (every dir spans the full range); a Bloom filter
  // answers "definitely not in this dir" with zero false negatives,
  // so `readCommittedWhere(col("id") === x)` on a 100 TB table scans
  // only the dirs that might hold x. Like range stats, blooms are an
  // optimization only: an over-full filter degrades to higher
  // false-positive rate (more dirs kept), never to a wrong result,
  // and an absent filter always keeps the dir. Sizing is capped at
  // ~100k expected items (≈15 KB of bits at 2% FPP) per (dir, col) so
  // manifests stay planning-readable; beyond the cap the FPP rises
  // gracefully.
  private[sources] val BloomMaxItems = 100000L
  private[sources] val BloomFpp = 0.02

  private[sources] def effectiveBloomCols(prev: TableMeta,
      bloomCols: Seq[String]): Seq[String] = {
    bloomCols.foreach(c => require(!c.exists("=,\n#".contains(_)),
      s"bloom column name '$c' may not contain '=', ',', '#', or newline"))
    if (bloomCols.nonEmpty) bloomCols else prev.bloomCols
  }

  /** Bloom filters of one dir's manifest line, deserialized. */
  private[sources] def parseBloomJson(json: String):
      Map[String, org.apache.spark.util.sketch.BloomFilter] = {
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = scala.util.Try(om.readTree(json)).getOrElse(return Map.empty)
    val it = root.properties().iterator()
    val out = Map.newBuilder[String, org.apache.spark.util.sketch.BloomFilter]
    while (it.hasNext) {
      val e = it.next()
      if (e.getValue.has("b"))
        scala.util.Try(org.apache.spark.util.sketch.BloomFilter.readFrom(
          new java.io.ByteArrayInputStream(
            java.util.Base64.getDecoder.decode(e.getValue.get("b").asText))))
          .foreach(out += e.getKey -> _)
    }
    out.result()
  }

  /** Bloom filters of a freshly-written dir on `cols`, as manifest
    * JSON — one scan per column (cols is almost always one key).
    * Integral/string columns only (the sketch's put/probe domain);
    * others drop out. O(this dir), like the write that produced it. */
  private[sources] def dirBloomJson(spark: SparkSession, dirPath: String,
      cols: Seq[String], rowCount: Option[Long] = None): Option[String] = {
    import org.apache.spark.sql.types._
    if (cols.isEmpty) return None
    val df = spark.read.parquet(dirPath)
    val present = cols.filter(c => resolveField(df.schema, c)
      .exists(_.dataType match {
        case ByteType | ShortType | IntegerType | LongType | StringType => true
        case _ => false
      }))
    if (present.isEmpty) return Some("{}")
    // the staging write already counted the dir's rows via its
    // piggybacked observe metrics — reuse it instead of a count job
    val n = rowCount.getOrElse(df.count())
    if (n == 0) return Some("{}")
    val expected = math.max(1L, math.min(n, BloomMaxItems))
    val om = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = om.createObjectNode()
    present.foreach { c =>
      scala.util.Try {
        val bf = df.stat.bloomFilter(c, expected, BloomFpp)
        val bos = new java.io.ByteArrayOutputStream()
        bf.writeTo(bos)
        java.util.Base64.getEncoder.encodeToString(bos.toByteArray)
      }.foreach { b64 =>
        val node = om.createObjectNode()
        node.put("b", b64)
        root.set[com.fasterxml.jackson.databind.JsonNode](c, node)
        ()
      }
    }
    Some(om.writeValueAsString(root))
  }

  /** Probe: can the dir's Bloom filter for `p.col` prove an equality
    * predicate matches nothing? True = provably absent (skip safe);
    * anything un-probeable keeps the dir. */
  private[sources] def bloomExcludes(
      blooms: Map[String, org.apache.spark.util.sketch.BloomFilter],
      p: Pred): Boolean =
    // a transformed leaf's values live in f-space; the bloom holds
    // SOURCE-space hashes — membership answers nothing
    p.op == PEq && p.xform.isEmpty && blooms.get(p.col).exists { bf =>
      p.values.forall {
        case NumV(v) =>
          v.isWhole && v.isValidLong && !bf.mightContainLong(v.toLongExact)
        case StrV(s) => !bf.mightContainString(s.toString)
      }
    }

  /** The table's established stat columns: `statsCols` when the caller
    * names them on this commit, else inherited from `prev`, the last
    * committed snapshot. Simple column names only — the list rides a
    * comma-separated manifest line. */
  private[sources] def effectiveStatsCols(prev: TableMeta,
      statsCols: Seq[String]): Seq[String] = {
    statsCols.foreach(c => require(!c.exists("=,\n#".contains(_)),
      s"stat column name '$c' may not contain '=', ',', '#', or newline"))
    if (statsCols.nonEmpty) statsCols else prev.statsCols
  }

  /** Fold interleaved (min, max) external values — `get(2i)`/`get(2i+1)`
    * for `present(i)` — into the manifest stats JSON: the staging
    * write's piggybacked `observe` metrics (LakeCommits.stageBatch).
    * Columns with un-normalizable extremes drop out (kept dirs are the
    * safe default). */
  private[sources] def statsJsonFromMinMax(present: Seq[String],
      get: Int => Any): String = {
    val m = present.zipWithIndex.flatMap { case (c, i) =>
      for {
        lo <- normExternal(get(2 * i))
        hi <- normExternal(get(2 * i + 1))
        if cmpNorm(lo, hi).isDefined
        bounded <- boundedStat(lo, hi)
      } yield c -> bounded
    }.toMap
    statsJson(m)
  }

  // ---- ANALYZE TABLE (optimizer statistics) ------------------------
  //
  // `ANALYZE TABLE t COMPUTE STATISTICS [NOSCAN | FOR COLUMNS …|FOR ALL
  // COLUMNS]` for lake tables: ONE aggregate job over the live
  // snapshot computes row count and per-column NDV / min / max / null
  // count, durably recorded as `graft.stats.*` manifest properties
  // (any engine reading the manifest sees them; SHOW TBLPROPERTIES
  // surfaces them) and pushed into the session catalog's
  // CatalogStatistics for CATALOG tables — which is what Spark's CBO
  // (`spark.sql.cbo.enabled` + joinReorder) consumes for join
  // reordering and broadcast decisions. Without this, CBO runs
  // stats-blind over lake tables on multi-join queries. The table
  // SIZE comes from the manifest file listing (live snapshot bytes,
  // not the root dir du — stale versions excluded).
  final val PropStatsPrefix = "graft.stats."

  def analyzeTable(spark: SparkSession, root: String,
      cols: Seq[String] = Nil, allColumns: Boolean = false,
      ident: Option[org.apache.spark.sql.catalyst.TableIdentifier] = None,
      noScan: Boolean = false): Long = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val fs = fsFor(spark, root)
    val r = new Path(root)
    val cur = currentVersion(spark, root).getOrElse(
      throw new java.util.NoSuchElementException(s"no committed table at $root"))
    val sizeBytes = scanFilesAt(spark, root, cur, Nil).map(_.getLen).sum
    def numericLike(dt: DataType): Boolean = dt match {
      case _: NumericType => true
      case _ => false
    }
    def atomic(dt: DataType): Boolean = dt match {
      case _: NumericType | StringType | BooleanType | DateType |
           TimestampType | TimestampNTZType => true
      case _ => false
    }
    val df = readCommitted(spark, root)
    val schema = df.schema
    val res = org.apache.spark.sql.internal.SQLConf.get.resolver
    val target: Seq[StructField] =
      if (noScan) Nil
      else if (allColumns) schema.fields.filter(f => atomic(f.dataType)).toSeq
      else cols.map { c =>
        val f = schema.fields.find(f => res(f.name, c)).getOrElse(
          throw new IllegalArgumentException(
            s"no column '$c' at $root (have: " +
              schema.fieldNames.mkString("[", ", ", "]") + ")"))
        require(atomic(f.dataType),
          s"ANALYZE FOR COLUMNS supports atomic types; '$c' is " +
            f.dataType.simpleString)
        f
      }
    // one aggregate job, positional access (aliases would fight with
    // dotted/odd column names)
    val perCol = target.map { f =>
      val c = col(s"`${f.name}`")
      val base = Seq(approx_count_distinct(c), count(c))
      val extra = f.dataType match {
        case dt if numericLike(dt) =>
          Seq(min(c).cast("string"), max(c).cast("string"))
        case StringType =>
          Seq(avg(length(c)).cast("string"), max(length(c)).cast("string"))
        case _ => Nil
      }
      (f, base ++ extra)
    }
    val aggs: Seq[org.apache.spark.sql.Column] =
      count(lit(1)) +: perCol.flatMap(_._2)
    val (rowCount, row) =
      if (noScan) (None, null)
      else {
        val collected = df.agg(aggs.head, aggs.tail: _*).collect().head
        (Some(collected.getLong(0)), collected)
      }
    // walk the row positionally, building both surfaces at once
    var idx = 1
    val colResults = perCol.map { case (f, exprs) =>
      val ndv = row.getLong(idx)
      val nonNull = row.getLong(idx + 1)
      val nulls = rowCount.get - nonNull
      val (minS, maxS, avgLen, maxLen) = f.dataType match {
        case dt if numericLike(dt) =>
          (Option(row.getString(idx + 2)), Option(row.getString(idx + 3)),
            None, None)
        case StringType =>
          val a = Option(row.getString(idx + 2))
            .flatMap(_.toDoubleOption).map(d => math.ceil(d).toLong)
          val m = Option(row.getString(idx + 3)).flatMap(_.toLongOption)
          (None, None, a, m)
        case _ => (None, None, None, None)
      }
      idx += exprs.length
      (f, ndv, nulls, minS, maxS, avgLen, maxLen)
    }
    // durable manifest properties (engine-readable without a metastore).
    // `version` records WHICH snapshot the numbers describe — readers
    // judge staleness against the live version (metastore stats have
    // no equivalent and silently age)
    val props = Map(
      PropStatsPrefix + "sizeBytes" -> sizeBytes.toString,
      PropStatsPrefix + "version" -> cur.toString) ++
      rowCount.map(n => PropStatsPrefix + "rowCount" -> n.toString) ++
      colResults.map { case (f, ndv, nulls, minS, maxS, avgLen, maxLen) =>
        PropStatsPrefix + "col." + f.name ->
          (Seq(s"ndv:$ndv", s"nulls:$nulls") ++
            minS.map("min:" + _) ++ maxS.map("max:" + _) ++
            avgLen.map("avgLen:" + _) ++ maxLen.map("maxLen:" + _))
            .mkString(";")
      }
    val next = setTableProperties(spark, root, props)
    // metastore CatalogStatistics: what CBO join reordering consumes
    ident.foreach { i =>
      import org.apache.spark.sql.catalyst.catalog.{
        CatalogColumnStat, CatalogStatistics}
      val colStats = colResults.map {
        case (f, ndv, nulls, minS, maxS, avgLen, maxLen) =>
          f.name -> CatalogColumnStat(
            distinctCount = Some(BigInt(ndv)),
            min = minS, max = maxS,
            nullCount = Some(BigInt(nulls)),
            avgLen = avgLen.orElse(Some(f.dataType.defaultSize.toLong)),
            maxLen = maxLen.orElse(Some(f.dataType.defaultSize.toLong)),
            histogram = None, version = 2)
      }.toMap
      spark.sessionState.catalog.alterTableStats(i, Some(
        CatalogStatistics(BigInt(sizeBytes),
          rowCount.map(BigInt(_)), colStats)))
      spark.catalog.refreshTable(i.quotedString)
    }
    next
  }
}
