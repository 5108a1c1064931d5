package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, CodegenFallback, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, GenericInternalRow, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Polynomial rolling hash (Rabin–Karp) of a string's bytes:
  * h₀ = 0, hᵢ₊₁ = (hᵢ·base + byteᵢ) mod m — the streaming-friendly
  * document fingerprint (an engine can extend/window it incrementally,
  * unlike md5).
  *
  * Exact integer arithmetic end-to-end, so the DuckDB oracle twin
  * (`list_reduce` over `ord(...)` codes) matches bit-for-bit on ASCII
  * corpora; byte-vs-codepoint divergence only appears for non-ASCII
  * input. Native codegen loop: one pass over the document bytes, no
  * per-char expression evaluation.
  */
case class RollingHash(child: Expression, base: Long = 31L, mod: Long = 1000000007L)
    extends UnaryExpression {
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_rolling_hash"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING input, got ${t.simpleString}")
  }

  override def nullSafeEval(s: Any): Any = {
    val bytes = s.asInstanceOf[UTF8String].getBytes
    var h = 0L
    var i = 0
    while (i < bytes.length) { h = (h * base + (bytes(i) & 0xff)) % mod; i += 1 }
    h
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, x => {
      val b = ctx.freshName("bytes")
      val h = ctx.freshName("h")
      val i = ctx.freshName("i")
      s"""
         |byte[] $b = $x.getBytes();
         |long $h = 0L;
         |for (int $i = 0; $i < $b.length; $i++) {
         |  $h = ($h * ${base}L + ($b[$i] & 0xff)) % ${mod}L;
         |}
         |${ev.value} = $h;
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** MinHash signature of one document in a single pass over its UTF-8
  * bytes: every `shingleN`-code-point window (or the whole document
  * when it is shorter, including the empty one) is md5'd straight from
  * the bytes, the first 4 digest bytes are the unsigned 32-bit base
  * hash `h`, and each `(aᵢ·h + bᵢ) mod p` permutation folds into a
  * running minimum. Returns `coeffs.size` minima; NULL in, NULL out.
  *
  * This is exactly the SQL derivation `min((conv(substr(md5(
  * substr(t, i, n)), 1, 8), 16, 10) · a + b) % p)` over
  * `i ∈ 1..max(length(t) − n + 1, 1)` — code points are delimited the
  * way `UTF8String.substring` delimits them — without materializing a
  * row, a substring or a hex string per shingle. Overflow-free for
  * `h < 2³²`, `a < 2³⁰`, `b < p` (the caller's coefficient contract).
  */
case class MinHashSignature(
    child: Expression, shingleN: Int, coeffs: Seq[(Long, Long)], modulus: Long)
    extends UnaryExpression {
  require(shingleN >= 1, s"shingleN must be >= 1, got $shingleN")
  require(coeffs.nonEmpty, "at least one (a, b) permutation")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING input, got ${t.simpleString}")
  }

  // one kernel (digest + reused buffers) per deserialized task copy
  @transient private lazy val kernel =
    new MinHashKernel(shingleN, coeffs.map(_._1).toArray, coeffs.map(_._2).toArray, modulus)

  override def nullSafeEval(s: Any): Any = kernel.signature(s.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[MinHashKernel].getName
    def longs(xs: Seq[Long]) = xs.map(x => s"${x}L").mkString("new long[]{", ", ", "}")
    // one kernel per generated-class instance, i.e. per task
    val k = ctx.addMutableState(cls, "minhash", v =>
      s"$v = new $cls($shingleN, ${longs(coeffs.map(_._1))}, " +
        s"${longs(coeffs.map(_._2))}, ${modulus}L);")
    defineCodeGen(ctx, ev, s => s"$k.signature($s)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The per-task state and loop behind [[MinHashSignature]]: one md5
  * `MessageDigest`, one digest buffer, and reused buffers for the
  * document bytes and code-point offsets that grow to the longest
  * document seen. The only allocation per document is the result. */
final class MinHashKernel(shingleN: Int, a: Array[Long], b: Array[Long], p: Long) {
  private val md5 = java.security.MessageDigest.getInstance("MD5")
  private val digest = new Array[Byte](16)
  private val mins = new Array[Long](a.length)
  private var bytes = new Array[Byte](256)
  // starts(c) = byte offset of code point c; starts(numChars) = end
  private var starts = new Array[Int](257)

  def signature(s: UTF8String): ArrayData = {
    val nb = s.numBytes
    if (bytes.length < nb) bytes = new Array[Byte](nb)
    if (starts.length < nb + 1) starts = new Array[Int](nb + 1)
    s.writeToMemory(bytes, Platform.BYTE_ARRAY_OFFSET)
    var nc = 0
    var i = 0
    while (i < nb) {
      starts(nc) = i
      nc += 1
      i += UTF8String.numBytesForFirstByte(bytes(i))
    }
    starts(nc) = math.min(i, nb)
    java.util.Arrays.fill(mins, Long.MaxValue)
    val windows = math.max(nc - shingleN + 1, 1)
    var w = 0
    while (w < windows) {
      val from = starts(w)
      md5.update(bytes, from, starts(math.min(w + shingleN, nc)) - from)
      md5.digest(digest, 0, 16)
      val h = ((digest(0) & 0xffL) << 24) | ((digest(1) & 0xffL) << 16) |
        ((digest(2) & 0xffL) << 8) | (digest(3) & 0xffL)
      var k = 0
      while (k < mins.length) {
        val v = (a(k) * h + b(k)) % p
        if (v < mins(k)) mins(k) = v
        k += 1
      }
      w += 1
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }
}

/** Keyword majority vote over one document's tokens: the reference's
  * per-row classifier (Transform.py:14-33) as one expression. `entries`
  * are the dictionary's (word, label) rows, duplicates included: a
  * token casts one vote for every entry carrying its word. The winner
  * has the highest count, ties going to the smallest label in binary
  * UTF-8 order with a NULL label first; `default` when no token
  * matched, when the NULL label wins, or when the token array is NULL.
  *
  * This is exactly the join-and-rank formulation — `tokens ⋈ dict` on
  * `tok = word`, `count(*)` per (document, label), `row_number()` over
  * `cnt DESC, label ASC`, coalesced to `default` — without a row per
  * token. Evaluated through `CodegenFallback`: the per-row work is
  * one hash-map lookup per token.
  */
case class KeywordVote(child: Expression, entries: Seq[(String, String)], default: String)
    extends UnaryExpression with CodegenFallback {
  require(default != null, "the default label must not be NULL")

  override def dataType: DataType = StringType
  override def nullable: Boolean = false
  override def prettyName: String = "graft_keyword_vote"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires ARRAY<STRING> input, got ${t.simpleString}")
  }

  // the dictionary can be large: plans show its size, not its rows
  override protected def flatArguments: Iterator[Any] =
    Iterator(child, s"${entries.size} entries", default)

  // one lookup table and count buffer per deserialized task copy
  @transient private lazy val kernel = new KeywordVoteKernel(entries, default)

  override def eval(input: InternalRow): Any =
    kernel.vote(child.eval(input).asInstanceOf[ArrayData])

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** The lookup table and loop behind [[KeywordVote]]. Labels are slots
  * numbered in vote order — the NULL label (if any) first, then the
  * distinct labels in binary order — so the argmax is the
  * highest-count, lowest-numbered slot. Counts are reset through the
  * list of slots a document touched, not the whole buffer. */
final class KeywordVoteKernel(entries: Seq[(String, String)], default: String) {
  private val labels: Array[UTF8String] = {
    val (nulls, named) = entries.map(_._2).distinct.partition(_ == null)
    (nulls.map(_ => null: UTF8String) ++
      named.map(UTF8String.fromString).sortWith(_.binaryCompare(_) < 0)).toArray
  }
  private val slots: java.util.HashMap[UTF8String, Array[Int]] = {
    val slotOf = labels.zipWithIndex.map { case (l, i) => Option(l).map(_.toString) -> i }.toMap
    val m = new java.util.HashMap[UTF8String, Array[Int]]()
    entries.filter(_._1 != null).groupBy(_._1).foreach { case (w, es) =>
      m.put(UTF8String.fromString(w), es.map(e => slotOf(Option(e._2))).toArray)
    }
    m
  }
  private val dflt = UTF8String.fromString(default)
  private val counts = new Array[Int](labels.length)
  private val touched = new Array[Int](labels.length)

  def vote(toks: ArrayData): UTF8String = {
    if (toks == null) return dflt
    var nTouched = 0
    var i = 0
    while (i < toks.numElements()) {
      if (!toks.isNullAt(i)) {
        val hit = slots.get(toks.getUTF8String(i))
        if (hit != null) {
          var j = 0
          while (j < hit.length) {
            val k = hit(j)
            if (counts(k) == 0) { touched(nTouched) = k; nTouched += 1 }
            counts(k) += 1
            j += 1
          }
        }
      }
      i += 1
    }
    var best = -1
    var j = 0
    while (j < nTouched) {
      val k = touched(j)
      if (best < 0 || counts(k) > counts(best) || (counts(k) == counts(best) && k < best))
        best = k
      j += 1
    }
    j = 0
    while (j < nTouched) { counts(touched(j)) = 0; j += 1 }
    if (best < 0 || labels(best) == null) dflt else labels(best)
  }
}

/** Per-document quality metrics in one pass: `(n_chars, n_words,
  * mean_word_len, punct_ratio, stopword_ratio, quality_score)`,
  * exactly as the SQL derivation computes them per row from five
  * counts —
  *
  *  - `nc = length(text)`, `np = length(text) −
  *    length(regexp_replace(text, '[\p{Punct}]', ''))`, both NULL for
  *    NULL text;
  *  - over `tokens = TextFns.tokens(normalized)` (NULL counts as no
  *    tokens): `nw = size(tokens)`, `sl = Σ length(tok)` and
  *    `ns = size(filter(tokens, tok IN stopwords))`;
  *
  * and the ratios `sl/nw`, `np/nc`, `ns/nw` and the composite score
  * rounded by [[QualityStatsKernel.r4]].
  *
  * `normalized` is `TextFns.normalize(text)`, evaluated by Spark's own
  * `translate` and `lower`, so case mapping (`İ`, `ß`, `Σ`) is Spark's
  * by construction. The rest needs no Unicode tables: `\s` in Java's
  * default regex dialect and `\p{Punct}` are both ASCII-only, and an
  * ASCII byte never occurs inside a multi-byte UTF-8 sequence. So a
  * token is a maximal run of bytes outside `[ \t\n\x0B\f\r]` (the
  * space-only `trim` cannot change the tokens, since the split drops
  * the empty edges it would have trimmed), lengths count code points
  * as `length` does, and punctuation is a byte class. The struct is
  * never NULL. Valid UTF-8 is assumed, as `length` assumes it.
  *
  * The kernel scores as well as counts because a filter on a metric is
  * pushed below the projection that reads the struct, with the
  * metric's expression substituted in, and a filter does not share
  * common subexpressions: each struct reference in that expression
  * becomes one more kernel evaluation per row. Scored here, a filter
  * on one metric costs one evaluation.
  */
case class QualityStats(text: Expression, normalized: Expression, stopwords: Seq[String])
    extends BinaryExpression {
  override def left: Expression = text
  override def right: Expression = normalized
  override def nullable: Boolean = false
  override def dataType: DataType = QualityStats.schema
  override def prettyName: String = "graft_quality_stats"

  override def checkInputDataTypes(): TypeCheckResult =
    if (text.dataType == StringType && normalized.dataType == StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires STRING inputs, got ${text.dataType.simpleString}, " +
        normalized.dataType.simpleString)

  private def stopBytes: Array[Array[Byte]] = stopwords.map(_.getBytes("UTF-8")).toArray

  // one kernel (reused byte buffer) per deserialized task copy
  @transient private lazy val kernel = new QualityStatsKernel(stopBytes)

  override def eval(input: InternalRow): Any = kernel.stats(
    text.eval(input).asInstanceOf[UTF8String], normalized.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = classOf[QualityStatsKernel].getName
    val words = stopBytes.map(_.mkString("{", ", ", "}")).mkString("new byte[][]{", ", ", "}")
    // one kernel per generated-class instance, i.e. per task
    val k = ctx.addMutableState(cls, "qstats", v => s"$v = new $cls($words);")
    val t = text.genCode(ctx)
    val n = normalized.genCode(ctx)
    ev.copy(code = code"""
      |${t.code}
      |${n.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} = $k.stats(${t.isNull} ? null : ${t.value},
      |  ${n.isNull} ? null : ${n.value});
      """.stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(text = newLeft, normalized = newRight)
}

object QualityStats {
  val schema: StructType = StructType(Seq(
    StructField("n_chars", LongType),
    StructField("n_words", LongType, nullable = false),
    StructField("mean_word_len", DoubleType, nullable = false),
    StructField("punct_ratio", DoubleType),
    StructField("stopword_ratio", DoubleType, nullable = false),
    StructField("quality_score", DoubleType, nullable = false)))
}

/** The loop behind [[QualityStats]], with a reused buffer for the
  * normalized text's bytes. The only allocation per document is the
  * result row. */
final class QualityStatsKernel(stops: Array[Array[Byte]]) {
  private val maxStop = if (stops.isEmpty) 0 else stops.map(_.length).max
  private var bytes = new Array[Byte](256)

  def stats(text: UTF8String, normalized: UTF8String): InternalRow = {
    var nw, sl, ns = 0L
    if (normalized != null) {
      val nb = normalized.numBytes
      if (bytes.length < nb) bytes = new Array[Byte](nb)
      normalized.writeToMemory(bytes, Platform.BYTE_ARRAY_OFFSET)
      var i = 0
      while (i < nb) {
        while (i < nb && QualityStatsKernel.isSpace(bytes(i))) i += 1
        if (i < nb) {
          val from = i
          var cps = 0
          while (i < nb && !QualityStatsKernel.isSpace(bytes(i))) {
            cps += 1
            i += UTF8String.numBytesForFirstByte(bytes(i))
          }
          i = math.min(i, nb)
          nw += 1
          sl += cps
          if (i - from <= maxStop && isStopword(from, i - from)) ns += 1
        }
      }
    }
    import QualityStatsKernel.r4
    // composite = min(nw,100)/100·0.4 + [3 ≤ sl/nw ≤ 10]·0.3
    //           + min(3·ns/nw, 1)·0.3  — as one rational N / (500·nw):
    val score = nw * math.min(nw, 100L) * 2 + (if (sl >= nw * 3 && sl <= nw * 10) nw * 150 else 0L) +
      math.min(ns * 3, nw) * 150
    val row = new GenericInternalRow(
      Array[Any](null, nw, r4(sl, nw), null, r4(ns, nw), r4(score, nw * 500)))
    if (text != null) {
      val nc = text.numChars.toLong
      row.update(0, nc)
      row.update(3, r4(punct(text), nc))
    }
    row
  }

  private def isStopword(from: Int, len: Int): Boolean = {
    var s = 0
    while (s < stops.length) {
      val w = stops(s)
      if (w.length == len) {
        var j = 0
        while (j < len && bytes(from + j) == w(j)) j += 1
        if (j == len) return true
      }
      s += 1
    }
    false
  }

  private def punct(text: UTF8String): Long = {
    val base = text.getBaseObject
    val off = text.getBaseOffset
    var n = 0L
    var i = 0
    while (i < text.numBytes) {
      if (QualityStatsKernel.isPunct(Platform.getByte(base, off + i))) n += 1
      i += 1
    }
    n
  }
}

object QualityStatsKernel {
  /** round(num/den, 4) half-up, exact, as the SQL `floor((num·20000 +
    * den) / (den·2)) / 10⁴` evaluates it (see `TextAnalysis.quality`
    * for why not `round`): numerators stay < 2^53, so the one double
    * division is correctly rounded and floor is exact. 0 for a zero
    * denominator. */
  def r4(num: Long, den: Long): Double =
    if (den == 0) 0.0 else math.floor((num * 20000 + den).toDouble / (den * 2).toDouble).toLong / 10000.0

  /** Java's `\s`: `[ \t\n\x0B\f\r]`. */
  def isSpace(b: Byte): Boolean = b == ' ' || (b >= '\t' && b <= '\r')
  /** POSIX `\p{Punct}`: the 32 ASCII punctuation characters. */
  def isPunct(b: Byte): Boolean =
    (b >= '!' && b <= '/') || (b >= ':' && b <= '@') || (b >= '[' && b <= '`') ||
      (b >= '{' && b <= '~')
}
