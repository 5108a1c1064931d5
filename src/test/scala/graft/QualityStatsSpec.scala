package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.functions.TextFns
import graft.operators.TextAnalysis

/** The per-document quality kernel against the derivation it
  * replaced: one exploded row per token plus a marker row carrying the
  * document-level counts, re-aggregated per id. The reference lives
  * only here; `TextAnalysis.quality` must reproduce it on unique ids,
  * with and without generated code. */
class QualityStatsSpec extends SparkSpec {
  import spark.implicits._

  /** The pre-kernel `TextAnalysis.quality`, verbatim. */
  private def referenceQuality(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val toks = TextFns.tokens(TextFns.normalize(t))
    val marker = struct(
      lit(null).cast("string").as("tok"),
      length(t).cast("long").as("nc"),
      (length(t) - length(regexp_replace(t, "[\\p{Punct}]", ""))).cast("long").as("np"))
    val tokRows = transform(
      coalesce(toks, array().cast("array<string>")),
      tok => struct(tok.as("tok"),
        lit(null).cast("long").as("nc"), lit(null).cast("long").as("np")))
    val keys = Seq(idCol).map(col)
    val agg = df.select(keys :+ explode(concat(array(marker), tokRows)).as("__e"): _*)
      .select(keys ++ Seq(col("__e.tok").as("__tok"),
        col("__e.nc").as("__enc"), col("__e.np").as("__enp")): _*)
      .groupBy(keys: _*)
      .agg(
        max(col("__enc")).as("__nc"),
        max(col("__enp")).as("__np"),
        sum(when(col("__tok").isNotNull, 1L).otherwise(0L)).as("__nw"),
        coalesce(sum(length(col("__tok")).cast("long")), lit(0L)).as("__sl"),
        sum(when(col("__tok").isin(TextAnalysis.stopwords("en").map(lit): _*), 1L)
          .otherwise(0L)).as("__ns"))
    val nw = col("__nw"); val sl = col("__sl"); val nc = col("__nc")
    val np = col("__np"); val ns = col("__ns")
    val wordShaped = sl >= nw * 3 && sl <= nw * 10
    val scoreNum = nw * least(nw, lit(100L)) * 2 +
      when(wordShaped, nw * 150).otherwise(lit(0L)) +
      least(ns * 3, nw) * 150
    def r4(num: org.apache.spark.sql.Column, den: org.apache.spark.sql.Column) =
      when(den === lit(0L), lit(0.0))
        .otherwise(floor((num * 20000 + den) / (den * 2)).cast("double") / 10000.0)
    agg.select(
      col(idCol),
      nc.as("n_chars"),
      nw.as("n_words"),
      r4(sl, nw).as("mean_word_len"),
      r4(np, nc).as("punct_ratio"),
      r4(ns, nw).as("stopword_ratio"),
      r4(scoreNum, nw * 500).as("quality_score"))
  }

  private def cp(c: Int): String = new String(Character.toChars(c))

  private val edgeTexts: Seq[String] = Seq(
    null, "", " ", "   ", "!", "...", "?!,;'", " , ; ' ",
    // `trim` strips spaces only; `\s+` also splits on tab, LF, VT, FF, CR
    "\tthe\t", "\nthe cat\n", "\rof\r", "a\u000Bb\u000Cc", " \t \n the \r ",
    // NBSP and other Unicode spaces are not `\s`: they stay inside tokens
    "the\u00A0cat", "\u00A0", "the\u2028cat\u2003\u3000 dog \u0085 x",
    // non-ASCII case mapping: `İ` lower-cases to two code points
    "İstanbul İ", "STRASSE Straße ß", "ΣΟΦΊΑ ΟΔΌΣ σ", "THE Of AND",
    // 4-byte code points, alone, inside tokens and beside punctuation
    cp(0x1F600), s"a${cp(0x1F600)}b ${cp(0x1D11E)}.", s"${cp(0x20BB7)}${cp(0x20BB7)} the",
    // stopwords at the edges and stopword look-alikes
    "the", "the end of it", "it is that", "for", "thee a an", "the,the;the'the",
    "'the' of, and; to", "THE. A! is?")

  private val alphabet: IndexedSeq[String] =
    (Seq("a", "b", "t", "h", "e", "o", "f", "T", "İ", "ß", "Σ", "é", " ", " ", "\u2003", "\t", "\n",
      "\r", "\u00A0", ",", ";", "'", ".", "!", "-", "中", "Ж") ++
      Seq(0x1F600, 0x1D11E).map(cp)).toIndexedSeq

  /** Edge texts and seeded random ones, on unique ids. */
  private lazy val docs: DataFrame = {
    val rnd = new scala.util.Random(20261020L)
    val words = TextAnalysis.stopwords("en") ++ Seq("cat", "The", "IT", "of.")
    val random = (0 until 300).map { _ =>
      val n = rnd.nextInt(40)
      Seq.fill(n)(if (rnd.nextInt(3) == 0) words(rnd.nextInt(words.size)) + " "
        else alphabet(rnd.nextInt(alphabet.size))).mkString
    }
    // repartitioned: a Project over a local relation would be folded
    // by the optimizer with interpreted eval, whatever the codegen mode
    (edgeTexts ++ random).zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text").repartition(3)
  }

  private def assertMatchesReference(): Unit = {
    val expected = rows(referenceQuality(docs, "doc_id", "text"))
    assert(expected.size === edgeTexts.size + 300)
    assert(rows(TextAnalysis.quality(docs, "doc_id", "text")) === expected)
  }

  test("quality equals the exploded derivation on edge texts (whole-stage codegen)") {
    withConfs("spark.sql.codegen.wholeStage" -> "true") { assertMatchesReference() }
  }

  test("quality equals the exploded derivation on edge texts (interpreted)") {
    withConfs("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") { assertMatchesReference() }
  }
}
