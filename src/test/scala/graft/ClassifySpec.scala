package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.execution.GenerateExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.TextFns
import graft.operators.Classify

class ClassifySpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  private lazy val dict = Seq(
    "guerre" -> "ukraine", "kiev" -> "ukraine",
    "paris" -> "france", "seine" -> "france").toDF("word", "label")

  test("majority vote wins (Transform.py:27-29)") {
    val docs = Seq((1L, "guerre kiev paris")).toDF("doc_id", "text")
    val out = Classify.byKeywords(docs, "doc_id", "text", dict, "other")
    assert(rows(out) === Set(Seq(1L, "ukraine")))
  }

  test("tie breaks to lexicographically smallest label (pinned total order)") {
    val docs = Seq((1L, "guerre paris")).toDF("doc_id", "text")
    val out = Classify.byKeywords(docs, "doc_id", "text", dict, "other")
    assert(rows(out) === Set(Seq(1L, "france")))
  }

  test("no keyword hit falls back to the default label (Transform.py:14)") {
    val docs = Seq((1L, "nothing matches here"), (2L, "seine")).toDF("doc_id", "text")
    val out = Classify.byKeywords(docs, "doc_id", "text", dict, "other")
    assert(rows(out) === Set(Seq(1L, "other"), Seq(2L, "france")))
  }

  test("normalization applies before matching: punctuation and case don't block hits") {
    val docs = Seq((1L, "GUERRE, Kiev; l'ukraine")).toDF("doc_id", "text")
    val out = Classify.byKeywords(docs, "doc_id", "text", dict, "other")
    assert(rows(out) === Set(Seq(1L, "ukraine")))
  }

  test("every doc gets exactly one label (classification is total)") {
    val docs = (1L to 50L).map(i => (i, if (i % 3 == 0) "paris" else "x " * i.toInt))
      .toDF("doc_id", "text")
    val out = Classify.byKeywords(docs, "doc_id", "text", dict, "other")
    assert(out.count() === 50)
    assert(out.select("doc_id").distinct().count() === 50)
  }

  /** The join-and-rank `byKeywords` the per-row kernel replaced,
    * verbatim: explode tokens, broadcast-join the dictionary, count per
    * (id, label), rank by count then label, join back, default. */
  private def referenceByKeywords(
      docs: DataFrame, idCol: String, textCol: String, dict: DataFrame,
      default: String): DataFrame = {
    val toks = docs
      .select(col(idCol), explode(TextFns.tokens(TextFns.normalize(col(textCol)))).as("tok"))
    val votes = toks
      .join(broadcast(dict), toks("tok") === dict("word"))
      .groupBy(col(idCol), col("label"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col(idCol)).orderBy(desc("cnt"), asc("label"))
    val top = votes
      .withColumn("rn", row_number().over(w))
      .where(col("rn") === 1)
      .select(col(idCol), col("label"))
    docs
      .select(col(idCol))
      .join(top, Seq(idCol), "left_outer")
      .select(col(idCol), coalesce(col("label"), lit(default)).as("label"))
  }

  // labels whose binary UTF-8 order differs from Java's UTF-16 order:
  // U+FF5A sorts after U+1F600's surrogates in UTF-16, before it in UTF-8
  private val wide = "\uFF5A"
  private val emoji = new String(Character.toChars(0x1F600))

  /** Duplicate (word, label) rows, words under several labels, a NULL
    * word, a NULL label and non-ASCII labels. */
  private lazy val adversarialDict: DataFrame = Seq[(String, String)](
    "alpha" -> "b", "alpha" -> "b", "alpha" -> "a",
    "beta" -> "a", "beta" -> "c",
    "gamma" -> wide, "delta" -> emoji, "delta" -> "é",
    "eps" -> null, "eps" -> "a",
    (null, "a"), (null, null),
    "zeta" -> "Z", "zeta" -> "z",
    "ÿ" -> emoji, "ÿ" -> wide).toDF("word", "label")

  private val vocab = IndexedSeq("alpha", "beta", "gamma", "delta", "eps", "zeta", "ÿ",
    "ALPHA", "Beta,", "x", "y", "'", ";", ",", "  ", "null")

  /** Seeded texts with unique ids: NULL, empty, token-less (only
    * separators and punctuation `normalize` blanks) and 1–12 words. */
  private lazy val seededDocs: DataFrame = {
    val rnd = new scala.util.Random(20261018L)
    val texts = Seq[String](null, "", "   ", ",;'", " ; , ") ++ (0 until 300).map { _ =>
      Seq.fill(1 + rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    // repartitioned: a Project over a local relation would be folded
    // by the optimizer with interpreted eval, whatever the codegen mode
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text").repartition(3)
  }

  private def assertMatchesReference(): Unit = {
    val out = Classify.byKeywords(seededDocs, "doc_id", "text", adversarialDict, "dflt")
    val ref = referenceByKeywords(seededDocs, "doc_id", "text", adversarialDict, "dflt")
    val expected = rows(ref)
    assert(expected.size === 305)
    assert(expected.map(_(1)).size >= 6, "the seeded corpus should reach most labels")
    assert(rows(out) === expected)
    // the bare column, as findCountry and corpusGate use it
    val voted = seededDocs.select(col("doc_id"),
      Classify.vote(col("text"), adversarialDict, "dflt").as("label"))
    assert(rows(voted) === expected)
  }

  test("byKeywords equals the join-and-rank formulation (whole-stage codegen)") {
    withConfs("spark.sql.codegen.wholeStage" -> "true") { assertMatchesReference() }
  }

  test("byKeywords equals the join-and-rank formulation (interpreted)") {
    withConfs("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") { assertMatchesReference() }
  }

  test("ties break in binary UTF-8 order; a winning NULL label gives the default") {
    val docs = Seq((1L, "ÿ"), (2L, "gamma delta"), (3L, "eps"), (4L, "zeta"))
      .toDF("doc_id", "text")
    val out = Classify.byKeywords(docs, "doc_id", "text", adversarialDict, "dflt")
    assert(rows(out) === Set(Seq(1L, wide), Seq(2L, "é"), Seq(3L, "dflt"), Seq(4L, "Z")))
  }

  test("one label per input row, from that row's own text") {
    val docs = Seq((1L, "paris"), (1L, "kiev kiev"), (2L, null)).toDF("doc_id", "text")
    val out = Classify.byKeywords(docs, "doc_id", "text", dict, "other")
    assert(orderedRows(out.orderBy("label")) ===
      Seq(Seq(1L, "france"), Seq(2L, "other"), Seq(1L, "ukraine")))
  }

  test("plan: map-only — no Exchange, Join or Generate") {
    val docs = spark.range(50).select(col("id").as("doc_id"),
      concat(lit("paris kiev "), col("id").cast("string")).as("text"))
    val plan = Classify.byKeywords(docs, "doc_id", "text", dict, "other")
      .queryExecution.executedPlan
    val offenders = collect(plan) {
      case e: Exchange => e
      case j: BaseJoinExec => j
      case g: GenerateExec => g
    }
    assert(offenders.isEmpty, plan.toString)
  }
}
