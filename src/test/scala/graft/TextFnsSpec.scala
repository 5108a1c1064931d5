package graft

import org.apache.spark.sql.functions._
import graft.functions.TextFns

class TextFnsSpec extends SparkSpec {
  import spark.implicits._

  private def one(c: org.apache.spark.sql.Column, input: String): Any =
    Seq(input).toDF("t").select(c).collect()(0).get(0)

  test("normalize replaces ,;' with space and lowercases (Transform.py:15-16)") {
    assert(one(TextFns.normalize(col("t")), "L'Ukraine, en GUERRE; oui") ===
      "l ukraine  en guerre  oui")
  }

  test("tokens collapses whitespace runs and drops empties") {
    assert(one(TextFns.tokens(col("t")), "  a  b\t c  ") === Seq("a", "b", "c"))
    assert(one(TextFns.tokens(col("t")), "   ") === Seq())
  }

  test("wordNgrams in order; fewer than n tokens gives empty array") {
    val toks = TextFns.tokens(col("t"))
    assert(one(TextFns.wordNgrams(toks, 2), "a b c") === Seq("a b", "b c"))
    assert(one(TextFns.wordNgrams(toks, 4), "a b c") === Seq())
  }

  test("punctRatio and stopwordRatio handle empty input as 0.0") {
    assert(one(TextFns.punctRatio(col("t")), "") === 0.0)
    assert(one(TextFns.punctRatio(col("t")), "a,b") === 1.0 / 3.0)
    val toks = TextFns.tokens(col("t"))
    assert(one(TextFns.stopwordRatio(toks, Seq("the")), "the big cat the") === 0.5)
    assert(one(TextFns.stopwordRatio(toks, Seq("the")), "") === 0.0)
  }

  test("fingerprint is stable across normalization-equivalent texts") {
    val df = Seq(("A,B", "a b"), ("x", "y")).toDF("l", "r")
      .select(
        (TextFns.fingerprint(col("l")) === TextFns.fingerprint(col("r"))).as("eq"))
    assert(df.collect().map(_.getBoolean(0)).toSeq === Seq(true, false))
  }
}
