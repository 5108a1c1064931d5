package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions.
  *
  * Generalizes the reference's normalize/tokenize pipeline
  * (/root/reference/dags/Transform.py:15-17: replace `,;'` with space,
  * lowercase, split on space) into reusable, codegen'd `Column`
  * expressions — no UDFs on the hot path, so every one of these stays
  * inside WholeStageCodegen and scales linearly with input bytes.
  */
object TextFns {

  /** Reference-faithful normalization: `,`, `;`, `'` → space, lowercase.
    * (/root/reference/dags/Transform.py:15-16) */
  def normalize(c: Column): Column = lower(translate(c, ",;'", "   "))

  /** Whitespace tokenization; collapses runs (unlike the reference's
    * single-space split which yields empty tokens, Transform.py:17). */
  def tokens(c: Column): Column =
    filter(split(trim(c), "\\s+"), t => length(t) > 0)

  /** All word n-grams (joined with a space), in document order; empty
    * when the document has fewer than n tokens. */
  def wordNgrams(toks: Column, n: Int): Column =
    when(size(toks) < n, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))

  /** Punctuation ratio: punctuation chars / total chars (0 for empty). */
  def punctRatio(c: Column): Column = {
    val punct = length(c) - length(regexp_replace(c, "[\\p{Punct}]", ""))
    when(length(c) === 0, lit(0.0)).otherwise(punct.cast("double") / length(c))
  }

  /** Ratio of tokens that appear in `stopwords`. */
  def stopwordRatio(toks: Column, stopwords: Seq[String]): Column = {
    val hits = size(filter(toks, t => t.isin(stopwords.map(lit): _*)))
    when(size(toks) === 0, lit(0.0))
      .otherwise(hits.cast("double") / size(toks))
  }

  /** Stable 128-bit content fingerprint of normalized text (md5 hex).
    * md5 is available verbatim in DuckDB, keeping the oracle portable. */
  def fingerprint(c: Column): Column = md5(normalize(c))
}
