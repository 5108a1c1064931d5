package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Shim
import graft.functions.TextFns
import graft.plans.KeywordVote

/** Keyword-dictionary majority-vote classification.
  *
  * Generalizes the reference's country classifier
  * (/root/reference/dags/Transform.py:14-33): concat text fields →
  * normalize → tokenize → count each token's dictionary labels →
  * argmax with deterministic tie-break → default class when nothing
  * matched (Transform.py:14 `default id=1`).
  *
  * The reference votes row by row (`df.apply(axis=1)`) with an
  * interpreted O(tokens × dict) loop (Transform.py:19-26). Here the
  * dictionary — small, the side a join would broadcast — is collected
  * once on the driver into a [[graft.plans.KeywordVote]] expression
  * that hashes each token of a row into it. The vote is map-only: no
  * join, aggregate, window or shuffle, so at 100 TB the fact side
  * streams through map tasks and keeps its partitioning.
  */
object Classify {

  /** The label of `text` as a column: the [[byKeywords]] vote over
    * `TextFns.tokens(TextFns.normalize(text))`. Collects `dict`
    * (word STRING, label STRING) when called. */
  def vote(text: Column, dict: DataFrame, default: String): Column = {
    val entries = dict.select(col("word"), col("label")).collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    Shim.column(KeywordVote(
      Shim.expression(TextFns.tokens(TextFns.normalize(text))), entries, default))
  }

  /** One label per input row, from that row's text, as the reference
    * labels each article: the label with the most token hits, ties to
    * the smallest label (pandas idxmax is positional — we pin a total
    * order instead, SURVEY.md §2.5 A3), `default` when nothing
    * matched. When `idCol` is unique this equals voting over all the
    * text sharing an id; every catalog caller keys on a unique
    * `doc_id`.
    * @param docs     input with an `idCol` key and a `textCol` string
    * @param dict     (word, label) dictionary — small, collected
    * @param default  label when no keyword matches
    * @return (idCol, label)
    */
  def byKeywords(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      dict: DataFrame, // columns: word STRING, label STRING
      default: String): DataFrame =
    docs.select(col(idCol), vote(col(textCol), dict, default).as("label"))
}
