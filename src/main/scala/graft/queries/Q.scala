package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named engine query: a DataFrame program plus (optionally) its
  * ANSI-SQL twin for the DuckDB oracle (repo:src/main/scala/graft/Verify.scala).
  *
  * Oracle-parity rules applied throughout the catalog (SURVEY.md §5.3):
  *  - every aggregate over DOUBLE goes through DECIMAL so the sum is
  *    exact and order-independent (shuffle order must not change the
  *    result), then back to DOUBLE for a stable output type;
  *  - every result carries an ORDER BY over a unique key, and every
  *    window/argmax has a total-order tie-break;
  *  - column names are aliased identically on both sides (the driver
  *    hash-compares by sorted column name).
  */
final case class Q(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Q {
  def apply(name: String, oracle: String)(run: (SparkSession, String) => DataFrame): Q =
    Q(name, run, Some(oracle))

  /** One suffix per JVM so two concurrent Verify/Bench invocations (or
    * a crashed prior run's leftovers) never share a scratch table path:
    * queries that materialize committed side tables key their tmpdir
    * roots by (tag, sfDir, THIS) instead of just tag+sfDir. */
  val runId: String = java.lang.Long.toHexString(
    (ProcessHandle.current().pid() << 20) ^ System.nanoTime())
}
