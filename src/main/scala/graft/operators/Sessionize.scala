package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Gap-based sessionization of an event stream, batch form.
  *
  * The reference has no streaming/windowing surface (SURVEY.md §2.6,
  * §2.8) — its "streaming" is a 20-minute Airflow re-run. This operator
  * provides the batch-checkable session semantics; the Structured
  * Streaming twin (`Streams.statefulSessions`) lives in
  * [[graft.streaming]].
  *
  * Classic two-window formulation: flag rows whose gap from the
  * previous event exceeds the timeout, running-sum the flags into a
  * session index. One shuffle on the key; both windows share the same
  * (key, ts) sort so Spark plans a single exchange + sort.
  */
object Sessionize {

  /** Assign `session_id` (0-based per key) to each event. `tieCol`
    * breaks equal-timestamp ordering so results are deterministic. */
  def assign(
      df: DataFrame, keyCol: String, tsCol: String, tieCol: String,
      gapSeconds: Long): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(tsCol), col(tieCol))
    // exact integer-microsecond gap test — no float drift vs the oracle.
    // unix_micros only accepts TIMESTAMP (ltz); parquet written without
    // isAdjustedToUTC arrives as TIMESTAMP_NTZ, so cast first. Under a
    // UTC session timezone the cast is a pure reinterpretation —
    // identical integers to DuckDB's epoch_us on naive timestamps —
    // and for already-ltz input it is a no-op. Under a NON-UTC zone
    // the NTZ cast is no longer linear (DST transitions skip/repeat an
    // hour, silently distorting gap arithmetic), so refuse rather than
    // mis-sessionize.
    val isNtz = df.schema.find(_.name == tsCol)
      .exists(_.dataType == org.apache.spark.sql.types.TimestampNTZType)
    if (isNtz) {
      val tz = df.sparkSession.conf.get("spark.sql.session.timeZone")
      require(tz == "UTC",
        s"sessionize over a TIMESTAMP_NTZ column requires spark.sql.session.timeZone=UTC " +
          s"(got '$tz'): the NTZ->TIMESTAMP cast is only gap-preserving in a zone " +
          "without DST transitions")
    }
    val tsUs = unix_micros(col(tsCol).cast(org.apache.spark.sql.types.TimestampType))
    val prevUs = lag(tsUs, 1).over(w)
    val newSession = when(
      prevUs.isNull.or(tsUs - prevUs > gapSeconds * 1000000L),
      1L).otherwise(0L)
    df.withColumn("__new", newSession)
      .withColumn("session_id",
        sum(col("__new")).over(w.rowsBetween(Window.unboundedPreceding, 0)) - 1)
      .drop("__new")
  }

  /** Collapse events into one row per session with span + count. */
  def sessions(
      df: DataFrame, keyCol: String, tsCol: String, tieCol: String,
      gapSeconds: Long): DataFrame =
    assign(df, keyCol, tsCol, tieCol, gapSeconds)
      .groupBy(col(keyCol), col("session_id"))
      .agg(
        min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"),
        count(lit(1)).as("n_events"))
}
