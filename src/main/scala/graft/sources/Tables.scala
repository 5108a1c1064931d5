package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Readers for the harness test tables (see repo:TESTDATA.md).
  *
  * All tables are parquet with schemas carried in the footer, so no
  * explicit StructType is needed here (unlike the CSV/JSON/XML sources
  * in [[graft.newsmaper]], which declare schemas — reference inferred
  * schemas dynamically, see /root/reference/dags/Extract.py:19-26).
  *
  * Reading through one chokepoint keeps scan options consistent and
  * gives Catalyst a clean relation to push filters/projections into
  * (`PushedFilters`/`ReadSchema` in .explain).
  */
object Tables {
  def read(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  def region(s: SparkSession, d: String): DataFrame = read(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = read(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = read(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = read(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = read(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = read(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = read(s, d, "lineitem")
  /** `events.ts` is parquet TIMESTAMP(NANOS), which Spark only reads
    * as LONG (`spark.sql.legacy.parquet.nanosAsLong=true`, set by every
    * session builder in this repo). Convert to a microsecond timestamp
    * with integer division (ns values in the test data are all whole
    * micros, and DuckDB's parquet reader does the same ns→us
    * truncation, so both engines see identical timestamps). */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = read(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts div 1000")))
      case _ => raw
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = read(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = read(s, d, "embeddings")
}
