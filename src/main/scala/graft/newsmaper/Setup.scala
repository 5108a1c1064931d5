package graft.newsmaper

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.Ranking

/** One-shot setup: seed sources / dictionaries / calendar — the
  * reference's `setup_newsmaper_pipeline` DAG
  * (/root/reference/dags/Setup.py:18-65) re-expressed as explicit-schema
  * Spark reads plus parquet seed writes.
  *
  * Covers SURVEY §2 rows S4 (CSV read with header), S5 (multiLine JSON
  * with nested arrays), K2/K5 (seed appends), K4 (DDL) and O3 (the
  * one-shot composition).
  */
object Setup {

  /** CSV shape of the sources seed — the reference file has no id
    * column; Postgres SERIAL assigns it on insert
    * (/root/reference/dags/Setup.py:55-61, dags/files/sources.csv:1). */
  val sourcesCsvSchema: StructType = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("website", StringType, nullable = false),
    StructField("rss", StringType, nullable = false)))

  /** S4 — header CSV read with an explicit schema (never inferred).
    * The SERIAL surrogate id becomes a row_number over the natural key:
    * insert-file order is not a distributed concept, so the id is made
    * deterministic by ordering on `name` instead (surrogate values are
    * arbitrary as long as they are stable and dense). */
  def readSourcesCsv(spark: SparkSession, path: String): DataFrame =
    Ranking.boundedRowNumber(
        spark.read.option("header", true).schema(sourcesCsvSchema).csv(path), "id", col("name"))
      .select("id", "name", "website", "rss")

  /** S5 — the keyword dictionary: a multiLine JSON array of objects
    * with a nested `words: ARRAY<STRING>`
    * (/root/reference/dags/Transform.py:11, dags/files/references.json). */
  def readReferencesJson(spark: SparkSession, path: String): DataFrame =
    spark.read.option("multiLine", true)
      .schema(Newsmaper.referencesSchema).json(path)
      .select("id", "name", "words")

  /** K4 + K5 — star-schema DDL and the VALUES countries seed
    * (/root/reference/dags/Setup.py:26-53, dags/sql/countries.sql,
    * dags/sql/sample_countries.sql:1-5 — only the first 4 rows of that
    * seed are valid SQL; the rest are orphaned fragments, see SURVEY
    * §1.1). Creates a catalog-managed parquet table; idempotent. */
  def createCountries(spark: SparkSession): Unit = {
    spark.sql(
      """CREATE TABLE IF NOT EXISTS countries
        |  (id BIGINT, name STRING, capital STRING) USING parquet""".stripMargin)
    if (spark.table("countries").isEmpty) {
      spark.sql(
        """INSERT INTO countries VALUES
          |  (1, 'France', 'Paris'), (2, 'Italie', 'Rome'),
          |  (3, 'Espagne', 'Madrid'), (4, 'Allemagne', 'Berlin')""".stripMargin)
    }
  }

  /** O3 — the one-shot seed composition (`create >> populate`,
    * /root/reference/dags/Setup.py:62-65): write sources, references
    * and the generated hour-grain calendar as parquet seeds. */
  def seed(
      spark: SparkSession, sourcesCsv: String, referencesJson: String,
      outDir: String, calStartIso: String, calEndIso: String): Unit = {
    readSourcesCsv(spark, sourcesCsv)
      .write.mode("overwrite").parquet(s"$outDir/sources.parquet")
    readReferencesJson(spark, referencesJson)
      .write.mode("overwrite").parquet(s"$outDir/references.parquet")
    Newsmaper.calendarDim(spark, calStartIso, calEndIso)
      .write.mode("overwrite").parquet(s"$outDir/date.parquet")
  }
}
