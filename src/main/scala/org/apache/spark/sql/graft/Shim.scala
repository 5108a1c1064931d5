package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** The engine's bridge into Spark's `private[sql]` surface; everything
  * else of the engine lives in the `graft` namespace, and only this
  * object sits inside `org.apache.spark.sql` (the technique every
  * third-party expression library uses since Spark 4 made these
  * package-private). It bridges:
  *  - Column ⇄ catalyst Expression for the native expressions
  *    (graft.plans) and the lake stats pruner;
  *  - nullable relaxation of schemas and types;
  *  - an already-planned rdd as a batch or streaming logical plan;
  *  - LogicalPlan -> DataFrame ([[ofRows]]);
  *  - the narrow-width session pair ([[cloneSession]], [[rebind]])
  *    that [[graft.operators.ShuffleWidth]] builds on. */
object Shim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Column -> FULLY-CONVERTED catalyst tree. [[expression]] returns a
    * lazy `ColumnNodeExpression` wrapper whose children are still
    * sql-api ColumnNodes — fine for embedding in a plan, useless for
    * pattern-matching. This runs the classic converter eagerly, so
    * callers (the Lake stats pruner) see real `EqualTo`/`Literal`/
    * `UnresolvedAttribute` nodes. */
  def catalystTree(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** Deep nullable relaxation (`StructType.asNullable` is
    * `private[spark]`) — `Lake.sqlTable` must expose the same
    * everything-nullable reading schema `spark.read.schema(...)`
    * produces, or the two read paths disagree on metadata. */
  def asNullable(s: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType = s.asNullable

  /** Same relaxation for a single type (`DataType.asNullable` is
    * `private[spark]`) — UPDATE SET casts its value to the column's
    * type, and a scan-derived NOT NULL nested field must not make
    * that cast refuse a nullable-but-equal struct. */
  def asNullableType(t: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = t.asNullable

  /** The ForeachBatchSink move: wrap an already-planned incremental
    * execution's rdd as a BATCH logical plan, so a streaming sink can
    * hand its micro-batch to batch writers without re-analysis
    * (`LogicalRDD.fromDataset` is `private[sql]`). */
  def batchPlanOf(rdd: org.apache.spark.rdd.RDD[
        org.apache.spark.sql.catalyst.InternalRow],
      origin: org.apache.spark.sql.Dataset[_])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    org.apache.spark.sql.execution.LogicalRDD.fromDataset(rdd,
      origin.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]],
      isStreaming = false)

  /** The MemoryStream move, dual of [[batchPlanOf]]: wrap a BATCH
    * computation's planned rdd as a STREAMING logical plan, so a
    * `Source.getBatch` can return work computed through the batch
    * API (the change-feed diff joins would otherwise trip the
    * streaming unsupported-operations checker). */
  def streamingPlanOf(rdd: org.apache.spark.rdd.RDD[
        org.apache.spark.sql.catalyst.InternalRow],
      origin: org.apache.spark.sql.Dataset[_])
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    org.apache.spark.sql.execution.LogicalRDD.fromDataset(rdd,
      origin.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]],
      isStreaming = true)

  /** LogicalPlan -> DataFrame (`Dataset.ofRows` went `private[sql]`
    * with the Spark 4 classic split). Used by `Lake.sqlTable` to
    * surface the [[org.apache.spark.sql.execution.datasources
    * .HadoopFsRelation]] it assembles over a lake snapshot. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A session sharing `spark`'s context, cache and catalog with a
    * COPY of its conf (and temp views, functions, listeners) plus
    * `confs`, so nothing set here is visible to `spark`.
    *
    * Its tasks run in the executors' default state, not in one of
    * their own: an own state is a fresh executor classloader, under
    * which every generated class compiles again (tens of ms per stage)
    * and stays cached beside the earlier copies. Artifact isolation is
    * fixed when a session is built, so it is switched off on an
    * intermediate clone that the returned one copies. A session that
    * may hold session-scoped artifacts keeps it: one with added jars,
    * or one that always applies its artifact classloader (a Spark
    * Connect session). */
  def cloneSession(spark: org.apache.spark.sql.SparkSession,
      confs: Map[String, String]): org.apache.spark.sql.SparkSession = {
    import org.apache.spark.sql.internal.SQLConf
    val parent = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val base = parent.cloneSession()
    if (parent.artifactManager.getAddedJars.isEmpty &&
        !parent.conf.get(SQLConf.ARTIFACTS_SESSION_ISOLATION_ALWAYS_APPLY_CLASSLOADER))
      base.conf.set(SQLConf.ARTIFACTS_SESSION_ISOLATION_ENABLED.key, "false")
    confs.foreach { case (k, v) => base.conf.set(k, v) }
    base.cloneSession()
  }

  /** `df` as a DataFrame of `spark`: a Dataset plans (width, AQE) under
    * its own session, so moving a plan across sessions takes a new
    * Dataset. Reuses the analyzed plan with any command already run,
    * so a rebound INSERT never runs twice and a rebound scan never
    * re-lists its files. `df` itself when it already belongs to
    * `spark`. */
  def rebind(spark: org.apache.spark.sql.SparkSession,
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    if (df.sparkSession eq spark) df
    else ofRows(spark,
      df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].logicalPlan)
}
