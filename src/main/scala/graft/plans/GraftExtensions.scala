package graft.plans

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graft.Shim

/** Registration surface for the engine's native expressions.
  *
  * Two entry points:
  *  - config-driven: `spark.sql.extensions=graft.plans.GraftExtensions`
  *    makes `graft_dot`/`graft_cosine`/`graft_rolling_hash` available
  *    to every SQL query of the session;
  *  - [[GraftExtensions.register]]: imperative, idempotent, for
  *    sessions built by an external harness.
  *
  * DataFrame code doesn't need either — the typed [[dot]]/[[cosine]]/
  * [[rollingHash]] wrappers build the expressions directly.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    // SQL table-valued metadata surfaces for lake tables:
    // `SELECT * FROM graft_history('<root>')` (DESCRIBE HISTORY) and
    // `FROM graft_partitions('<root>')` (SHOW PARTITIONS) — both
    // answer from manifest metadata alone, bounded by retention, so
    // materializing them at resolution is KB-scale, never a scan
    GraftExtensions.tableFunctions.foreach(ext.injectTableFunction)
    // SQL INSERT INTO/OVERWRITE on graft-lake catalog tables must go
    // through the manifest commit, not a raw file write into the
    // table root (see GraftLakeInsertRule — silent data loss without it)
    ext.injectPostHocResolutionRule(_ => new graft.sources.GraftLakeInsertRule)
    // SQL DELETE/UPDATE/MERGE on graft-lake catalog tables route to
    // the copy-on-write commit engines (see GraftLakeDmlRule); the
    // analyzer resolves these fully for v1 relations and only planning
    // would reject them, so post-hoc resolution is the right slot
    ext.injectPostHocResolutionRule(_ => new graft.sources.GraftLakeDmlRule)
    // SQL `VERSION AS OF` / `TIMESTAMP AS OF` on graft-lake catalog
    // tables resolves to the pinned snapshot read. Hints batch: the
    // built-in ResolveRelations refuses v1 time travel before any
    // extended RESOLUTION rule could fire (see GraftLakeTimeTravelRule)
    ext.injectHintResolutionRule(s => new graft.sources.GraftLakeTimeTravelRule(s))
    // MERGE WITH SCHEMA EVOLUTION must be intercepted BEFORE resolution
    // (the analyzer expands star actions against the un-evolved target
    // schema) — the rule evolves the schema first, then re-analyzes
    ext.injectHintResolutionRule(s => new graft.sources.GraftLakeMergeEvolutionRule(s))
    // CREATE TABLE column lists carrying DEFAULT / GENERATED ALWAYS AS
    // / IDENTITY birth the table with its governance (one establishing
    // commit) — intercepted before ResolveSessionCatalog refuses the
    // facets for v1 providers; plain column lists keep Spark's path
    ext.injectHintResolutionRule(s => new graft.sources.GraftLakeCreateTableRule(s))
    // ALTER TABLE … ADD/DROP CONSTRAINT on graft-lake tables routes to
    // the manifest constraint property — same pre-Resolution slot
    // (ResolveSessionCatalog refuses the v2 commands for v1 tables)
    ext.injectHintResolutionRule(s => new graft.sources.GraftLakeConstraintRule(s))
    // ALTER TABLE … RENAME/DROP COLUMN routes to the metadata-only
    // column-mapping engine (#colmap) — same slot, same reason
    ext.injectHintResolutionRule(s => new graft.sources.GraftLakeColumnDdlRule(s))
    // ALTER TABLE … SET/UNSET TBLPROPERTIES and SHOW TBLPROPERTIES on
    // lake tables route to the MANIFEST property map (graft.retain /
    // graft.dvMaxRows live there, not in the metastore) — same slot,
    // intercepted before ResolveSessionCatalog turns them into v1
    // metastore commands
    ext.injectHintResolutionRule(s => new graft.sources.GraftLakePropertiesRule(s))
    // SQL catalog reads of a snapshot carrying deletion vectors get
    // the DV filter wrapped around the scan (DataFrame reads apply it
    // at assembly; the catalog SELECT path resolves to a bare
    // relation) — without this a SQL read would silently resurrect
    // soft-deleted rows. Registered AFTER the DML/insert rules so
    // their pattern matches see the unwrapped relation.
    ext.injectPostHocResolutionRule(s => new graft.sources.GraftLakeDvRule(s))
    // SQL spellings for lake maintenance — OPTIMIZE [WHERE] [ZORDER
    // BY], VACUUM [RETAIN n HOURS], RESTORE TABLE … TO VERSION AS OF,
    // DESCRIBE HISTORY — none of which exist in Spark's grammar: a
    // delegating parser intercepts exactly those four line-shaped
    // statements and passes everything else through untouched.
    ext.injectParser((s, delegate) =>
      new graft.sources.GraftSqlParser(s, delegate))
  }
}

object GraftExtensions {

  type FunctionDescription =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  /** Arity-checked builder: wrong-arity SQL calls get the standard
    * "invalid number of arguments" analysis error naming the function,
    * not a raw IndexOutOfBoundsException from args(1). */
  private def arity(name: String, n: Int)(build: Seq[Expression] => Expression)
      : Seq[Expression] => Expression =
    args => {
      if (args.length != n)
        throw new org.apache.spark.sql.AnalysisException(
          errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          messageParameters = Map(
            "functionName" -> s"`$name`",
            "expectedNum" -> n.toString,
            "actualNum" -> args.length.toString,
            "docroot" -> "https://spark.apache.org/docs/latest"))
      build(args)
    }

  val functions: Seq[FunctionDescription] = Seq(
    (FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      arity("graft_dot", 2)(args => DotProduct(args.head, args(1)))),
    (FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSimilarity].getName, "graft_cosine"),
      arity("graft_cosine", 2)(args => CosineSimilarity(args.head, args(1)))),
    (FunctionIdentifier("graft_rolling_hash"),
      new ExpressionInfo(classOf[RollingHash].getName, "graft_rolling_hash"),
      arity("graft_rolling_hash", 1)(args => RollingHash(args.head))),
    (FunctionIdentifier("graft_ln"),
      new ExpressionInfo(classOf[LibmLn].getName, "graft_ln"),
      arity("graft_ln", 1)(args => LibmLn(args.head))))

  /** Idempotent imperative registration into an existing session. */
  def register(spark: SparkSession): Unit = functions.foreach { case (id, info, builder) =>
    spark.sessionState.functionRegistry.registerFunction(id, info, builder)
  }

  type TableFunctionDescription =
    (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)

  /** One required string-literal argument (the table root) of a
    * metadata table function — anything else refuses with the
    * function named. */
  private def rootArg(name: String, args: Seq[Expression]): String = args match {
    case Seq(org.apache.spark.sql.catalyst.expressions.Literal(s, _))
        if s != null && args.head.dataType ==
          org.apache.spark.sql.types.StringType =>
      s.toString
    case _ => throw new org.apache.spark.sql.AnalysisException(
      errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
      messageParameters = Map(
        "functionName" -> s"`$name`",
        "expectedNum" -> "1 (a string table-root literal)",
        "actualNum" -> args.length.toString,
        "docroot" -> "https://spark.apache.org/docs/latest"))
  }

  private def wrongArgs(name: String, expected: String, n: Int): Nothing =
    throw new org.apache.spark.sql.AnalysisException(
      errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
      messageParameters = Map(
        "functionName" -> s"`$name`",
        "expectedNum" -> expected,
        "actualNum" -> n.toString,
        "docroot" -> "https://spark.apache.org/docs/latest"))

  val tableFunctions: Seq[TableFunctionDescription] = Seq(
    (FunctionIdentifier("graft_history"),
      new ExpressionInfo("graft.sources.Lake", "graft_history"),
      args => graft.sources.Lake.describeHistory(
        SparkSession.active, rootArg("graft_history", args))
        .queryExecution.analyzed),
    (FunctionIdentifier("graft_partitions"),
      new ExpressionInfo("graft.sources.Lake", "graft_partitions"),
      args => graft.sources.Lake.partitionValues(
        SparkSession.active, rootArg("graft_partitions", args))
        .queryExecution.analyzed),
    // Delta's `table_changes` for lake tables: the exact row-level
    // change feed of a version range, in SQL —
    // `FROM graft_changes('<root>', from, to, '<k1,k2>')`. Unlike the
    // metadata functions this resolves to the change-feed PLAN (diff
    // joins over only the changed dirs), not a materialized result.
    (FunctionIdentifier("graft_changes"),
      new ExpressionInfo("graft.sources.Lake", "graft_changes"),
      { args =>
        import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
        import org.apache.spark.sql.types.{IntegerType, LongType, StringType, TimestampType}
        // version numbers are INTEGRAL literals only — a TimestampType
        // literal is a Long internally (micros) and must NOT read as a
        // version number
        def longOf(e: Expression): Option[Long] = e match {
          case Literal(v: java.lang.Integer, IntegerType) => Some(v.toLong)
          case Literal(v: java.lang.Long, LongType)       => Some(v)
          case _                                           => None
        }
        def strOf(e: Expression): Option[String] = e match {
          case Literal(s, StringType) if s != null => Some(s.toString)
          case _ => None
        }
        // a boundary is a VERSION (int/long literal) or an INSTANT
        // (timestamp literal, or a string parsed as a timestamp in
        // the session zone) resolved via versionAsOf — Delta's
        // table_changes accepts exactly this mix
        def boundOf(e: Expression, root: String): Option[Long] =
          longOf(e).orElse {
            val micros = e match {
              case Literal(v: java.lang.Long, TimestampType) => Some(v.longValue)
              case Literal(s, StringType) if s != null =>
                val spark = SparkSession.active
                val tz = spark.sessionState.conf.sessionLocalTimeZone
                Cast(Literal(s.toString), TimestampType, Some(tz)).eval() match {
                  case l: java.lang.Long => Some(l.longValue)
                  case _ => throw new IllegalArgumentException(
                    s"graft_changes boundary '${s.toString}' does not parse " +
                      "as a timestamp — pass a version number or an instant")
                }
              case _ => None
            }
            micros.map(m =>
              graft.sources.Lake.versionAsOf(SparkSession.active, root, m))
          }
        args match {
          case Seq(a, b, c, d) =>
            (for {
              root <- strOf(a)
              keys <- strOf(d)
              from <- boundOf(b, root)
              to <- boundOf(c, root)
            } yield graft.sources.Lake.changesBetween(SparkSession.active,
              root, from, to,
              keys.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
              .queryExecution.analyzed)
              .getOrElse(wrongArgs("graft_changes",
                "3 or 4 (root string, from version|instant, to " +
                  "version|instant [, key-columns csv])",
                args.length))
          // KEYLESS spelling (row-tracked tables): update images pair
          // on the hidden stable row id — Delta's table_changes needs
          // no key either; changesBetween refuses untracked tables
          // with the remedy named
          case Seq(a, b, c) =>
            (for {
              root <- strOf(a)
              from <- boundOf(b, root)
              to <- boundOf(c, root)
            } yield graft.sources.Lake.changesBetween(SparkSession.active,
              root, from, to, Nil)
              .queryExecution.analyzed)
              .getOrElse(wrongArgs("graft_changes",
                "3 or 4 (root string, from version|instant, to " +
                  "version|instant [, key-columns csv])",
                args.length))
          case _ => wrongArgs("graft_changes",
            "3 or 4 (root string, from version|instant, to " +
              "version|instant [, key-columns csv])",
            args.length)
        }
      }))

  // typed Column builders (no registry needed)
  def dot(a: Column, b: Column): Column =
    Shim.column(DotProduct(Shim.expression(a), Shim.expression(b)))
  def cosine(a: Column, b: Column): Column =
    Shim.column(CosineSimilarity(Shim.expression(a), Shim.expression(b)))
  def rollingHash(c: Column): Column =
    Shim.column(RollingHash(Shim.expression(c)))
  def minhashSignature(c: Column, shingleN: Int, coeffs: Seq[(Long, Long)], modulus: Long): Column =
    Shim.column(MinHashSignature(Shim.expression(c), shingleN, coeffs, modulus))
  /** [[QualityStats]] of `text`, tokenized as `TextFns.tokens(TextFns.normalize(text))`. */
  def qualityStats(text: Column, stopwords: Seq[String]): Column =
    Shim.column(QualityStats(Shim.expression(text),
      Shim.expression(graft.functions.TextFns.normalize(text)), stopwords))
  def ln(c: Column): Column =
    Shim.column(LibmLn(Shim.expression(c)))
}
