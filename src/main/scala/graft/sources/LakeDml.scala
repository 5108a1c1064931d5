package graft.sources

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{
  Attribute, AttributeReference, EqualTo, Expression, PlanExpression,
  PredicateHelper}
import org.apache.spark.sql.catalyst.plans.logical.{
  Assignment, DeleteAction, DeleteFromTable, InsertAction, LogicalPlan,
  MergeIntoTable, UpdateAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.{
  HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graft.Shim

/** The [[Lake.mergeInto]] matched-clause ADT: SQL
  * `WHEN [NOT] MATCHED [BY SOURCE] [AND cond] THEN UPDATE SET … |
  * DELETE`, first matching clause wins. Conditions and assignment
  * values reference target columns as `col("t.c")` and source columns
  * as `col("s.c")`. */
sealed trait LakeMergeMatched
final case class LakeMergeUpdate(
    condition: Option[Column], set: Map[String, Column]) extends LakeMergeMatched
final case class LakeMergeDelete(
    condition: Option[Column]) extends LakeMergeMatched
/** `WHEN NOT MATCHED [AND cond] THEN INSERT (…) VALUES (…)` — values
  * keyed by TARGET column name; unassigned columns insert NULL. */
final case class LakeMergeInsert(
    condition: Option[Column], values: Map[String, Column])

/** SQL row-level DML (`DELETE FROM` / `UPDATE` / `MERGE INTO`) on
  * graft-lake catalog tables, routed through the copy-on-write commit
  * engines ([[Lake.deleteWhere]] / [[Lake.updateWhere]] /
  * [[Lake.mergeInto]]).
  *
  * Spark analyzes these statements fully for v1 relations (conditions
  * resolved, star actions expanded into per-column assignments, casts
  * inserted) and only rejects them at PLANNING time ("does not
  * support DELETE", DataSourceV2Strategy) — so a post-hoc resolution
  * rule sees the complete resolved command and can substitute the
  * real executor, the same slot [[GraftLakeInsertRule]] uses for
  * INSERT. The commands below re-anchor the resolved expressions to
  * the executor's own scan by converting each [[AttributeReference]]
  * back to an [[UnresolvedAttribute]] under the side's alias —
  * target → `t.name`, source → `s.name` — which is exactly the
  * reference contract the COW engines expose programmatically.
  *
  * Nested-field assignments (`SET meta.v = …`) compose into a
  * `withField` struct rewrite of their container — in UPDATE and in
  * MERGE's matched / by-source update actions alike; absent nested
  * paths refuse. Out-of-scope shapes REFUSE LOUDLY (never silently
  * drop a clause): subqueries in DML conditions, non-equi MERGE ON
  * conditions, nested MERGE INSERT columns, and DML against a
  * time-travel handle (`OPTIONS (version …)`) — the error names the
  * programmatic path. */
class GraftLakeDmlRule extends Rule[LogicalPlan] with PredicateHelper {

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case d: DeleteFromTable =>
      LakeDml.lakeTarget(d.table) match {
        case Some((root, ident)) =>
          val tOut = LakeDml.byExprId(d.table.output)
          val cond = LakeDml.unresolve(
            d.condition, tOut, None, Map.empty, None, "DELETE condition")
          GraftLakeDeleteCommand(root, cond, ident)
        case None => plan
      }
    case u: UpdateTable =>
      LakeDml.lakeTarget(u.table) match {
        case Some((root, ident)) =>
          val tOut = LakeDml.byExprId(u.table.output)
          val cond = u.condition
            .map(LakeDml.unresolve(_, tOut, None, Map.empty, None,
              "UPDATE condition"))
            .getOrElse(org.apache.spark.sql.functions.lit(true))
          // assignment keys may be NESTED fields (`SET meta.v = …`):
          // each resolves to its full path; the command composes the
          // nested ones into a struct rewrite of the top-level column
          val assigns = u.assignments.map(a =>
            LakeDml.assignmentPath(a.key, "UPDATE SET") ->
              LakeDml.unresolve(a.value, tOut, None, Map.empty, None,
                "UPDATE SET value"))
          GraftLakeUpdateCommand(root, cond, assigns, ident)
        case None => plan
      }
    case m: MergeIntoTable =>
      LakeDml.lakeTarget(m.targetTable) match {
        case Some((root, ident)) =>
          // `MERGE WITH SCHEMA EVOLUTION` on a CATALOG lake table is
          // intercepted BEFORE resolution ([[GraftLakeMergeEvolutionRule]]
          // — the v1 analyzer expands star actions against the target
          // schema, so the target must evolve first). Reaching here
          // with the flag still set means the target resolved through
          // a non-catalog handle (a temp view over sqlTable) the
          // pre-resolution rule cannot see — refuse loudly and name
          // the working paths.
          require(!m.withSchemaEvolution,
            s"MERGE WITH SCHEMA EVOLUTION into the graft-lake table at " +
              s"$root resolved through a handle the pre-resolution rule " +
              "cannot see (catalog tables and local/global temp views " +
              "over Lake.sqlTable both work) — merge into one of those, " +
              "evolve the schema first (ALTER TABLE ... ADD COLUMNS), " +
              "or use the CDC merge " +
              "(Lake.mergeCommitted(allowSchemaEvolution = true))")
          val tOut = LakeDml.byExprId(m.targetTable.output)
          val sOut = LakeDml.byExprId(m.sourceTable.output)
          // ON must be a conjunction of target-vs-source equalities
          // (the broadcastable, dir-probeable shape every lakehouse
          // MERGE standardizes on); anything else refuses
          val on = splitConjunctivePredicates(m.mergeCondition).map {
            case EqualTo(l, r)
                if l.references.forall(a => tOut.contains(a.exprId)) &&
                  r.references.nonEmpty &&
                  r.references.forall(a => sOut.contains(a.exprId)) =>
              (LakeDml.unresolve(l, tOut, Some("t"), Map.empty, None, "MERGE ON"),
                LakeDml.unresolve(r, Map.empty, None, sOut, None, "MERGE ON"))
            case EqualTo(l, r)
                if r.references.forall(a => tOut.contains(a.exprId)) &&
                  l.references.nonEmpty &&
                  l.references.forall(a => sOut.contains(a.exprId)) =>
              (LakeDml.unresolve(r, tOut, Some("t"), Map.empty, None, "MERGE ON"),
                LakeDml.unresolve(l, Map.empty, None, sOut, None, "MERGE ON"))
            case other =>
              throw new UnsupportedOperationException(
                "MERGE INTO a graft-lake table requires the ON condition " +
                  "to be a conjunction of target-column = source-column " +
                  s"equalities; got `${other.sql}`. Use Lake.mergeInto / " +
                  "Lake.mergeCommitted for custom shapes.")
          }
          def mCond(c: Option[Expression], what: String) = c.map(
            LakeDml.unresolve(_, tOut, Some("t"), sOut, Some("s"), what))
          val nestedPaths = scala.collection.mutable.ArrayBuffer
            .empty[Seq[String]]
          def updateSet(assigns: Seq[Assignment], tAlias: Option[String],
              sAliased: Boolean): Map[String, Column] = {
            val paths = assigns.map(a =>
              LakeDml.assignmentPath(a.key, "MERGE UPDATE SET") ->
                LakeDml.unresolve(a.value, tOut, tAlias,
                  if (sAliased) sOut else Map.empty,
                  if (sAliased) Some("s") else None, "MERGE UPDATE value"))
            nestedPaths ++= paths.map(_._1).filter(_.length > 1)
            LakeDml.composeAssignments(paths, tAlias)
          }
          val matched = m.matchedActions.map {
            case UpdateAction(c, assigns, _) =>
              LakeMergeUpdate(mCond(c, "WHEN MATCHED condition"),
                updateSet(assigns, Some("t"), sAliased = true))
            case DeleteAction(c) => LakeMergeDelete(mCond(c, "WHEN MATCHED condition"))
            case other => throw new UnsupportedOperationException(
              s"unsupported WHEN MATCHED action for a graft-lake table: $other")
          }
          val notMatched = m.notMatchedActions.map {
            case InsertAction(c, assigns) =>
              LakeMergeInsert(
                c.map(LakeDml.unresolve(_, Map.empty, None, sOut, Some("s"),
                  "WHEN NOT MATCHED condition")),
                assigns.map(a =>
                  LakeDml.assignmentName(a, "MERGE INSERT") ->
                    LakeDml.unresolve(a.value, Map.empty, None, sOut, Some("s"),
                      "MERGE INSERT value")).toMap)
            case other => throw new UnsupportedOperationException(
              s"unsupported WHEN NOT MATCHED action for a graft-lake table: $other")
          }
          val bySource = m.notMatchedBySourceActions.map {
            case UpdateAction(c, assigns, _) =>
              LakeMergeUpdate(
                c.map(LakeDml.unresolve(_, tOut, Some("t"), Map.empty, None,
                  "WHEN NOT MATCHED BY SOURCE condition")),
                updateSet(assigns, Some("t"), sAliased = false))
            case DeleteAction(c) => LakeMergeDelete(
              c.map(LakeDml.unresolve(_, tOut, Some("t"), Map.empty, None,
                "WHEN NOT MATCHED BY SOURCE condition")))
            case other => throw new UnsupportedOperationException(
              s"unsupported WHEN NOT MATCHED BY SOURCE action for a " +
                s"graft-lake table: $other")
          }
          GraftLakeMergeCommand(root, m.sourceTable, on, matched, notMatched,
            bySource, ident, nestedPaths.toSeq)
        case None => plan
      }
    case _ => plan
  }
}

private[sources] object LakeDml {

  /** The (root, catalog identifier) of a resolved graft-lake relation;
    * None for anything else. Time-travel handles refuse — a DML commit
    * advances the LIVE table, which is not what a pinned-version
    * reader holds. */
  def lakeTarget(table: LogicalPlan): Option[(String, Option[TableIdentifier])] =
    table.collectFirst {
      case l: LogicalRelation
          if l.relation.isInstanceOf[HadoopFsRelation] &&
            l.relation.asInstanceOf[HadoopFsRelation]
              .location.isInstanceOf[LakeFileIndex] =>
        if (l.catalogTable.exists(_.storage.properties.contains("version")))
          throw new UnsupportedOperationException(
            "DML on a time-travel graft-lake handle (OPTIONS version …) is " +
              "not supported — commits advance the LIVE table; use a handle " +
              "without a pinned version")
        (l.relation.asInstanceOf[HadoopFsRelation]
          .location.asInstanceOf[LakeFileIndex].root,
          l.catalogTable.map(_.identifier))
    }

  def byExprId(out: Seq[Attribute])
      : Map[org.apache.spark.sql.catalyst.expressions.ExprId, String] =
    out.map(a => a.exprId -> a.name).toMap

  /** Re-anchor a RESOLVED expression to the executor's scan: every
    * [[AttributeReference]] becomes an [[UnresolvedAttribute]] under
    * its side's alias. Anything this cannot faithfully re-anchor —
    * subqueries, attributes of neither side — refuses loudly. */
  def unresolve(e: Expression,
      tIds: Map[org.apache.spark.sql.catalyst.expressions.ExprId, String],
      tQual: Option[String],
      sIds: Map[org.apache.spark.sql.catalyst.expressions.ExprId, String],
      sQual: Option[String],
      what: String): Column = {
    if (e.exists(_.isInstanceOf[PlanExpression[_]]))
      throw new UnsupportedOperationException(
        s"$what contains a subquery — not supported for graft-lake DML; " +
          "materialize the subquery and use the programmatic " +
          "Lake.deleteWhere/updateWhere/mergeInto")
    // inline common-subexpression nodes first: analyzed trees of
    // runtime-replaceables (BETWEEN, …) carry With/CommonExpressionRef
    // structure whose re-resolution calls dataType on the by-then
    // unresolved def — inlining the pure definition is semantically
    // identical and round-trips cleanly
    val inlined = e.transformUp {
      case w: org.apache.spark.sql.catalyst.expressions.With =>
        val defs = w.defs.map(d => d.id -> d.child).toMap
        w.child.transformUp {
          case rf: org.apache.spark.sql.catalyst.expressions.CommonExpressionRef
              if defs.contains(rf.id) => defs(rf.id)
        }
    }
    val converted = inlined.transformUp {
      case a: AttributeReference if tIds.contains(a.exprId) =>
        UnresolvedAttribute(tQual.toSeq :+ tIds(a.exprId))
      case a: AttributeReference if sIds.contains(a.exprId) =>
        UnresolvedAttribute(sQual.toSeq :+ sIds(a.exprId))
    }
    converted.foreach {
      case a: AttributeReference =>
        throw new UnsupportedOperationException(
          s"$what references column `${a.name}` of neither the target " +
            "table nor the MERGE source — not supported for graft-lake DML")
      case _ =>
    }
    Shim.column(converted)
  }

  /** Assignment keys must be plain target columns (nested-field
    * assignment would need a struct rewrite the COW engines don't
    * model — refuse, never partially apply). */
  def assignmentName(a: Assignment, what: String): String = a.key match {
    case ar: AttributeReference => ar.name
    case other => throw new UnsupportedOperationException(
      s"$what supports only plain column assignment for graft-lake " +
        s"tables; got `${other.sql}`")
  }

  /** Assignment key as a column PATH — `meta.v` resolves to
    * Seq(meta, v) through the analyzer's GetStructField chain, a
    * plain column to its single-element path. Anything else (array
    * element, map value) refuses loudly. */
  def assignmentPath(e: Expression, what: String): Seq[String] = e match {
    case ar: AttributeReference => Seq(ar.name)
    case g: org.apache.spark.sql.catalyst.expressions.GetStructField =>
      assignmentPath(g.child, what) :+ g.extractFieldName
    case other => throw new UnsupportedOperationException(
      s"$what supports plain and struct-field column assignment for " +
        s"graft-lake tables; got `${other.sql}`")
  }

  /** Compose per-path assignments into the top-level SET map the COW
    * update engine models: nested paths rewrite their container with
    * `withField` (rows outside the predicate are untouched; matched
    * rows keep every unassigned sibling field). A plain assignment and
    * a nested one to the same column conflict and refuse.
    *
    * Conflict detection matches the session's RESOLUTION, not exact
    * spelling: under the default case-insensitive resolver `SET
    * meta.v = a, meta.V = b` names ONE field twice (the two withField
    * calls would silently last-write-win), and `meta.v` with
    * `meta.v.x` overlap (apply order-dependently) — both refuse, like
    * the reference refuses conflicting assignments. */
  def composeAssignments(assigns: Seq[(Seq[String], Column)],
      targetAlias: Option[String] = None): Map[String, Column] = {
    // normalize per the active resolver: case-insensitive sessions
    // compare lower-cased path segments, case-sensitive ones exact
    val caseSensitive =
      org.apache.spark.sql.internal.SQLConf.get.caseSensitiveAnalysis
    def norm(p: Seq[String]): Seq[String] =
      if (caseSensitive) p else p.map(_.toLowerCase(java.util.Locale.ROOT))
    val normed = assigns.map(a => norm(a._1))
    require(normed.distinct.length == normed.length,
      "duplicate assignment targets in SET")
    for (i <- normed.indices; j <- normed.indices if i != j)
      require(!normed(j).startsWith(normed(i)),
        s"conflicting assignments in SET: '${assigns(i)._1.mkString(".")}'" +
          s" is a prefix of '${assigns(j)._1.mkString(".")}' — the two " +
          "writes would apply order-dependently; assign the whole " +
          "struct once or only its fields")
    assigns.groupBy(a => norm(a._1).head).map { case (_, as) =>
      // keep the user's first spelling for col() — resolution matches
      // it to the schema under the same resolver
      val head = as.head._1.head
      val (plain, nested) = as.partition(_._1.length == 1)
      require(plain.isEmpty || nested.isEmpty,
        s"conflicting assignments to '$head': both the column and its " +
          "nested field(s) are SET in one statement")
      if (nested.isEmpty) head -> plain.head._2
      else head -> nested.foldLeft(org.apache.spark.sql.functions.col(
          targetAlias.map(_ + ".").getOrElse("") + head)) {
        case (acc, (path, v)) => acc.withField(path.tail.mkString("."), v)
      }
    }
  }

  /** Does `path` name an existing (possibly nested) field? Guards the
    * nested UPDATE: `withField` silently ADDS an absent field, which
    * would drift rewritten rows off the committed schema. Segments
    * match under the SESSION resolver (case-insensitive by default) —
    * the analyzer resolved the statement with it, so a legal
    * `SET meta.V = …` must not be refused on spelling. */
  def fieldPathExists(schema: org.apache.spark.sql.types.StructType,
      path: Seq[String]): Boolean = {
    val res = org.apache.spark.sql.internal.SQLConf.get.resolver
    path match {
      case Seq(last) => schema.fieldNames.exists(res(_, last))
      case head +: rest => schema.fields.find(f => res(f.name, head))
        .map(_.dataType).exists {
          case st: org.apache.spark.sql.types.StructType =>
            fieldPathExists(st, rest)
          case _ => false
        }
      case _ => false
    }
  }

  def refresh(session: SparkSession, ident: Option[TableIdentifier]): Unit =
    ident.foreach(i => session.catalog.refreshTable(i.quotedString))

  /** Align the CATALOG's stored schema with the table's live committed
    * schema — after a rename/drop (or an evolving insert) the stored
    * creation-time schema is stale, and v1 relation resolution
    * hard-compares it against the provider's relation ("user-specified
    * schema doesn't match"). One catalog write, only when they differ. */
  def syncCatalogSchema(session: SparkSession, root: String,
      ident: Option[TableIdentifier]): Unit =
    ident.foreach { i =>
      val live = org.apache.spark.sql.graft.Shim.asNullable(
        Lake.readCommitted(session, root).schema)
      val cat = session.sessionState.catalog
      val meta = cat.getTableMetadata(i)
      // alterTable (not alterTableDataSchema): the latter refuses
      // renames/drops — this engine's mapping makes them legal
      if (meta.schema != live) cat.alterTable(meta.copy(schema = live))
    }

  /** The lake root behind a LOCAL or GLOBAL temp view whose stored
    * plan IS a bare snapshot-pinned [[LakeFileIndex]] scan (the
    * `Lake.sqlTable` / `registerSql` path spelling). None for
    * non-views, views over anything else, and DERIVED views (a
    * filter/projection over the handle): treating those as the table
    * would silently merge past the view's subset AND re-register the
    * view as the bare table — they fall through to the loud
    * post-resolution refusal instead. */
  def lakeRootByTempView(session: SparkSession,
      parts: Seq[String]): Option[String] = {
    val cat = session.sessionState.catalog
    if (!cat.isTempView(parts)) return None
    val viewPlan: Option[LogicalPlan] = parts match {
      case Seq(t) => cat.getTempView(t)
      case Seq(g, t) if g.equalsIgnoreCase(
          session.sessionState.conf.getConf(
            org.apache.spark.sql.internal.StaticSQLConf.GLOBAL_TEMP_DATABASE)) =>
        cat.getGlobalTempView(t)
      case _ => None
    }
    // unwrap only name/metadata wrappers — anything that changes rows
    // or columns (Filter, Project, Join, …) makes the view DERIVED
    def unwrap(p: LogicalPlan): LogicalPlan = p match {
      case s: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias =>
        unwrap(s.child)
      case v: org.apache.spark.sql.catalyst.plans.logical.View =>
        unwrap(v.child)
      case other => other
    }
    viewPlan.map(unwrap).collect {
      case l: LogicalRelation
          if l.relation.isInstanceOf[HadoopFsRelation] &&
            l.relation.asInstanceOf[HadoopFsRelation]
              .location.isInstanceOf[LakeFileIndex] =>
        l.relation.asInstanceOf[HadoopFsRelation]
          .location.asInstanceOf[LakeFileIndex].root
    }
  }

  /** The (root, identifier) of a graft-lake CATALOG table named by
    * `parts` — None for temp views (they shadow), unknown tables, or
    * other providers. Shared by the Hints-batch rules (time travel,
    * constraint DDL), which run before relation resolution and so must
    * resolve the name themselves. */
  def lakeRootByIdent(session: SparkSession, parts: Seq[String])
      : Option[(String, Option[TableIdentifier])] = {
    val ident = parts match {
      case Seq(t)       => Some(TableIdentifier(t))
      case Seq(db, t)   => Some(TableIdentifier(t, Some(db)))
      case Seq(cat, db, t) if cat.equalsIgnoreCase("spark_catalog") =>
        Some(TableIdentifier(t, Some(db)))
      case _            => None
    }
    for {
      i <- ident
      cat = session.sessionState.catalog
      if !cat.isTempView(parts)
      meta <- scala.util.Try(cat.getTableMetadata(i)).toOption
      if meta.provider.exists(_.equalsIgnoreCase("graft-lake"))
    } yield (meta.storage.properties.getOrElse("root",
      throw new IllegalArgumentException(
        s"graft-lake table ${i.quotedString} carries no root option")),
      Some(i))
  }
}

/** `DELETE FROM lake WHERE p` → [[Lake.deleteWhere]] (stats/bloom
  * dir pruning, metadata-only whole-dir drops, OCC commit). */
case class GraftLakeDeleteCommand(root: String, condition: Column,
    ident: Option[TableIdentifier]) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    Lake.deleteWhere(session, root, condition)
    LakeDml.refresh(session, ident)
    Seq.empty
  }
}

/** `UPDATE lake SET … WHERE p` → [[Lake.updateWhere]]. Nested-field
  * assignments (`SET meta.v = …`) compose into a `withField` struct
  * rewrite of their top-level container — matched rows keep every
  * unassigned sibling field, unmatched rows are untouched, and an
  * absent nested path refuses (never silently adds a field). */
case class GraftLakeUpdateCommand(root: String, condition: Column,
    assigns: Seq[(Seq[String], Column)], ident: Option[TableIdentifier])
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val schema = Lake.readCommitted(session, root).schema
    assigns.map(_._1).filter(_.length > 1).foreach(p =>
      require(LakeDml.fieldPathExists(schema, p),
        s"UPDATE SET names absent nested field ${p.mkString(".")} — " +
          "add it first (ALTER TABLE ... ADD COLUMN)"))
    Lake.updateWhere(session, root, condition,
      LakeDml.composeAssignments(assigns))
    LakeDml.refresh(session, ident)
    Seq.empty
  }
}

/** `MERGE INTO lake … ` → [[Lake.mergeInto]]. The source plan is
  * already fully resolved — it executes as-is. */
case class GraftLakeMergeCommand(root: String, source: LogicalPlan,
    on: Seq[(Column, Column)], matched: Seq[LakeMergeMatched],
    notMatched: Seq[LakeMergeInsert], notMatchedBySource: Seq[LakeMergeMatched],
    ident: Option[TableIdentifier],
    nestedSetPaths: Seq[Seq[String]] = Nil) extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(source)
  override def run(session: SparkSession): Seq[Row] = {
    // nested SET targets must exist — withField would silently add
    val schema = Lake.readCommitted(session, root).schema
    nestedSetPaths.foreach(p =>
      require(LakeDml.fieldPathExists(schema, p),
        s"MERGE UPDATE SET names absent nested field ${p.mkString(".")} — " +
          "add it first (ALTER TABLE ... ADD COLUMN)"))
    Lake.mergeInto(session, root, Shim.ofRows(session, source), on,
      matched, notMatched, notMatchedBySource)
    LakeDml.refresh(session, ident)
    Seq.empty
  }
}

/** One declared column of a governed CREATE TABLE: the SQL column-list
  * spellings `DEFAULT <literal>`, `GENERATED ALWAYS AS (expr)` and
  * `GENERATED ALWAYS|BY DEFAULT AS IDENTITY`, carried to run time. */
case class GraftLakeColumnSpec(name: String,
    dataType: org.apache.spark.sql.types.DataType, nullable: Boolean,
    default: Option[String], generated: Option[String],
    identity: Option[(Long, Long, Boolean)])

/** `CREATE TABLE t (id BIGINT GENERATED ALWAYS AS IDENTITY, c INT
  * DEFAULT 5, y INT GENERATED ALWAYS AS (expr)) USING graft-lake …` —
  * the one-statement spelling that BIRTHS a table with its governance,
  * instead of requiring post-hoc ALTERs / writer-side declarations.
  * Spark's v1 path refuses these column facets for custom providers,
  * so the statement is intercepted in the Hints batch (before
  * ResolveSessionCatalog) whenever the column list carries any of the
  * three; plain column lists keep Spark's own path untouched. */
class GraftLakeCreateTableRule(session: SparkSession) extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.analysis.UnresolvedIdentifier
  import org.apache.spark.sql.catalyst.plans.logical.{
    CreateTable, OptionList, UnresolvedTableSpec}

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case CreateTable(UnresolvedIdentifier(parts, _), columns, partitioning,
        spec: UnresolvedTableSpec, ignoreIfExists)
        if spec.provider.exists(_.equalsIgnoreCase("graft-lake")) &&
          columns.exists(c => c.defaultValue.isDefined ||
            c.generationExpression.isDefined ||
            c.identityColumnSpec.isDefined) =>
      val rootOpt = (spec.optionExpression match {
        case OptionList(opts) => opts.collectFirst {
          case (k, org.apache.spark.sql.catalyst.expressions.Literal(v, _))
              if k.equalsIgnoreCase("root") && v != null => v.toString
        }
        case _ => None
      }).orElse(spec.location)
      val root = rootOpt.getOrElse(throw new IllegalArgumentException(
        "CREATE TABLE ... USING graft-lake with DEFAULT/GENERATED/" +
          "IDENTITY columns needs an explicit root: " +
          "OPTIONS (root '<path>') or LOCATION '<path>'"))
      val partCols = partitioning.map { t =>
        // identity transforms only (PARTITIONED BY (col)): the
        // public Transform surface spells them name()=identity with
        // one field reference
        if (t.name == "identity" && t.references.length == 1)
          t.references.head.fieldNames.mkString(".")
        else throw new IllegalArgumentException(
          "graft-lake supports PARTITIONED BY (column, …) only — " +
            s"got $t")
      }
      val cols = columns.map { c =>
        GraftLakeColumnSpec(c.name, c.dataType, c.nullable,
          c.defaultValue.map(_.originalSQL), c.generationExpression,
          c.identityColumnSpec.map(s =>
            (s.getStart, s.getStep, s.isAllowExplicitInsert)))
      }
      GraftCreateLakeTableCommand(parts, root, cols, partCols, ignoreIfExists)
    case _ => plan
  }
}

/** Runtime half of [[GraftLakeCreateTableRule]]: one empty-batch
  * establishing commit carries the schema (DEFAULT metadata folded
  * in), the partition layout, the generated columns, the identity
  * declaration and its mode — the table is BORN governed; the catalog
  * entry then registers it like any `CREATE … USING graft-lake`. */
case class GraftCreateLakeTableCommand(nameParts: Seq[String], root: String,
    cols: Seq[GraftLakeColumnSpec], partCols: Seq[String],
    ignoreIfExists: Boolean) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.types._
    val ident = nameParts match {
      case Seq(t)     => TableIdentifier(t)
      case Seq(db, t) => TableIdentifier(t, Some(db))
      case Seq(cat, db, t) if cat.equalsIgnoreCase("spark_catalog") =>
        TableIdentifier(t, Some(db))
      case _ => throw new IllegalArgumentException(
        s"cannot resolve table name ${nameParts.mkString(".")}")
    }
    val cat = session.sessionState.catalog
    if (cat.tableExists(ident)) {
      if (ignoreIfExists) return Seq.empty
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(ident.nameParts)
    }
    require(Lake.currentVersion(session, root).isEmpty,
      s"a committed table already exists at $root — a governed CREATE " +
        "establishes its declarations at birth; point it at an empty " +
        "root (or register the existing table with a plain CREATE)")
    val idents = cols.filter(_.identity.isDefined)
    require(idents.size <= 1, "at most one IDENTITY column per table")
    val idCol = idents.headOption
    idCol.foreach { c =>
      require(c.dataType == LongType,
        s"IDENTITY column '${c.name}' must be BIGINT — the allocator's " +
          "domain is fixed LongType")
      require(c.identity.get._2 == 1L,
        s"IDENTITY step must be 1 (the allocator hands out contiguous " +
          s"blocks), got ${c.identity.get._2}")
      require(c.default.isEmpty && c.generated.isEmpty,
        s"column '${c.name}' cannot combine IDENTITY with DEFAULT/GENERATED")
    }
    val fields = cols.map { c =>
      val md = c.default match {
        case Some(text) =>
          require(c.generated.isEmpty,
            s"column '${c.name}' cannot combine DEFAULT with GENERATED " +
              "(generated values are engine-owned)")
          val folded = Lake.validateDefaultLiteral(session, c.name,
            c.dataType, text)
          new MetadataBuilder().putString("EXISTS_DEFAULT", folded)
            .putString("CURRENT_DEFAULT", folded).build()
        case None => Metadata.empty
      }
      StructField(c.name, c.dataType, c.nullable, md)
    }
    val gens = cols.flatMap(c => c.generated.map(g => c.name -> g)).toMap
    val empty = session.createDataFrame(
      java.util.Collections.emptyList[Row](), StructType(fields))
    Lake.commitOverwrite(empty, root, partitionBy = partCols,
      generatedColumns = gens, identity = idCol.map(_.name),
      identityByDefault = idCol.exists(_.identity.get._3))
    // START WITH n: one metadata commit re-points the fresh mark (the
    // establishing empty batch consumed nothing)
    idCol.map(c => (c.name, c.identity.get._1)).filter(_._2 != 1L)
      .foreach { case (name, start) =>
        val fs = org.apache.hadoop.fs.FileSystem.get(
          new java.net.URI(root), session.sparkContext.hadoopConfiguration)
        val r = new org.apache.hadoop.fs.Path(root)
        val cur = Lake.currentVersion(session, root).get
        if (!Lake.commitManifest(fs, r, cur + 1,
            Lake.snapshotDirNames(session, root, cur), -1,
            Lake.snapshotSchema(session, root, cur), None,
            meta = _.copy(identity = Some((name, start))),
            op = s"identity start $start"))
          throw new java.util.ConcurrentModificationException(
            s"setting IDENTITY START WITH on $root lost its slot — " +
              "retry the CREATE against an empty root")
      }
    val storage = org.apache.spark.sql.catalyst.catalog
      .CatalogStorageFormat.empty.copy(
        locationUri = Some(org.apache.spark.sql.catalyst.catalog
          .CatalogUtils.stringToURI(root)),
        properties = Map("root" -> root))
    val meta = org.apache.spark.sql.catalyst.catalog.CatalogTable(
      identifier = ident,
      tableType = org.apache.spark.sql.catalyst.catalog
        .CatalogTableType.EXTERNAL,
      storage = storage,
      schema = org.apache.spark.sql.graft.Shim.asNullable(
        Lake.readCommitted(session, root).schema),
      provider = Some("graft-lake"))
    cat.createTable(meta, ignoreIfExists = false)
    Seq.empty
  }
}

/** `MERGE WITH SCHEMA EVOLUTION INTO <lake catalog table> …` — Delta's
  * spelling for the drifted-upsert-feed case. The v1 analyzer expands
  * star actions (and resolves explicit assignments) against the
  * TARGET's schema, so honoring the flag post-resolution is impossible:
  * source-only columns are already gone (or failed resolution) by then.
  * This rule intercepts the statement in the HINTS batch — before any
  * resolution — and swaps in a command that (1) analyzes the source
  * standalone, (2) evolves the committed schema toward it by the
  * append rule ([[Lake.evolveSchema]] — one metadata commit, add-
  * nullable + lossless widening, the same rule
  * `mergeCommitted(allowSchemaEvolution = true)` applies), (3)
  * re-analyzes the SAME merge with the flag cleared, which now
  * resolves against the evolved relation and executes through the
  * standard [[GraftLakeDmlRule]] path. Non-lake targets pass through
  * untouched and keep Spark's own behavior. */
class GraftLakeMergeEvolutionRule(session: SparkSession) extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation

  override def apply(plan: LogicalPlan): LogicalPlan = plan match {
    case m: MergeIntoTable if m.withSchemaEvolution =>
      val parts = m.targetTable.collectFirst {
        case u: UnresolvedRelation => u.multipartIdentifier
      }
      val catalogHit = parts.flatMap(LakeDml.lakeRootByIdent(session, _))
        .map { case (root, ident) =>
          GraftLakeMergeEvolveCommand(root, m, ident, viewParts = None) }
      // temp views over Lake.sqlTable / registerSql (the path
      // spelling): the view's stored plan carries the snapshot-pinned
      // LakeFileIndex — recover the root from it. The command
      // re-registers the view after the evolution commit so
      // re-analysis expands stars against the EVOLVED schema (the
      // stored plan pins the registration-time one).
      def viewHit = parts
        .flatMap(p => LakeDml.lakeRootByTempView(session, p)
          .map { root => GraftLakeMergeEvolveCommand(root, m, None,
            viewParts = Some(p)) })
      catalogHit.orElse(viewHit).getOrElse(plan)
    case _ => plan
  }
}

/** Runtime half of [[GraftLakeMergeEvolutionRule]]: evolve, then
  * re-analyze-and-execute the merge with evolution satisfied. The
  * stored plan is the PARSED statement (unresolved) — deliberately not
  * an innerChild, so analysis checks never descend into it.
  *
  * Failure atomicity: a NAME-LEVEL dry run of every attribute the
  * statement references (ON condition, action conditions, assignment
  * keys and values) against the would-be evolved schema runs BEFORE
  * the evolution commit, so the common failure — a typo'd column —
  * applies nothing; `evolveSchema` itself validates widening before
  * its commit. The residual window is real and DOCUMENTED: a merge
  * that loses OCC during execution (or fails a CHECK constraint)
  * leaves the ADDITIVE schema evolution committed — the evolution is
  * add-nullable-only, so the retried merge lands on it unchanged. */
case class GraftLakeMergeEvolveCommand(root: String,
    merge: MergeIntoTable, ident: Option[TableIdentifier],
    viewParts: Option[Seq[String]] = None)
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    // the source analyzes standalone (it references no target columns
    // by construction of the grammar); its resolved schema is what the
    // target evolves toward — all source columns, the CDC rule
    val srcSchema = Shim.ofRows(session, merge.sourceTable).schema
    // dry run: every referenced name must land on a column of the
    // evolved target or of the source — an attribute is resolvable
    // when ANY of its parts names a known top-level column (earlier
    // parts are table/alias qualifiers, later ones nested fields)
    locally {
      import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
      val known = (Lake.readCommitted(session, root).schema.fieldNames ++
        srcSchema.fieldNames)
        .map(_.toLowerCase(java.util.Locale.ROOT)).toSet
      val attrs =
        (merge.mergeCondition +:
          (merge.matchedActions ++ merge.notMatchedActions ++
            merge.notMatchedBySourceActions).flatMap(_.children))
          .flatMap(_.collect { case ua: UnresolvedAttribute => ua })
      val bad = attrs.filterNot(_.nameParts.exists(p =>
        known(p.toLowerCase(java.util.Locale.ROOT))))
      require(bad.isEmpty,
        s"MERGE WITH SCHEMA EVOLUTION into $root references " +
          bad.map(_.name).distinct.mkString("[", ", ", "]") +
          " which exist in neither the evolved target schema nor the " +
          "source — refused BEFORE the schema-evolution commit, so " +
          "nothing was applied")
    }
    Lake.evolveSchema(session, root, srcSchema)
    LakeDml.syncCatalogSchema(session, root, ident)
    LakeDml.refresh(session, ident)
    // a temp-view target stored the registration-time pinned plan —
    // re-register it over the evolved live snapshot so the re-analysis
    // below expands star actions against the evolved schema
    viewParts.foreach {
      case Seq(t) => Lake.sqlTable(session, root).createOrReplaceTempView(t)
      case Seq(_, t) =>
        Lake.sqlTable(session, root).createOrReplaceGlobalTempView(t)
      case _ =>
    }
    // re-analysis resolves the target with the evolved schema: star
    // actions expand to the full evolved column set, explicit
    // assignments to new columns resolve, and GraftLakeDmlRule
    // substitutes the COW executor — commands run eagerly in ofRows
    Shim.ofRows(session, merge.copy(withSchemaEvolution = false))
    LakeDml.refresh(session, ident)
    viewParts.foreach {
      case Seq(t) => Lake.sqlTable(session, root).createOrReplaceTempView(t)
      case Seq(_, t) =>
        Lake.sqlTable(session, root).createOrReplaceGlobalTempView(t)
      case _ =>
    }
    Seq.empty
  }
}

/** SQL time travel for graft-lake catalog tables: `SELECT … FROM t
  * VERSION AS OF n` / `FOR TIMESTAMP AS OF ts` resolves to the pinned
  * index-planned snapshot read ([[Lake.sqlTable]] — the spelling
  * `OPTIONS (version …)` already serves; this wires the standard
  * grammar every Delta/Iceberg user types).
  *
  * Injected in the HINTS batch (`injectHintResolutionRule`), which
  * runs BEFORE the Resolution batch: the built-in ResolveRelations
  * refuses time travel on v1 session-catalog tables
  * (V2SessionCatalog.failTimeTravel) the moment it sees the node, so
  * no extended RESOLUTION rule could ever fire. Non-graft relations
  * pass through untouched and keep the standard error.
  *
  * `TIMESTAMP AS OF` takes any foldable expression castable to
  * TIMESTAMP and resolves it to the latest version whose commit
  * marker landed at or before it ([[Lake.versionAsOf]] — Delta's
  * commit-timestamp semantics). DML cannot reach a pinned handle this
  * way: the grammar only admits time travel in query FROM clauses,
  * and `OPTIONS (version …)` handles refuse in [[LakeDml.lakeTarget]]. */
class GraftLakeTimeTravelRule(session: SparkSession) extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.analysis.{
    RelationTimeTravel, UnresolvedRelation}

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUp {
      case tt @ RelationTimeTravel(u: UnresolvedRelation, ts, ver) =>
        lakeRootOf(u) match {
          case None => tt // not ours: built-in machinery (and its error)
          case Some(root) =>
            val v = (ver, ts) match {
              case (Some(s), _) => s.toLongOption.getOrElse(
                throw new IllegalArgumentException(
                  s"VERSION AS OF on a graft-lake table takes a committed " +
                    s"version number, got '$s'"))
              case (None, Some(e)) =>
                Lake.versionAsOf(session, root, evalTsMicros(e))
              case (None, None) => throw new IllegalArgumentException(
                "time travel needs VERSION AS OF or TIMESTAMP AS OF")
            }
            org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias(
              u.multipartIdentifier.last,
              Lake.sqlTable(session, root, Some(v)).queryExecution.analyzed)
        }
    }

  /** The table root iff `u` names a graft-lake catalog table (temp
    * views and unknown/other-provider tables return None and keep the
    * built-in behavior). */
  private def lakeRootOf(u: UnresolvedRelation): Option[String] =
    LakeDml.lakeRootByIdent(session, u.multipartIdentifier).map(_._1)

  /** Evaluate the `TIMESTAMP AS OF` expression to epoch micros: must
    * be an already-resolved constant (a literal — this rule runs in
    * the Hints batch, BEFORE expression resolution, so a function
    * call like `current_date()` is still unresolved here and refuses
    * with this message instead of an internal UnresolvedException)
    * castable to TIMESTAMP. */
  private def evalTsMicros(e: Expression): Long = {
    if (!e.resolved || !e.foldable) throw new IllegalArgumentException(
      s"TIMESTAMP AS OF on a graft-lake table takes a constant literal " +
        s"(evaluated before expression resolution); got ${e.sql}")
    val tz = session.sessionState.conf.sessionLocalTimeZone
    org.apache.spark.sql.catalyst.expressions.Cast(
      e, org.apache.spark.sql.types.TimestampType, Some(tz)).eval() match {
      case l: java.lang.Long => l
      case _ => throw new IllegalArgumentException(
        s"TIMESTAMP AS OF expression ${e.sql} does not evaluate to a " +
          "timestamp")
    }
  }
}

/** SQL CHECK-constraint DDL for graft-lake catalog tables:
  * `ALTER TABLE t ADD CONSTRAINT name CHECK (expr)` /
  * `ALTER TABLE t DROP CONSTRAINT [IF EXISTS] name` route to
  * [[Lake.addCheckConstraint]] / [[Lake.dropCheckConstraint]].
  *
  * Same Hints-batch slot as [[GraftLakeTimeTravelRule]], for the same
  * reason: ResolveSessionCatalog refuses the v2 constraint commands
  * for v1 session-catalog tables (UNSUPPORTED_FEATURE.TABLE_OPERATION)
  * before any extended resolution rule runs. Non-graft tables pass
  * through and keep the standard error. `NOT ENFORCED` refuses —
  * graft constraints always enforce on write. */
class GraftLakeConstraintRule(session: SparkSession) extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.analysis.{UnresolvedRelation, UnresolvedTable}
  import org.apache.spark.sql.catalyst.expressions.CheckConstraint
  import org.apache.spark.sql.catalyst.plans.logical.{AddCheckConstraint, DropConstraint}

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUp {
      case a @ AddCheckConstraint(child,
          chk @ CheckConstraint(_, _, _, _, characteristic)) =>
        val parts = child.collectFirst {
          case u: UnresolvedRelation => u.multipartIdentifier
        }
        parts.flatMap(LakeDml.lakeRootByIdent(session, _)) match {
          case None => a
          case Some((root, ident)) =>
            require(!characteristic.enforced.contains(false),
              "NOT ENFORCED is not supported on graft-lake tables — " +
                "CHECK constraints always enforce on write")
            val name = Option(chk.name).filter(_.nonEmpty)
              .getOrElse("chk_" + math.abs(chk.condition.hashCode).toString)
            GraftAddConstraintCommand(root, name, chk.condition, ident)
        }
      case d @ DropConstraint(t: UnresolvedTable, name, ifExists, _) =>
        LakeDml.lakeRootByIdent(session, t.multipartIdentifier) match {
          case None => d
          case Some((root, ident)) =>
            GraftDropConstraintCommand(root, name, ifExists, ident)
        }
    }
}

case class GraftAddConstraintCommand(root: String, name: String,
    condition: String, ident: Option[TableIdentifier])
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    Lake.addCheckConstraint(session, root, name, condition)
    LakeDml.refresh(session, ident)
    Seq.empty
  }
}

case class GraftDropConstraintCommand(root: String, name: String,
    ifExists: Boolean, ident: Option[TableIdentifier])
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    if (!ifExists ||
        Lake.checkConstraints(session, root).exists(_._1 == name)) {
      Lake.dropCheckConstraint(session, root, name)
      LakeDml.refresh(session, ident)
    }
    Seq.empty
  }
}

/** `ALTER TABLE t RENAME COLUMN a TO b` / `ALTER TABLE t DROP COLUMN
  * a` on graft-lake catalog tables, routed to the METADATA-ONLY
  * column-mapping engine ([[Lake.renameColumn]] / [[Lake.dropColumn]]
  * — one manifest write, zero data I/O; see the `#colmap` protocol).
  * Same Hints-batch slot as [[GraftLakeConstraintRule]], same reason:
  * ResolveSessionCatalog refuses the v2 ALTER COLUMN commands for v1
  * session-catalog tables before extended resolution runs. Nested
  * fields refuse (top-level mapping only); non-graft tables pass
  * through with the standard error. */
class GraftLakeColumnDdlRule(session: SparkSession) extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.analysis.{UnresolvedFieldName, UnresolvedTable}
  import org.apache.spark.sql.catalyst.plans.logical.{DropColumns, RenameColumn}

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUp {
      case ac @ org.apache.spark.sql.catalyst.plans.logical.AddColumns(
          t: UnresolvedTable, cols) =>
        LakeDml.lakeRootByIdent(session, t.multipartIdentifier) match {
          case None => ac
          case Some((root, ident)) =>
            val named = cols.map { c =>
              require(c.position.isEmpty,
                "graft-lake appends new columns at the end — FIRST/AFTER " +
                  "is not supported")
              require(c.nullable,
                "a new column reads NULL (or its DEFAULT) on every " +
                  "existing row and must be nullable — add it nullable, " +
                  "then enforce with ADD CONSTRAINT ... CHECK " +
                  "(col IS NOT NULL)")
              // nested spellings (`ADD COLUMN meta.x INT`) carry the
              // container path; the command routes them to the nested
              // schema-commit engine
              val prefix = c.path.map {
                case UnresolvedFieldName(parts) => parts
                case other => throw new IllegalArgumentException(
                  s"cannot add under $other — name the struct path directly")
              }.getOrElse(Nil)
              // `DEFAULT <literal>` is a TOP-LEVEL construct: old
              // files backfill per-file, omitting batches materialize.
              // A nested field under a struct a file DOES carry has no
              // missing-column event for the reader to key on — refuse.
              require(c.default.isEmpty || prefix.isEmpty,
                s"DEFAULT on nested field ${(prefix :+ c.colName).mkString(".")}" +
                  " is not supported — only top-level columns backfill " +
                  "per predating file")
              (prefix :+ c.colName, c.dataType,
                c.default.map(_.originalSQL))
            }
            GraftAddColumnsCommand(root, named, ident)
        }
      case rc @ RenameColumn(t: UnresolvedTable,
          UnresolvedFieldName(parts), newName) =>
        LakeDml.lakeRootByIdent(session, t.multipartIdentifier) match {
          case None => rc
          case Some((root, ident)) =>
            // nested paths route to the id-mode engine (auto-upgrades
            // the table to #colmap2); top-level stays name-mode
            GraftRenameColumnCommand(root, parts, newName, ident)
        }
      case dc @ DropColumns(t: UnresolvedTable, cols, ifExists) =>
        LakeDml.lakeRootByIdent(session, t.multipartIdentifier) match {
          case None => dc
          case Some((root, ident)) =>
            val names = cols.map {
              case UnresolvedFieldName(parts) => parts
              case other => throw new IllegalArgumentException(
                s"cannot drop $other — name the column directly")
            }
            GraftDropColumnCommand(root, names, ifExists, ident)
        }
      // `ALTER TABLE t ALTER COLUMN c TYPE <wider>` → one manifest
      // schema commit (Lake.alterColumnType): lossless widenings only,
      // old files read upcast. Every other AlterColumnSpec facet
      // (comment, nullability, position, defaults) refuses loudly.
      case ac @ org.apache.spark.sql.catalyst.plans.logical.AlterColumns(
          t: UnresolvedTable, specs) =>
        LakeDml.lakeRootByIdent(session, t.multipartIdentifier) match {
          case None => ac
          case Some((root, ident)) =>
            specs.foreach { sp =>
              require(sp.newComment.isEmpty && sp.newNullability.isEmpty &&
                  sp.newPosition.isEmpty,
                "graft-lake ALTER COLUMN supports TYPE widening and " +
                  "SET/DROP DEFAULT only — comment/nullability/position " +
                  "changes are not supported")
            }
            def pathOf(sp: org.apache.spark.sql.catalyst.plans.logical
                .AlterColumnSpec): Seq[String] = sp.column match {
              case UnresolvedFieldName(parts) => parts
              case other => throw new IllegalArgumentException(
                s"cannot alter $other — name the column directly")
            }
            val (defaultSpecs, typedSpecs) = specs.partition(sp =>
              sp.newDefaultExpression.isDefined || sp.dropDefault)
            require(defaultSpecs.isEmpty || typedSpecs.isEmpty,
              "one ALTER COLUMN statement cannot mix TYPE and DEFAULT " +
                "facets on a graft-lake table — issue two statements")
            if (defaultSpecs.nonEmpty) {
              val defs = defaultSpecs.map { sp =>
                val path = pathOf(sp)
                require(path.length == 1,
                  "DEFAULT is a top-level-column construct — nested " +
                    s"field ${path.mkString(".")} cannot carry one")
                path.head -> sp.newDefaultExpression.map(_.originalSQL)
              }
              GraftAlterColumnDefaultCommand(root, defs, ident)
            } else {
              val typed = typedSpecs.map { sp =>
                val dt = sp.newDataType.getOrElse(throw
                  new IllegalArgumentException(
                    "graft-lake ALTER COLUMN needs a TYPE clause"))
                pathOf(sp) -> dt
              }
              GraftAlterColumnTypeCommand(root, typed, ident)
            }
        }
    }
}

case class GraftAddColumnsCommand(root: String,
    cols: Seq[(Seq[String], org.apache.spark.sql.types.DataType,
      Option[String])],
    ident: Option[TableIdentifier])
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    // ONE manifest commit for the whole statement (top-level, nested,
    // or mixed) — a mid-statement validation failure or OCC loss
    // applies nothing, matching the reference's atomic ADD COLUMNS
    Lake.addColumnsAtPaths(session, root, cols)
    LakeDml.syncCatalogSchema(session, root, ident)
    LakeDml.refresh(session, ident)
    Seq.empty
  }
}

case class GraftRenameColumnCommand(root: String, path: Seq[String],
    newName: String, ident: Option[TableIdentifier])
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    if (path.length == 1) Lake.renameColumn(session, root, path.head, newName)
    else Lake.renameNestedColumn(session, root, path, newName)
    LakeDml.syncCatalogSchema(session, root, ident)
    LakeDml.refresh(session, ident)
    Seq.empty
  }
}

case class GraftAnalyzeCommand(root: String,
    ident: Option[TableIdentifier], cols: Seq[String],
    allColumns: Boolean, noScan: Boolean) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    Lake.analyzeTable(session, root, cols, allColumns, ident, noScan)
    Seq.empty
  }
}

case class GraftAlterColumnDefaultCommand(root: String,
    defs: Seq[(String, Option[String])], ident: Option[TableIdentifier])
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    Lake.alterColumnDefaults(session, root, defs)
    LakeDml.syncCatalogSchema(session, root, ident)
    LakeDml.refresh(session, ident)
    Seq.empty
  }
}

case class GraftAlterColumnTypeCommand(root: String,
    cols: Seq[(Seq[String], org.apache.spark.sql.types.DataType)],
    ident: Option[TableIdentifier])
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    // ONE manifest commit for every column in the statement — all
    // guards run against the folded schema before anything applies
    Lake.alterColumnTypes(session, root, cols)
    LakeDml.syncCatalogSchema(session, root, ident)
    LakeDml.refresh(session, ident)
    Seq.empty
  }
}

case class GraftDropColumnCommand(root: String, names: Seq[Seq[String]],
    ifExists: Boolean, ident: Option[TableIdentifier])
    extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    // ONE manifest commit for the whole statement (plus the id-mode
    // upgrade commit when a nested path needs it) — a mid-statement
    // validation failure or OCC loss applies nothing, matching the
    // atomic ADD/ALTER statements
    val schema = Lake.readCommitted(session, root).schema
    val present = names.filter(p =>
      !ifExists || LakeDml.fieldPathExists(schema, p))
    if (present.nonEmpty) Lake.dropColumnsAtPaths(session, root, present)
    LakeDml.syncCatalogSchema(session, root, ident)
    LakeDml.refresh(session, ident)
    Seq.empty
  }
}

/** `ALTER TABLE t SET/UNSET TBLPROPERTIES (…)` and
  * `SHOW TBLPROPERTIES t` on graft-lake CATALOG tables, routed to the
  * manifest property map ([[Lake.setTableProperties]] /
  * [[Lake.unsetTableProperties]] / [[Lake.tableProperties]]) instead
  * of the metastore — the manifest is the single source of truth the
  * commit engines consult (`graft.retain`, `graft.dvMaxRows`), and a
  * metastore copy would silently diverge from it under path-based
  * writers. Same Hints-batch slot as [[GraftLakeConstraintRule]]
  * (these plans must be intercepted before ResolveSessionCatalog
  * turns them into v1 metastore commands). Non-lake tables pass
  * through untouched and keep Spark's standard behavior. */
class GraftLakePropertiesRule(session: SparkSession) extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.analysis.{
    UnresolvedTable, UnresolvedTableOrView}
  import org.apache.spark.sql.catalyst.plans.logical.{
    SetTableProperties, ShowPartitions, ShowTableProperties,
    UnsetTableProperties}

  // SET/UNSET parse with UnresolvedTable, SHOW with
  // UnresolvedTableOrView — resolve a lake root from either
  private def lakeRootOf(child: LogicalPlan):
      Option[(String, Option[TableIdentifier])] = child match {
    case t: UnresolvedTable =>
      LakeDml.lakeRootByIdent(session, t.multipartIdentifier)
    case t: UnresolvedTableOrView =>
      LakeDml.lakeRootByIdent(session, t.multipartIdentifier)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsUp {
      // ANALYZE TABLE t COMPUTE STATISTICS [NOSCAN]: manifest-planned
      // size + one-aggregate row count, recorded as graft.stats.*
      // properties AND pushed to the session catalog for CBO
      case at @ org.apache.spark.sql.catalyst.plans.logical.AnalyzeTable(
          child, partitionSpec, noScan) =>
        lakeRootOf(child) match {
          case None => at
          case Some((root, ident)) =>
            require(partitionSpec.isEmpty,
              "ANALYZE on a graft-lake table covers the whole snapshot " +
                "— a PARTITION (…) spec is not supported")
            GraftAnalyzeCommand(root, ident, Nil,
              allColumns = false, noScan = noScan)
        }
      // ANALYZE TABLE t COMPUTE STATISTICS FOR [ALL] COLUMNS …: adds
      // per-column NDV / min / max / null count (what join reordering
      // actually keys on)
      case ac @ org.apache.spark.sql.catalyst.plans.logical.AnalyzeColumn(
          child, columnNames, allColumns) =>
        lakeRootOf(child) match {
          case None => ac
          case Some((root, ident)) =>
            GraftAnalyzeCommand(root, ident,
              columnNames.getOrElse(Nil), allColumns = allColumns,
              noScan = false)
        }
      case sp @ ShowPartitions(child, spec, _) =>
        lakeRootOf(child) match {
          case None => sp
          case Some((root, _)) =>
            require(spec.isEmpty,
              "SHOW PARTITIONS on a graft-lake table lists the whole " +
                "manifest layout — a PARTITION (…) filter spec is not " +
                "supported (filter the output)")
            GraftShowPartitionsCommand(GraftMaintTarget(Some(root), None))
        }
      case s @ SetTableProperties(child, props) =>
        lakeRootOf(child) match {
          case None => s
          case Some((root, _)) =>
            GraftSetPropertiesCommand(
              GraftMaintTarget(Some(root), None), props)
        }
      case u @ UnsetTableProperties(child, keys, ifExists) =>
        lakeRootOf(child) match {
          case None => u
          case Some((root, _)) =>
            GraftUnsetPropertiesCommand(
              GraftMaintTarget(Some(root), None), keys, ifExists)
        }
      case sh @ ShowTableProperties(child, key, _) =>
        lakeRootOf(child) match {
          case None => sh
          case Some((root, _)) =>
            GraftShowPropertiesCommand(
              GraftMaintTarget(Some(root), None), key)
        }
    }
}
