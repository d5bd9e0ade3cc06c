package graft.plans

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, Expression, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, InsertAction, InsertStarAction, LogicalPlan, MergeAction, MergeIntoTable, UpdateAction, UpdateStarAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.graftglue.Glue

import graft.sources.{GraftTable, LakeTable}

/** Routes text-SQL `UPDATE` and `MERGE INTO` statements over graft
  * catalog tables into LakeTable's file-group-granular copy-on-write
  * DML — the same approach Delta Lake takes (intercept the analyzed
  * `UpdateTable` / `MergeIntoTable` plans with a session-extension
  * rule) rather than Spark's group-based `SupportsRowLevelOperations`
  * rewrite, which without `SupportsRuntimeV2Filtering` plans a
  * full-table ReplaceData — the exact write amplification the
  * granular COW path exists to avoid.
  *
  * Because GraftTable declares ACCEPT_ANY_SCHEMA (per-group schema
  * evolution), Spark's ResolveReferences deliberately skips resolving
  * these statements (`skipSchemaResolution`) — so, exactly like
  * Delta's analysis rule, this rule resolves column references itself:
  * each name is resolved against the target/source child plans and
  * re-emitted as a `t.<col>` / `s.<col>` reference for the aliases
  * [[LakeTable.mergeInto]] joins under. Star actions expand to
  * all-target-column assignments from same-named source columns.
  *
  * Reference capability: Kyuubi exposes full Spark SQL DML to remote
  * tenants (internal/controller/kyuubi.go); with this rule a text-SQL
  * user can `UPDATE graft_cat.db.t SET ...` and `MERGE INTO
  * graft_cat.db.t USING ...` exactly as they would against a Hive
  * ACID or Delta table.
  */
case class GraftRowLevelSql(session: SparkSession) extends Rule[LogicalPlan] {

  private def graftTarget(plan: LogicalPlan): Option[(GraftTable, Seq[Attribute])] =
    plan.collectFirst {
      case r: DataSourceV2Relation if r.table.isInstanceOf[GraftTable] =>
        val t = r.table.asInstanceOf[GraftTable]
        // The catalog resolved this handle for a SELECT-only principal:
        // UPDATE/MERGE route around the DSv2 write surfaces, so the
        // authorization guard re-applies here.
        t.writeDenied.foreach { p =>
          throw new graft.GraftAuthz.AccessDenied(
            s"PERMISSION_DENIED: principal '$p' lacks MODIFY on graft table ${t.tablePath}")
        }
        (t, r.output)
    }

  private def noSubquery(es: Seq[Expression], stmt: String): Unit =
    es.foreach { e =>
      if (e.exists(_.isInstanceOf[SubqueryExpression]))
        throw new UnsupportedOperationException(
          s"graft $stmt does not support subqueries in conditions or assignments")
    }

  private def resolver = session.sessionState.conf.resolver

  /** Resolve one multi-part name against the candidate plans (in
    * order, each tagged with the alias to re-qualify under); ambiguous
    * across plans → error, unresolvable → left as-is so the command's
    * own analysis reports it with Spark's standard message.
    */
  private def reResolve(u: UnresolvedAttribute,
      sides: Seq[(String, LogicalPlan)]): Expression = {
    val hits = sides.flatMap { case (tag, p) =>
      p.resolve(u.nameParts, resolver).map(tag -> _)
    }
    hits match {
      case Seq((tag, a: Attribute)) =>
        UnresolvedAttribute(if (tag.isEmpty) Seq(a.name) else Seq(tag, a.name))
      case Seq(_) => throw new UnsupportedOperationException(
        s"graft DML supports top-level column references only; got ${u.sql}")
      case Seq() => u
      case _ => throw new org.apache.spark.sql.AnalysisException(
        errorClass = "AMBIGUOUS_REFERENCE",
        messageParameters = Map("name" -> u.sql,
          "referenceNames" -> hits.map(_._2.sql).mkString("[", ", ", "]")))
    }
  }

  /** Re-reference every column in `e` by name under the run-time
    * aliases: handles both never-resolved UnresolvedAttribute (the
    * skipSchemaResolution path) and resolved AttributeReference.
    */
  private def byName(e: Expression, sides: Seq[(String, LogicalPlan)]): Expression =
    e.transformUp {
      case u: UnresolvedAttribute => reResolve(u, sides)
      case a: AttributeReference =>
        val tag = sides.collectFirst {
          case (t, p) if p.outputSet.contains(a) => t
        }.getOrElse("")
        UnresolvedAttribute(if (tag.isEmpty) Seq(a.name) else Seq(tag, a.name))
    }

  /** Assignment key must be a top-level target column. */
  private def assignName(a: Assignment, target: LogicalPlan): String = a.key match {
    case ref: AttributeReference => ref.name
    case u: UnresolvedAttribute =>
      target.resolve(u.nameParts, resolver) match {
        case Some(attr: Attribute) => attr.name
        case _ => throw new UnsupportedOperationException(
          s"cannot resolve assignment target ${u.sql} as a top-level column")
      }
    case other => throw new UnsupportedOperationException(
      s"only top-level column assignments are supported; got $other")
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case u @ UpdateTable(table, assignments, condition) if table.resolved =>
      graftTarget(table) match {
        case Some((t, _)) =>
          noSubquery(assignments ++ condition.toSeq, "UPDATE")
          val sides = Seq("" -> table)
          GraftUpdateCommand(t.tablePath, t.dvMode,
            assignments.map(a =>
              assignName(a, table) -> Glue.column(byName(a.value, sides))),
            condition.map(e => Glue.column(byName(e, sides))))
        case None => u
      }

    case m: MergeIntoTable if m.targetTable.resolved && m.sourceTable.resolved =>
      graftTarget(m.targetTable) match {
        case Some((t, targetOut)) =>
          if (m.schemaEvolutionEnabled) throw new UnsupportedOperationException(
            "graft MERGE does not support WITH SCHEMA EVOLUTION")
          val acts = m.matchedActions ++ m.notMatchedActions ++
            m.notMatchedBySourceActions
          noSubquery(m.mergeCondition +: acts.flatMap(_.children), "MERGE")
          val sides = Seq("t" -> m.targetTable, "s" -> m.sourceTable)
          def conv(e: Expression): Column = Glue.column(byName(e, sides))
          // Star actions: every target column from the same-named
          // source column (resolution of s.<col> fails fast when the
          // source lacks one — the standard star contract).
          def starSet: Seq[(String, Column)] = targetOut.map(a =>
            a.name -> Glue.column(UnresolvedAttribute(Seq("s", a.name))))
          def clause(a: MergeAction): GraftMergeClause = a match {
            case UpdateAction(cond, assigns, _) => GraftMergeClause("update",
              cond.map(conv),
              assigns.map(x => assignName(x, m.targetTable) -> conv(x.value)))
            case UpdateStarAction(cond) =>
              GraftMergeClause("update", cond.map(conv), starSet)
            case DeleteAction(cond) => GraftMergeClause("delete", cond.map(conv), Nil)
            case InsertAction(cond, assigns) => GraftMergeClause("insert",
              cond.map(conv),
              assigns.map(x => assignName(x, m.targetTable) -> conv(x.value)))
            case InsertStarAction(cond) =>
              GraftMergeClause("insert", cond.map(conv), starSet)
            case other => throw new UnsupportedOperationException(
              s"unsupported MERGE action $other")
          }
          GraftMergeCommand(t.tablePath, m.sourceTable, conv(m.mergeCondition),
            m.matchedActions.map(clause), m.notMatchedActions.map(clause),
            m.notMatchedBySourceActions.map(clause))
        case None => m
      }
  }
}

/** `UPDATE graft_cat.db.t SET col = expr, ... [WHERE cond]` →
  * LakeTable.update (granular COW, CDC-integrated), or the
  * merge-on-read update when the target's handle read `dvMode`.
  */
case class GraftUpdateCommand(path: String, dvMode: Boolean,
    set: Seq[(String, Column)],
    condition: Option[Column]) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    if (dvMode)
      LakeTable.updateMor(spark, path, condition.getOrElse(lit(true)), set.toMap)
    else
      LakeTable.update(spark, path, condition.getOrElse(lit(true)), set.toMap)
    Nil
  }
}

/** One converted WHEN clause (kind: update | delete | insert). */
case class GraftMergeClause(kind: String, condition: Option[Column],
    set: Seq[(String, Column)]) {
  private[plans] def toLake: LakeTable.MergeClause = kind match {
    case "update" => LakeTable.MergeUpdate(condition, set.toMap)
    case "delete" => LakeTable.MergeDelete(condition)
    case "insert" => LakeTable.MergeInsert(condition, set.toMap)
  }
}

/** `MERGE INTO graft_cat.db.t [t] USING src [s] ON ... WHEN ...` →
  * LakeTable.mergeInto. The source plan is executed as-is; all clause
  * expressions re-resolve by name against the `t`/`s` aliases
  * mergeInto joins under.
  */
case class GraftMergeCommand(path: String, source: LogicalPlan,
    condition: Column,
    matched: Seq[GraftMergeClause],
    notMatched: Seq[GraftMergeClause],
    notMatchedBySource: Seq[GraftMergeClause]) extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(source)
  override def run(spark: SparkSession): Seq[Row] = {
    val src = Glue.ofRows(spark, source)
    LakeTable.mergeInto(spark, path, src, condition,
      matched.map(_.toLake),
      notMatched.map(_.toLake).collect { case i: LakeTable.MergeInsert => i },
      notMatchedBySource.map(_.toLake))
    Nil
  }
}
