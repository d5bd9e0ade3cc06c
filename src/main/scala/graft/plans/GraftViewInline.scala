package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Cast}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

import graft.sources.{GraftViews, GraftViewTable}

/** Inlines graft catalog views into the consuming plan at analysis
  * time — the Iceberg approach to views (their parser/analyzer
  * extensions splice the view's plan into the query). Before this
  * rule, a view served through a V1Scan relation whose `buildScan()`
  * re-executed the stored SQL behind an `.rdd` boundary: outer
  * predicates and required columns never reached the base-table scan,
  * so `SELECT one_col FROM v WHERE key = 42` full-scanned every column
  * of the base fact. Inlined, the view body is just a subtree of the
  * query — Catalyst pushes filters through it, prunes columns into the
  * base parquet scan, and whole-stage codegen spans the boundary; no
  * row conversion anywhere.
  *
  * The create-time schema stays the contract: outputs are re-selected
  * BY NAME from the re-analyzed body and cast to the recorded types,
  * so additive base-table evolution cannot shift or retype the view's
  * columns. The relation's exprIds are preserved on the aliases so
  * every outer reference stays bound.
  *
  * The [[GraftViews.depth]] guard: a REPLACE of a referenced view can
  * close a cycle that create-time validation never saw; the bound
  * turns infinite recursion into a clear error. This rule is the only
  * serving path for views: [[GraftViewTable]] has no scan, so a
  * session must install `graft.GraftExtensions` (as
  * `GraftSession.builder` does) to read one.
  */
case class GraftViewInline(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperators {
    case r: DataSourceV2Relation if r.table.isInstanceOf[GraftViewTable] =>
      val t = r.table.asInstanceOf[GraftViewTable]
      val d = GraftViews.depth.get()
      if (d >= GraftViews.MaxDepth)
        throw new IllegalStateException(
          s"view nesting exceeds ${GraftViews.MaxDepth} resolving ${t.name()} — " +
            "likely a cycle introduced by a view replacement")
      GraftViews.depth.set(d + 1)
      // Re-entrant analysis: nested views inline through this same
      // rule; the depth guard bounds the recursion.
      val body = try spark.sql(t.sql).queryExecution.analyzed
      finally GraftViews.depth.set(d)
      val resolver = spark.sessionState.conf.resolver
      val projections = r.output.map { attr =>
        val src = body.output.find(o => resolver(o.name, attr.name)).getOrElse(
          throw new IllegalStateException(
            s"view ${t.name()} no longer exposes column '${attr.name}' — " +
              "a base-table change broke the stored schema; recreate the view"))
        val e =
          if (src.dataType == attr.dataType) src
          else Cast(src, attr.dataType,
            Some(spark.sessionState.conf.sessionLocalTimeZone))
        Alias(e, attr.name)(exprId = attr.exprId, qualifier = attr.qualifier)
      }
      Project(projections, body)
  }
}
