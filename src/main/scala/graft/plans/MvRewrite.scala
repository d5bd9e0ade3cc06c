package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Transparent materialized-view routing — the OLAP-serving trick the
  * reference platform gets from Doris (doris.go): a registered rollup
  * answers aggregate queries over the BASE fact without scanning it.
  *
  * A rollup MV stores, per dimension tuple, the algebraic partials
  * `sum_<m>` / `min_<m>` / `max_<m>` / `cnt`. Any aggregate over the
  * base whose grouping is a SUBSET of the MV dimensions and whose
  * aggregates are sum/min/max over registered measures (or count(*))
  * can be answered by re-aggregating those partials: sum→sum(sum_m),
  * min→min(min_m), max→max(max_m), count(*)→sum(cnt). The rewrite
  * fires only for bases explicitly registered in [[MvRegistry]]
  * (registration is the opt-in) and preserves the original output
  * attribute ids, so it is invisible to the rest of the plan.
  *
  * Freshness contract: the registrant must refresh or deregister the
  * MV when the base changes (the incremental-refresh path is
  * q_mv_incremental); this rule does no staleness detection — the
  * same contract a Doris rollup has.
  *
  * At 100 TB this turns a full-fact scan+shuffle into a scan of a
  * few-thousand-row table: the difference between a reporting query
  * and a cluster job.
  */
final case class MvDef(
    basePath: String,
    mvPath: String,
    dims: Seq[String],
    measures: Set[String],     // base measure columns with sum_/min_/max_ partials
    cntCol: String = "cnt")

object MvRegistry {
  private val defs = new java.util.concurrent.ConcurrentHashMap[String, MvDef]()
  // negative probe cache: base path -> retry-after wall clock. Bounds
  // descriptor probing to one FS stat per base per minute, so the
  // optimizer rule never hammers storage for unregistered scans.
  private val probedMiss = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  /** Scheme-insensitive: `file:/x/y` and `/x/y` name the same base. */
  private def norm(p: String): String = new org.apache.hadoop.fs.Path(p).toUri.getPath
  def register(d: MvDef): Unit = { defs.put(norm(d.basePath), d); probedMiss.remove(norm(d.basePath)) }
  def deregister(basePath: String): Unit = defs.remove(norm(basePath))
  def find(paths: Seq[String]): Option[MvDef] =
    paths.flatMap(p => Option(defs.get(norm(p)))).headOption
  def clear(): Unit = { defs.clear(); probedMiss.clear() }

  /** [[find]], falling back to the PERSISTED descriptor (`_mv.json` at
    * the base root, written by Rollup.createAndRegister): a rollup
    * registered by one session transparently serves every session
    * sharing the warehouse — the registry is just a cache of durable
    * state (B50).
    */
  def findOrLoad(spark: org.apache.spark.sql.SparkSession, paths: Seq[String]): Option[MvDef] =
    find(paths).orElse {
      val now = System.currentTimeMillis()
      paths.flatMap { p =>
        val key = norm(p)
        val retryAt = probedMiss.get(key)
        if (retryAt != null && now < retryAt) None
        else loadDescriptor(spark, p) match {
          case Some(d) => register(d); Some(d)
          case None => probedMiss.put(key, now + 60000L); None
        }
      }.headOption
    }

  private[graft] def descriptorFile(basePath: String) =
    new org.apache.hadoop.fs.Path(basePath, "_mv.json")

  /** The `_mv.json` body (json4s): `mvPath`, and `dims`/`measures` as arrays. */
  private[graft] def renderDescriptor(d: MvDef): String = org.json4s.jackson.Serialization.write(
    Map("mvPath" -> d.mvPath, "dims" -> d.dims, "measures" -> d.measures.toSeq.sorted))(
    org.json4s.DefaultFormats)

  private def loadDescriptor(spark: org.apache.spark.sql.SparkSession,
      basePath: String): Option[MvDef] = try {
    val p = descriptorFile(basePath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
      val in = fs.open(p)
      val j = try org.json4s.jackson.JsonMethods.parse(in) finally in.close()
      // an earlier writer joined dims and measures with ','
      def names(k: String): Seq[String] = j \ k match {
        case org.json4s.JString(v) => v.split(",").filter(_.nonEmpty).toSeq
        case v => v.extract[Seq[String]]
      }
      Some(MvDef(basePath, (j \ "mvPath").extract[String], names("dims"), names("measures").toSet))
    }
  } catch { case _: Exception => None }
}

case class MaterializedViewRewrite(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case agg: Aggregate =>
      baseScanPaths(agg.child).flatMap { paths =>
        MvRegistry.findOrLoad(spark, paths).flatMap(mv => tryRewrite(agg, mv))
      }.getOrElse(agg)
  }

  /** The child must be the bare base scan (optionally under an
    * attribute-only Project) — any Filter/Join in between and the MV
    * partials no longer answer the query.
    */
  private def baseScanPaths(plan: LogicalPlan): Option[Seq[String]] = plan match {
    case Project(projectList, child) if projectList.forall(_.isInstanceOf[AttributeReference]) =>
      baseScanPaths(child)
    case lr: LogicalRelation => lr.relation match {
      case fs: HadoopFsRelation => Some(fs.location.rootPaths.map(_.toString))
      case _ => None
    }
    // Catalog tables (DSv2): route on the TABLE root — but never a
    // time-traveled scan (pinned version or version option), whose
    // snapshot the MV does not represent. Matched both pre-pushdown
    // (DataSourceV2Relation — where injected optimizer rules run) and
    // post-pushdown for safety.
    case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
      v2TablePath(r.table, r.options)
    case r: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
      v2TablePath(r.relation.table, r.relation.options)
    case _ => None
  }

  private def v2TablePath(table: org.apache.spark.sql.connector.catalog.Table,
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap): Option[Seq[String]] =
    table match {
      case gt: graft.sources.GraftTable
          if gt.pinnedVersion.isEmpty && options.get("version") == null =>
        Some(Seq(gt.tablePath))
      case _ => None
    }

  private def tryRewrite(agg: Aggregate, mv: MvDef): Option[LogicalPlan] = try {
    // Cheap structural checks BEFORE any metadata I/O: grouping must be
    // plain attributes within the MV dimensions, and at least one
    // aggregate must reference a registered measure or count — global
    // aggregates over unrelated measures (vacuously dim-compatible)
    // bail here without ever touching the MV.
    val groupOk = agg.groupingExpressions.forall {
      case a: AttributeReference => mv.dims.contains(a.name)
      case _ => false
    }
    if (!groupOk) return None
    val touchesMeasures = agg.aggregateExpressions.exists(_.exists {
      case ae: AggregateExpression => ae.aggregateFunction.children.forall {
        case a: AttributeReference => mv.measures.contains(a.name)
        case _: Literal => true
        case _ => false
      }
      case _ => false
    })
    if (!touchesMeasures) return None

    val mvPlan = graft.sources.LakeTable.read(org.apache.spark.sql.graftglue.Glue.activeSession, mv.mvPath)
      .queryExecution.analyzed
    def mvAttr(n: String): Option[AttributeReference] =
      mvPlan.output.collectFirst { case a: AttributeReference if a.name == n => a }

    // Re-aggregating a partial can change the result type even though
    // the value is the same: sum over DECIMAL(p,s) is DECIMAL(p+10,s),
    // so sum(sum_m) over the MV is DECIMAL(p+20,s) while the parent
    // plan holds an AttributeReference typed DECIMAL(p+10,s). The
    // replacement is cast back to the original type — value-safe,
    // because the re-aggregated total IS the base total: if it fits
    // the base sum's type the cast is lossless, and if it doesn't the
    // un-rewritten query overflows identically.
    def retyped(repl: Expression, orig: AggregateExpression): Expression =
      if (repl.dataType == orig.dataType) repl
      else org.apache.spark.sql.catalyst.expressions.Cast(repl, orig.dataType)

    def rewriteAgg(ae: AggregateExpression): Option[Expression] = {
      if (ae.isDistinct || ae.filter.isDefined) return None
      val raw: Option[Expression] = ae.aggregateFunction match {
        case Sum(a: AttributeReference, _) if mv.measures.contains(a.name) =>
          mvAttr(s"sum_${a.name}").map(m => AggregateExpression(Sum(m), Complete, isDistinct = false))
        case Min(a: AttributeReference) if mv.measures.contains(a.name) =>
          mvAttr(s"min_${a.name}").map(m => AggregateExpression(Min(m), Complete, isDistinct = false))
        case Max(a: AttributeReference) if mv.measures.contains(a.name) =>
          mvAttr(s"max_${a.name}").map(m => AggregateExpression(Max(m), Complete, isDistinct = false))
        case Count(Seq(Literal(_, _))) =>
          // count(*) over an EMPTY base is 0, but sum(cnt) over the
          // (equally empty) MV is NULL — coalesce restores the
          // count contract. (sum→sum stays null-correct as-is.)
          mvAttr(mv.cntCol).map { m =>
            val s = AggregateExpression(Sum(m), Complete, isDistinct = false)
            org.apache.spark.sql.catalyst.expressions.Coalesce(
              Seq(s, Literal(0L, org.apache.spark.sql.types.LongType)))
          }
        case _ => None
      }
      raw.map(retyped(_, ae))
    }

    // Every result expression is rewritten in place: embedded
    // AggregateExpressions map to partial re-aggregation, remaining
    // base attributes (necessarily group dims) map to their MV
    // columns, and scalar wrappers (round, arithmetic, …) stay as-is.
    // Output names AND exprIds are preserved so the parent plan is
    // untouched. Any unrewritable piece vetoes the whole rewrite.
    val mvIds = mvPlan.outputSet
    def rewriteResult(e: Expression): Option[Expression] = {
      var ok = true
      // transformUp: the replacement subtree (which itself contains an
      // AggregateExpression over MV partials) must not be re-visited —
      // transformDown would descend into it and veto.
      val aggsDone = e.transformUp {
        case ae: AggregateExpression => rewriteAgg(ae).getOrElse { ok = false; ae }
      }
      val attrsDone = aggsDone.transformDown {
        case a: AttributeReference if !mvIds.contains(a) =>
          if (mv.dims.contains(a.name)) mvAttr(a.name).getOrElse { ok = false; a }
          else { ok = false; a }
      }
      if (ok) Some(attrsDone) else None
    }
    val newResults: Seq[Option[NamedExpression]] = agg.aggregateExpressions.map {
      case a: AttributeReference =>
        rewriteResult(a).map(m => Alias(m, a.name)(exprId = a.exprId))
      case al: Alias =>
        rewriteResult(al.child).map(e => Alias(e, al.name)(exprId = al.exprId))
      case _ => None
    }
    if (newResults.exists(_.isEmpty)) return None

    val newGroup = agg.groupingExpressions.map {
      case a: AttributeReference => mvAttr(a.name).get
    }
    logInfo(s"routing aggregate over ${mv.basePath} to MV ${mv.mvPath}")
    Some(Aggregate(newGroup, newResults.map(_.get), mvPlan))
  } catch {
    // An acceleration rule must never be able to fail a query: any
    // problem (MV concurrently replaced, unreadable snapshot, odd
    // expression shape) falls back to the base-scan plan.
    case scala.util.control.NonFatal(_) => None
  }
}
