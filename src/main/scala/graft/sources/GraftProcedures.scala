package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Table-maintenance procedures for the graft catalog — the Iceberg
  * `CALL catalog.system.proc(...)` surface (B44), on Spark 4's
  * ProcedureCatalog API. Every lifecycle verb that previously needed
  * the Scala API is reachable from pure text SQL (and therefore from a
  * remote Connect/JDBC gateway client, the Kyuubi usage):
  *
  * {{{
  *   CALL graft_cat.system.compact('db.t', 4)
  *   CALL graft_cat.system.vacuum('db.t', 3)
  *   CALL graft_cat.system.set_sort_by('db.t', 'k')
  *   CALL graft_cat.system.cluster_by('db.t', 'x,y', 8)
  * }}}
  *
  * Each returns a one-row result (new version / retained groups) via a
  * LocalScan — the driver-side result contract InvokeProcedures
  * expects. The procedures are thin: all heavy lifting stays in the
  * distributed LakeTable verbs they dispatch to.
  */
object GraftProcedures {

  private def spark: SparkSession = org.apache.spark.sql.graftglue.Glue.activeSession

  private def param(n: String, t: DataType) = ProcedureParameter.in(n, t).build()

  private def row(vs: Any*): Array[InternalRow] =
    Array(new GenericInternalRow(vs.toArray))

  private final class Result(schema: StructType, data: Array[InternalRow]) extends LocalScan {
    override def rows(): Array[InternalRow] = data
    override def readSchema(): StructType = schema
  }

  private abstract class Proc(procName: String, params: Array[ProcedureParameter],
      outSchema: StructType) extends UnboundProcedure with BoundProcedure {
    override def name(): String = procName
    override def description(): String = s"graft table maintenance: $procName"
    override def bind(inputType: StructType): BoundProcedure = this
    override def parameters(): Array[ProcedureParameter] = params
    override def isDeterministic: Boolean = false
    override def call(input: InternalRow): java.util.Iterator[Scan] =
      java.util.List.of[Scan](new Result(outSchema, run(input))).iterator()
    def run(input: InternalRow): Array[InternalRow]
  }

  /** `db.t` under this catalog → the table's data location (resolved
    * through the catalog's store, so a JDBC-registered table on
    * another host's root resolves too). Every procedure that comes
    * through here mutates the table or its metadata (compaction,
    * vacuum, DML, restore, tags, …), so this is also the
    * authorization choke point: MODIFY on the table.
    */
  private def path(store: CatalogStore, table: String): String = {
    val parts = table.split('.').toSeq
    graft.GraftAuthz.requireModify(spark, parts.init.mkString("."), parts.last)
    val p = store.tableLocation(spark, parts.init.mkString("."), parts.last)
      .getOrElse(throw new IllegalArgumentException(s"no graft table at $table"))
    // A JDBC-store row whose data never materialized (crashed create)
    // is not a table.
    if (LakeTable.currentVersion(spark, p).isEmpty)
      throw new IllegalArgumentException(s"no graft table at $table")
    p
  }

  private val verSchema = StructType(Seq(StructField("version", LongType)))

  def load(store: CatalogStore, ident: Identifier): UnboundProcedure = {
    if (!(ident.namespace().sameElements(Array("system"))))
      throw new NoSuchElementException(s"unknown procedure namespace ${ident.namespace().mkString(".")}")
    ident.name() match {
      case "compact" => new Proc("compact",
          Array(param("table", StringType), param("num_files", IntegerType)), verSchema) {
        override def run(in: InternalRow): Array[InternalRow] =
          row(LakeTable.compact(spark, path(store, in.getUTF8String(0).toString), in.getInt(1)))
      }
      case "compact_where" => new Proc("compact_where",
          Array(param("table", StringType), param("num_files", IntegerType),
            param("predicate", StringType)), verSchema) {
        override def run(in: InternalRow): Array[InternalRow] =
          row(LakeTable.compactWhere(spark, path(store, in.getUTF8String(0).toString),
            in.getInt(1), org.apache.spark.sql.functions.expr(in.getUTF8String(2).toString)))
      }
      case "vacuum" => new Proc("vacuum",
          Array(param("table", StringType), param("retain_from", LongType)),
          StructType(Seq(StructField("kept_groups", LongType)))) {
        override def run(in: InternalRow): Array[InternalRow] =
          row(LakeTable.vacuum(spark, path(store, in.getUTF8String(0).toString), in.getLong(1)))
      }
      case "set_sort_by" => new Proc("set_sort_by",
          Array(param("table", StringType), param("cols", StringType)),
          StructType(Seq(StructField("sort_by", StringType)))) {
        override def run(in: InternalRow): Array[InternalRow] = {
          val p = path(store, in.getUTF8String(0).toString)
          val cols = in.getUTF8String(1).toString.split(',').map(_.trim).filter(_.nonEmpty).toSeq
          row(UTF8String.fromString(LakeTable.setSortBy(spark, p, cols).sortBy.mkString(",")))
        }
      }
      case "set_partitioning" => new Proc("set_partitioning",
          Array(param("table", StringType), param("cols", StringType)),
          StructType(Seq(StructField("partition_by", StringType)))) {
        override def run(in: InternalRow): Array[InternalRow] = {
          val p = path(store, in.getUTF8String(0).toString)
          val cols = in.getUTF8String(1).toString.split(',').map(_.trim).filter(_.nonEmpty).toSeq
          row(UTF8String.fromString(
            LakeTable.setPartitioning(spark, p, cols).partitionBy.mkString(",")))
        }
      }
      case "cluster_by" => new Proc("cluster_by",
          Array(param("table", StringType), param("cols", StringType),
            param("num_files", IntegerType)), verSchema) {
        override def run(in: InternalRow): Array[InternalRow] =
          row(LakeTable.clusterBy(spark, path(store, in.getUTF8String(0).toString),
            in.getUTF8String(1).toString.split(',').map(_.trim).filter(_.nonEmpty).toSeq,
            in.getInt(2)))
      }
      case "cluster_incremental" => new Proc("cluster_incremental",
          Array(param("table", StringType), param("cols", StringType),
            param("num_files", IntegerType)), verSchema) {
        // B64 for SQL-only users: Z-order only the file groups
        // committed since the last cluster rewrite (cost ∝ new data).
        override def run(in: InternalRow): Array[InternalRow] =
          row(LakeTable.clusterByIncremental(spark,
            path(store, in.getUTF8String(0).toString),
            in.getUTF8String(1).toString.split(',').map(_.trim).filter(_.nonEmpty).toSeq,
            in.getInt(2)))
      }
      case "analyze" => new Proc("analyze",
          Array(param("table", StringType), param("cols", StringType)),
          StructType(Seq(StructField("col_name", StringType),
            StructField("ndv", LongType)))) {
        // B65: ANALYZE TABLE — one aggregate pass records per-column
        // NDV (+ string lengths) in the table meta; the HMS facade
        // serves them to external CBOs. Empty cols = all atomic.
        override def run(in: InternalRow): Array[InternalRow] = {
          val p = path(store, in.getUTF8String(0).toString)
          val cols = in.getUTF8String(1).toString.split(',')
            .map(_.trim).filter(_.nonEmpty).toSeq
          LakeTable.analyze(spark, p, cols).toSeq.sortBy(_._1).map {
            case (c, r) => new GenericInternalRow(
              Array[Any](UTF8String.fromString(c), r.ndv))
          }.toArray
        }
      }
      case "add_check" => new Proc("add_check",
          Array(param("table", StringType), param("name", StringType),
            param("expr", StringType)),
          StructType(Seq(StructField("checks", StringType)))) {
        override def run(in: InternalRow): Array[InternalRow] = {
          val p = path(store, in.getUTF8String(0).toString)
          val m = LakeTable.addCheck(spark, p, in.getUTF8String(1).toString,
            in.getUTF8String(2).toString)
          row(UTF8String.fromString(m.checks.map(_._1).mkString(",")))
        }
      }
      case "drop_check" => new Proc("drop_check",
          Array(param("table", StringType), param("name", StringType)),
          StructType(Seq(StructField("checks", StringType)))) {
        override def run(in: InternalRow): Array[InternalRow] = {
          val p = path(store, in.getUTF8String(0).toString)
          val m = LakeTable.dropCheck(spark, p, in.getUTF8String(1).toString)
          row(UTF8String.fromString(m.checks.map(_._1).mkString(",")))
        }
      }
      case "delete_mor" => new Proc("delete_mor",
          Array(param("table", StringType), param("predicate", StringType)), verSchema) {
        override def run(in: InternalRow): Array[InternalRow] =
          row(LakeTable.deleteMor(spark, path(store, in.getUTF8String(0).toString),
            org.apache.spark.sql.functions.expr(in.getUTF8String(1).toString)))
      }
      case "update_mor" => new Proc("update_mor",
          Array(param("table", StringType), param("predicate", StringType),
            param("set_col", StringType), param("set_expr", StringType)), verSchema) {
        override def run(in: InternalRow): Array[InternalRow] =
          row(LakeTable.updateMor(spark, path(store, in.getUTF8String(0).toString),
            org.apache.spark.sql.functions.expr(in.getUTF8String(1).toString),
            Map(in.getUTF8String(2).toString ->
              org.apache.spark.sql.functions.expr(in.getUTF8String(3).toString))))
      }
      case "create_mv" => new Proc("create_mv",
          Array(param("mv", StringType), param("base", StringType),
            param("dims", StringType), param("measures", StringType)), verSchema) {
        override def run(in: InternalRow): Array[InternalRow] = {
          val mvParts = in.getUTF8String(0).toString.split('.')
          require(mvParts.length >= 2, "mv name must be namespace-qualified (db.mv)")
          val (mvNs, mvName) = (mvParts.init.mkString("."), mvParts.last)
          graft.GraftAuthz.requireModify(spark, mvNs, mvName)
          val mvPath = store.defaultLocation(mvNs, mvName)
          val basePath = path(store, in.getUTF8String(1).toString)
          // Claim the MV's catalog name first (JDBC-store concurrency),
          // then build; release on failure.
          store.registerTable(spark, mvNs, mvName, mvPath)
          try Rollup.createAndRegister(spark, basePath, mvPath,
            in.getUTF8String(2).toString.split(',').map(_.trim).filter(_.nonEmpty).toSeq,
            in.getUTF8String(3).toString.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
          catch { case e: Throwable =>
            store.unregisterTable(spark, mvNs, mvName); throw e
          }
          row(LakeTable.currentVersion(spark, mvPath).getOrElse(0L))
        }
      }
      case "drop_mv" => new Proc("drop_mv",
          Array(param("base", StringType)),
          StructType(Seq(StructField("dropped", BooleanType)))) {
        override def run(in: InternalRow): Array[InternalRow] = {
          Rollup.dropRegistration(spark, path(store, in.getUTF8String(0).toString))
          row(java.lang.Boolean.TRUE)
        }
      }
      case "tag" => new Proc("tag",
          Array(param("table", StringType), param("name", StringType),
            param("version", LongType)),
          StructType(Seq(StructField("tags", StringType)))) {
        override def run(in: InternalRow): Array[InternalRow] = {
          val p = path(store, in.getUTF8String(0).toString)
          row(UTF8String.fromString(
            LakeTable.setTag(spark, p, in.getUTF8String(1).toString, in.getLong(2)).tagList))
        }
      }
      case "drop_tag" => new Proc("drop_tag",
          Array(param("table", StringType), param("name", StringType)),
          StructType(Seq(StructField("tags", StringType)))) {
        override def run(in: InternalRow): Array[InternalRow] = {
          val p = path(store, in.getUTF8String(0).toString)
          row(UTF8String.fromString(
            LakeTable.dropTag(spark, p, in.getUTF8String(1).toString).tagList))
        }
      }
      case "create_view" => new Proc("create_view",
          Array(param("name", StringType), param("query", StringType),
            param("replace", BooleanType)),
          StructType(Seq(StructField("columns", StringType)))) {
        override def run(in: InternalRow): Array[InternalRow] = {
          val parts = in.getUTF8String(0).toString.split('.')
          require(parts.length >= 2, "view name must be namespace-qualified (db.v)")
          val (vNs, vName) = (parts.init.mkString("."), parts.last)
          graft.GraftAuthz.requireModify(spark, vNs, vName)
          // Hive-metastore single-namespace rule: a view may not
          // SHADOW an existing data table (loadTable resolves views
          // first, so a same-name view would silently hijack reads
          // and make DROP TABLE delete the view while the data
          // persists underneath).
          require(store.tableLocation(spark, vNs, vName).isEmpty,
            s"a table named ${parts.mkString(".")} already exists; " +
              "views and tables share one namespace")
          if (!in.getBoolean(2))
            require(!store.viewExists(spark, vNs, vName),
              s"view ${parts.mkString(".")} already exists")
          val schema = spark.sql(in.getUTF8String(1).toString).schema // rejects broken SQL
          store.saveView(spark, vNs, vName, in.getUTF8String(1).toString, schema)
          row(UTF8String.fromString(schema.fieldNames.mkString(",")))
        }
      }
      case "restore" => new Proc("restore",
          Array(param("table", StringType), param("version", LongType)), verSchema) {
        override def run(in: InternalRow): Array[InternalRow] =
          row(LakeTable.restore(spark, path(store, in.getUTF8String(0).toString),
            in.getLong(1)))
      }
      case "enable_dv" => new Proc("enable_dv",
          Array(param("table", StringType), param("on", BooleanType)),
          StructType(Seq(StructField("dv_mode", BooleanType)))) {
        override def run(in: InternalRow): Array[InternalRow] = {
          val p = path(store, in.getUTF8String(0).toString)
          row(java.lang.Boolean.valueOf(LakeTable.setDvMode(spark, p, in.getBoolean(1)).dvMode))
        }
      }
      // ---- grant management (C24) — the Kyuubi/Hive `GRANT` surface
      // reachable from pure SQL, so a remote ADMIN tenant manages
      // policy over the wire. Authority to (re)grant = superuser or
      // ALL on the securable; GraftAuthz must be enabled.
      case "grant" => new Proc("grant",
          Array(param("principal", StringType), param("securable", StringType),
            param("privilege", StringType)),
          StructType(Seq(StructField("granted", BooleanType)))) {
        override def run(in: InternalRow): Array[InternalRow] = {
          val sec = in.getUTF8String(1).toString
          graft.GraftAuthz.requireGrantAuthority(spark, sec)
          graft.GraftAuthz.grant(in.getUTF8String(0).toString, sec,
            in.getUTF8String(2).toString)
          row(java.lang.Boolean.TRUE)
        }
      }
      case "revoke" => new Proc("revoke",
          Array(param("principal", StringType), param("securable", StringType),
            param("privilege", StringType)),
          StructType(Seq(StructField("revoked", BooleanType)))) {
        override def run(in: InternalRow): Array[InternalRow] = {
          val sec = in.getUTF8String(1).toString
          graft.GraftAuthz.requireGrantAuthority(spark, sec)
          graft.GraftAuthz.revoke(in.getUTF8String(0).toString, sec,
            in.getUTF8String(2).toString)
          row(java.lang.Boolean.TRUE)
        }
      }
      case "show_grants" => new Proc("show_grants",
          Array(param("securable", StringType)),
          StructType(Seq(StructField("grants", StringType)))) {
        override def run(in: InternalRow): Array[InternalRow] = {
          val sec = in.getUTF8String(0).toString
          graft.GraftAuthz.requireGrantAuthority(spark, sec)
          row(UTF8String.fromString(graft.GraftAuthz.grants(sec)
            .map { case (pr, pv) => s"$pr:$pv" }.sorted.mkString(",")))
        }
      }
      case "clone" => new Proc("clone",
          Array(param("source", StringType), param("target", StringType),
            param("deep", BooleanType)),
          StructType(Seq(StructField("location", StringType)))) {
        override def run(in: InternalRow): Array[InternalRow] = {
          val src = in.getUTF8String(0).toString.split('.').toSeq
          val dst = in.getUTF8String(1).toString.split('.').toSeq
          val deep = in.getBoolean(2)
          // Cloning READS the source snapshot (SELECT) and CREATES the
          // target (MODIFY on its namespace) — the same bar CREATE
          // TABLE AS SELECT would pay.
          graft.GraftAuthz.requireSelect(spark, src.init.mkString("."), src.last)
          val srcPath = store.tableLocation(spark, src.init.mkString("."), src.last)
            .getOrElse(throw new IllegalArgumentException(
              s"no graft table at ${src.mkString(".")}"))
          val (dns, dname) = (dst.init.mkString("."), dst.last)
          graft.GraftAuthz.requireModify(spark, dns, "*")
          if (!store.namespaceExists(spark, dns))
            throw new IllegalArgumentException(s"namespace $dns does not exist")
          if (store.tableLocation(spark, dns, dname).isDefined)
            throw new IllegalArgumentException(
              s"table ${dst.mkString(".")} already exists")
          // Claim the name first (JDBC-store PK arbitrates concurrent
          // creates), then write; a failed clone releases the claim —
          // the createTable choreography.
          val loc = store.defaultLocation(dns, dname)
          store.registerTable(spark, dns, dname, loc)
          try {
            if (deep) LakeTable.deepClone(spark, srcPath, loc)
            else LakeTable.shallowClone(spark, srcPath, loc)
          } catch { case e: Throwable =>
            store.unregisterTable(spark, dns, dname); throw e
          }
          row(UTF8String.fromString(loc))
        }
      }
      case "show_audit" => new Proc("show_audit",
          Array(param("n", IntegerType)),
          StructType(Seq(StructField("at_ms", LongType),
            StructField("principal", StringType), StructField("verb", StringType),
            StructField("securable", StringType), StructField("decision", StringType)))) {
        override def run(in: InternalRow): Array[InternalRow] = {
          // Admin-only: the trail names every tenant's objects. Global
          // ALL (or superuser) is the audit-reader bar.
          graft.GraftAuthz.requireGrantAuthority(spark, "*")
          graft.GraftAudit.flush(2000L)
          graft.GraftAudit.tail(in.getInt(0)).map { e =>
            InternalRow(e.atMs, UTF8String.fromString(e.principal),
              UTF8String.fromString(e.verb), UTF8String.fromString(e.securable),
              UTF8String.fromString(e.decision))
          }.toArray
        }
      }
      case other => throw new NoSuchElementException(s"unknown procedure $other")
    }
  }

  val names: Array[String] =
    Array("compact", "compact_where", "vacuum", "set_sort_by", "set_partitioning", "cluster_by",
      "cluster_incremental", "analyze", "add_check", "drop_check", "delete_mor", "update_mor", "enable_dv",
      "restore", "create_view", "tag", "drop_tag", "create_mv", "drop_mv",
      "grant", "revoke", "show_grants", "show_audit", "clone")
}
