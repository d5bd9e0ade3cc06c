package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Persistent SQL views for the graft catalog (B47) — the Hive
  * Metastore's second object kind after tables (the deployed stack's
  * Kyuubi tenants create views as a matter of course). A view is one
  * small file `<ns>/<name>.view` beside the table dirs (sql + schema,
  * base64 — no escaping fights), and the catalog serves it as a
  * VIRTUAL TABLE: `SELECT * FROM graft_cat.db.v` re-executes the
  * stored query, SHOW TABLES lists it, DROP TABLE drops it — the
  * Hive "a view is a table object" model. Creation goes through
  * `CALL graft_cat.system.create_view` because OSS Spark's analyzer
  * still rejects `CREATE VIEW` against non-session catalogs (the gap
  * Iceberg papers over with its own parser extensions). Stateless and
  * multi-tenant like the tables: any session sharing the warehouse
  * root resolves the view.
  */
object GraftViews {

  private val Suffix = ".view"

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def b64(s: String): String =
    java.util.Base64.getEncoder.encodeToString(s.getBytes(StandardCharsets.UTF_8))
  private def unb64(s: String): String =
    new String(java.util.Base64.getDecoder.decode(s), StandardCharsets.UTF_8)

  def viewFile(root: String, ident: Identifier): Path =
    new Path((root +: ident.namespace() :+ (ident.name() + Suffix)).mkString("/"))

  def exists(spark: SparkSession, root: String, ident: Identifier): Boolean = {
    val p = viewFile(root, ident)
    fsOf(spark, p).exists(p)
  }

  def list(spark: SparkSession, root: String, namespace: Array[String]): Array[Identifier] = {
    val ns = new Path((root +: namespace.toSeq).mkString("/"))
    val fs = fsOf(spark, ns)
    if (!fs.exists(ns)) Array.empty
    else fs.listStatus(ns).filter(s => s.isFile && s.getPath.getName.endsWith(Suffix))
      .map(s => Identifier.of(namespace, s.getPath.getName.stripSuffix(Suffix)))
  }

  /** Persist an already-validated definition (the FS catalog store's
    * view writer; validation and the exists/replace decision live in
    * the create_view procedure, which serves BOTH stores).
    */
  def save(spark: SparkSession, root: String, ident: Identifier, sql: String,
      schema: StructType): Unit = {
    val p = viewFile(root, ident)
    val out = fsOf(spark, p).create(p, true)
    try out.write(s"sql\t${b64(sql)}\nschema\t${b64(schema.json)}"
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  def load(spark: SparkSession, root: String, ident: Identifier): (String, StructType) = {
    val p = viewFile(root, ident)
    val in = fsOf(spark, p).open(p)
    val body = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    val fields = body.split("\n").filter(_.contains("\t")).map { l =>
      val i = l.indexOf('\t')
      l.substring(0, i) -> unb64(l.substring(i + 1))
    }.toMap
    (fields("sql"), DataType.fromJson(fields("schema")).asInstanceOf[StructType])
  }

  def drop(spark: SparkSession, root: String, ident: Identifier): Boolean = {
    val p = viewFile(root, ident)
    val fs = fsOf(spark, p)
    fs.exists(p) && fs.delete(p, false)
  }

  /** Nested-view resolution depth for the current planning thread.
    * CREATE validates its own query, but a later REPLACE of a
    * referenced view can close a cycle that validation never saw —
    * the bound turns an infinite recursion into a clear error.
    */
  private[graft] val depth: ThreadLocal[Integer] =
    ThreadLocal.withInitial(() => Integer.valueOf(0))
  private[graft] val MaxDepth = 10
}

/** A stored view as a read-only DSv2 table: the analyzer rule
  * `graft.plans.GraftViewInline` (installed by `graft.GraftExtensions`)
  * replaces every relation over it with the view body at resolution,
  * so it is never scanned. The create-time schema is the contract the
  * rule re-selects the body's columns by.
  */
final class GraftViewTable(viewName: String, val sql: String, viewSchema: StructType)
    extends Table with SupportsRead {
  import scala.jdk.CollectionConverters._

  override def name(): String = viewName
  override def schema(): StructType = viewSchema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    throw new IllegalStateException(
      s"view $viewName is served by graft's analyzer extensions; start the session with " +
        "spark.sql.extensions=graft.GraftExtensions (GraftSession.builder sets it)")
}
