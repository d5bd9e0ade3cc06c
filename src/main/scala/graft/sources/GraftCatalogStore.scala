package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.types.{DataType, StructType}

/** Metastore backends for [[GraftCatalog]] — the reference platform's
  * choice between a filesystem-implied registry and a real Hive
  * Metastore database (internal/controller/metastore.go provisions a
  * DB-backed metastore precisely so many engine hosts can share one
  * name registry without sharing a filesystem root).
  *
  *   - [[FsCatalogStore]] (default): the original stateless contract —
  *     a namespace IS a directory under the warehouse root, a table
  *     EXISTS iff its directory is a LakeTable, views are `.view`
  *     files beside the table dirs. Zero external dependencies; any
  *     number of sessions sharing the root share the catalog.
  *   - [[JdbcCatalogStore]] (`store=jdbc`): namespaces, table
  *     locations and view definitions live in two JDBC tables (Derby
  *     in the sandbox — the same embedded store ConnectAuth and
  *     GraftAuthz use; any JDBC database in production). Hosts with
  *     DIFFERENT warehouse roots share one catalog: names resolve
  *     through the DB to absolute table locations, so host A's tables
  *     serve host B's queries. Name claims are arbitrated by the DB's
  *     primary keys (a concurrent duplicate CREATE loses cleanly),
  *     while DATA commits stay arbitrated by each LakeTable's own
  *     commit claim — the registry holds locations only, so it stays
  *     tiny (one row per table) at any data scale.
  *
  * {{{
  *   spark.sql.catalog.m          = graft.sources.GraftCatalog
  *   spark.sql.catalog.m.root     = /host/local/warehouse
  *   spark.sql.catalog.m.store    = jdbc
  *   spark.sql.catalog.m.jdbc.url = jdbc:derby:/shared/metastore;create=true
  * }}}
  */
private[sources] sealed trait CatalogStore {
  /** Warehouse root: default parent for new table locations. */
  def root: String

  def listNamespaces(spark: SparkSession): Array[String]
  def namespaceExists(spark: SparkSession, ns: String): Boolean
  def createNamespace(spark: SparkSession, ns: String): Unit
  def namespaceEmpty(spark: SparkSession, ns: String): Boolean
  /** Drops the namespace entry plus (cascade) all its tables' data. */
  def dropNamespace(spark: SparkSession, ns: String): Boolean

  def listTables(spark: SparkSession, ns: String): Seq[String]
  /** Location of an EXISTING data table, None when absent. */
  def tableLocation(spark: SparkSession, ns: String, name: String): Option[String]
  /** Where this name's table would live; existence is not checked. */
  def locationOf(spark: SparkSession, ns: String, name: String): Option[String] =
    tableLocation(spark, ns, name)
  /** Where a NEW table for this name should live. */
  def defaultLocation(ns: String, name: String): String =
    (root +: ns.split('.').toSeq :+ name).mkString("/")
  /** Claim the name (atomically vs concurrent creates); caller then
    * writes data at `location` and must `unregisterTable` on failure.
    */
  def registerTable(spark: SparkSession, ns: String, name: String, location: String): Unit
  def unregisterTable(spark: SparkSession, ns: String, name: String): Boolean
  def renameTable(spark: SparkSession, ns: String, name: String,
      toNs: String, toName: String): Unit

  def listViews(spark: SparkSession, ns: String): Seq[String]
  def viewExists(spark: SparkSession, ns: String, name: String): Boolean
  def loadView(spark: SparkSession, ns: String, name: String): (String, StructType)
  def saveView(spark: SparkSession, ns: String, name: String,
      sql: String, schema: StructType): Unit
  def dropView(spark: SparkSession, ns: String, name: String): Boolean
}

/** The original filesystem-implied registry (see trait doc). */
private[sources] final class FsCatalogStore(val root: String) extends CatalogStore {

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def nsPath(ns: String): Path = new Path((root +: ns.split('.').toSeq).mkString("/"))
  private def ident(ns: String, name: String): Identifier =
    Identifier.of(ns.split('.'), name)

  override def listNamespaces(spark: SparkSession): Array[String] = {
    val r = new Path(root)
    val f = fs(spark, r)
    if (!f.exists(r)) Array.empty
    else f.listStatus(r).filter(_.isDirectory).map(_.getPath.getName)
  }

  override def namespaceExists(spark: SparkSession, ns: String): Boolean =
    !ns.contains('.') && fs(spark, nsPath(ns)).exists(nsPath(ns))

  override def createNamespace(spark: SparkSession, ns: String): Unit =
    fs(spark, nsPath(ns)).mkdirs(nsPath(ns))

  override def namespaceEmpty(spark: SparkSession, ns: String): Boolean =
    fs(spark, nsPath(ns)).listStatus(nsPath(ns)).isEmpty

  override def dropNamespace(spark: SparkSession, ns: String): Boolean =
    fs(spark, nsPath(ns)).delete(nsPath(ns), true)

  override def listTables(spark: SparkSession, ns: String): Seq[String] = {
    val p = nsPath(ns)
    fs(spark, p).listStatus(p).filter(_.isDirectory).map(_.getPath.getName).toSeq
      .filter(n => tableLocation(spark, ns, n).isDefined)
  }

  override def tableLocation(spark: SparkSession, ns: String, name: String): Option[String] =
    locationOf(spark, ns, name).filter(LakeTable.currentVersion(spark, _).isDefined)

  override def locationOf(spark: SparkSession, ns: String, name: String): Option[String] =
    Some(defaultLocation(ns, name))

  override def registerTable(spark: SparkSession, ns: String, name: String,
      location: String): Unit = () // existence IS the LakeTable dir

  override def unregisterTable(spark: SparkSession, ns: String, name: String): Boolean = true

  override def renameTable(spark: SparkSession, ns: String, name: String,
      toNs: String, toName: String): Unit = {
    val from = new Path(defaultLocation(ns, name))
    val to = new Path(defaultLocation(toNs, toName))
    if (!fs(spark, from).rename(from, to))
      throw new IllegalStateException(s"rename $ns.$name -> $toNs.$toName failed")
  }

  override def listViews(spark: SparkSession, ns: String): Seq[String] =
    GraftViews.list(spark, root, ns.split('.')).map(_.name()).toSeq

  override def viewExists(spark: SparkSession, ns: String, name: String): Boolean =
    GraftViews.exists(spark, root, ident(ns, name))

  override def loadView(spark: SparkSession, ns: String, name: String): (String, StructType) =
    GraftViews.load(spark, root, ident(ns, name))

  override def saveView(spark: SparkSession, ns: String, name: String,
      sql: String, schema: StructType): Unit =
    GraftViews.save(spark, root, ident(ns, name), sql, schema)

  override def dropView(spark: SparkSession, ns: String, name: String): Boolean =
    GraftViews.drop(spark, root, ident(ns, name))
}

/** DB-backed registry (see trait doc). Schema (created on first use;
  * Derby's duplicate-table SQLState X0Y32 is the IF-NOT-EXISTS):
  *
  * {{{
  *   graft_cat_ns  (ns PK)
  *   graft_cat_obj (ns, name PK(ns,name), kind 'T'|'V',
  *                  location,            -- tables: data dir
  *                  view_sql, view_schema) -- views: definition
  * }}}
  */
private[sources] final class JdbcCatalogStore(val root: String, url: String,
    user: Option[String], password: Option[String]) extends CatalogStore {

  /** Locations are REGISTRY-addressed, so a new table gets a unique
    * directory instead of `root/ns/name`: after a rename (an O(1) row
    * update that leaves data in place) the old NAME's default path
    * still holds the renamed table's files, and a name-derived
    * location would hand a later CREATE of that name a live
    * directory. Unique suffixes make every create a fresh dir — the
    * same reason Iceberg/Delta UUID their data locations.
    */
  override def defaultLocation(ns: String, name: String): String =
    (root +: ns.split('.').toSeq :+
      s"$name-${java.util.UUID.randomUUID().toString.take(8)}").mkString("/")

  private def withConn[A](f: java.sql.Connection => A): A =
    graft.ControlPlaneDb.withConn(url, user, password)(f)

  // One-time DDL per store instance; concurrent hosts race benignly.
  graft.ControlPlaneDb.ensureTable(url, user, password,
    "CREATE TABLE graft_cat_ns(ns VARCHAR(128) PRIMARY KEY)", "graft_cat_ns")
  graft.ControlPlaneDb.ensureTable(url, user, password,
    "CREATE TABLE graft_cat_obj(ns VARCHAR(128), name VARCHAR(128), " +
      "kind CHAR(1), location VARCHAR(4096), view_sql CLOB, view_schema CLOB, " +
      "PRIMARY KEY (ns, name))", "graft_cat_obj")

  private def query1[A](sql: String, args: Seq[String])(f: java.sql.ResultSet => A): Seq[A] =
    withConn { conn =>
      val ps = conn.prepareStatement(sql)
      args.zipWithIndex.foreach { case (a, i) => ps.setString(i + 1, a) }
      val rs = ps.executeQuery()
      val out = scala.collection.mutable.ArrayBuffer.empty[A]
      try while (rs.next()) out += f(rs) finally rs.close()
      out.toSeq
    }

  private def update(sql: String, args: Seq[String]): Int = withConn { conn =>
    val ps = conn.prepareStatement(sql)
    args.zipWithIndex.foreach { case (a, i) => ps.setString(i + 1, a) }
    ps.executeUpdate()
  }

  override def listNamespaces(spark: SparkSession): Array[String] =
    query1("SELECT ns FROM graft_cat_ns ORDER BY ns", Nil)(_.getString(1)).toArray

  override def namespaceExists(spark: SparkSession, ns: String): Boolean =
    query1("SELECT 1 FROM graft_cat_ns WHERE ns = ?", Seq(ns))(_ => 1).nonEmpty

  override def createNamespace(spark: SparkSession, ns: String): Unit =
    try update("INSERT INTO graft_cat_ns(ns) VALUES (?)", Seq(ns))
    catch { // lost race: the namespace exists, which is the goal
      case e: java.sql.SQLException if graft.ControlPlaneDb.isDuplicateKey(e) => ()
    }

  override def namespaceEmpty(spark: SparkSession, ns: String): Boolean =
    query1("SELECT 1 FROM graft_cat_obj WHERE ns = ?", Seq(ns))(_ => 1).isEmpty

  override def dropNamespace(spark: SparkSession, ns: String): Boolean = {
    // cascade: drop every object's data first (the FS store's dir
    // delete does this implicitly), then the registry rows.
    val active = org.apache.spark.sql.graftglue.Glue.activeSession
    query1("SELECT location FROM graft_cat_obj WHERE ns = ? AND kind = 'T'", Seq(ns))(
      _.getString(1)).foreach { loc =>
        val p = new Path(loc)
        val f = p.getFileSystem(active.sparkContext.hadoopConfiguration)
        if (f.exists(p)) f.delete(p, true)
      }
    update("DELETE FROM graft_cat_obj WHERE ns = ?", Seq(ns))
    update("DELETE FROM graft_cat_ns WHERE ns = ?", Seq(ns)) > 0
  }

  override def listTables(spark: SparkSession, ns: String): Seq[String] =
    query1("SELECT name FROM graft_cat_obj WHERE ns = ? AND kind = 'T' ORDER BY name",
      Seq(ns))(_.getString(1))

  override def tableLocation(spark: SparkSession, ns: String, name: String): Option[String] =
    query1("SELECT location FROM graft_cat_obj WHERE ns = ? AND name = ? AND kind = 'T'",
      Seq(ns, name))(_.getString(1)).headOption

  override def registerTable(spark: SparkSession, ns: String, name: String,
      location: String): Unit =
    try update("INSERT INTO graft_cat_obj(ns, name, kind, location) VALUES (?, ?, 'T', ?)",
      Seq(ns, name, location))
    catch {
      case e: java.sql.SQLException if graft.ControlPlaneDb.isDuplicateKey(e) =>
        throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
          (ns.split('.') :+ name).toSeq)
    }

  override def unregisterTable(spark: SparkSession, ns: String, name: String): Boolean =
    update("DELETE FROM graft_cat_obj WHERE ns = ? AND name = ? AND kind = 'T'",
      Seq(ns, name)) > 0

  override def renameTable(spark: SparkSession, ns: String, name: String,
      toNs: String, toName: String): Unit = {
    // Location-addressed: the data stays put, only the NAME moves —
    // an O(1) metadata rename regardless of table size. The update
    // count catches a concurrent drop (the caller's exists pre-check
    // raced); a duplicate key catches a concurrent create of the
    // target name.
    val n =
      try update(
        "UPDATE graft_cat_obj SET ns = ?, name = ? WHERE ns = ? AND name = ? AND kind = 'T'",
        Seq(toNs, toName, ns, name))
      catch {
        case e: java.sql.SQLException if graft.ControlPlaneDb.isDuplicateKey(e) =>
          throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
            (toNs.split('.') :+ toName).toSeq)
      }
    if (n == 0)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(
        (ns.split('.') :+ name).toSeq)
  }

  override def listViews(spark: SparkSession, ns: String): Seq[String] =
    query1("SELECT name FROM graft_cat_obj WHERE ns = ? AND kind = 'V' ORDER BY name",
      Seq(ns))(_.getString(1))

  override def viewExists(spark: SparkSession, ns: String, name: String): Boolean =
    query1("SELECT 1 FROM graft_cat_obj WHERE ns = ? AND name = ? AND kind = 'V'",
      Seq(ns, name))(_ => 1).nonEmpty

  override def loadView(spark: SparkSession, ns: String, name: String): (String, StructType) =
    query1("SELECT view_sql, view_schema FROM graft_cat_obj WHERE ns = ? AND name = ? AND kind = 'V'",
      Seq(ns, name)) { rs =>
        (rs.getString(1), DataType.fromJson(rs.getString(2)).asInstanceOf[StructType])
      }.headOption.getOrElse(throw new IllegalStateException(s"no view $ns.$name"))

  override def saveView(spark: SparkSession, ns: String, name: String,
      sql: String, schema: StructType): Unit = withConn { conn =>
    // One transaction: a REPLACE never exposes a window where the
    // view is absent, and a concurrent CREATE TABLE winning the name
    // surfaces as a clean already-exists error, not a raw PK blast.
    conn.setAutoCommit(false)
    try {
      val del = conn.prepareStatement(
        "DELETE FROM graft_cat_obj WHERE ns = ? AND name = ? AND kind = 'V'")
      del.setString(1, ns); del.setString(2, name)
      del.executeUpdate()
      val ins = conn.prepareStatement(
        "INSERT INTO graft_cat_obj(ns, name, kind, view_sql, view_schema) " +
          "VALUES (?, ?, 'V', ?, ?)")
      ins.setString(1, ns); ins.setString(2, name)
      ins.setString(3, sql); ins.setString(4, schema.json)
      ins.executeUpdate()
      conn.commit()
    } catch {
      case e: java.sql.SQLException =>
        try conn.rollback() catch { case _: Exception => () }
        if (graft.ControlPlaneDb.isDuplicateKey(e))
          throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(
            (ns.split('.') :+ name).toSeq)
        else throw e
    }
  }

  override def dropView(spark: SparkSession, ns: String, name: String): Boolean =
    update("DELETE FROM graft_cat_obj WHERE ns = ? AND name = ? AND kind = 'V'",
      Seq(ns, name)) > 0
}
