package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.{NamespaceAlreadyExistsException, NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, NamespaceChange, SupportsNamespaces, Table, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Catalog plugin exposing a directory of LakeTables to text SQL —
  * the metastore capability of the reference platform
  * (internal/controller/metastore.go:38-44 manages the Hive Metastore
  * that Kyuubi sessions resolve names through): register with
  *
  * {{{
  *   spark.sql.catalog.graft_cat      = graft.sources.GraftCatalog
  *   spark.sql.catalog.graft_cat.root = /path/to/warehouse
  * }}}
  *
  * and `SELECT * FROM graft_cat.db.t`, `CREATE TABLE graft_cat.db.t
  * AS SELECT ...`, `DROP TABLE ...` work against LakeTable snapshots
  * with the V2 parquet scan/commit paths of GraftTable. Namespaces
  * are single-level directories under the root; table metadata IS the
  * LakeTable commit log, so the catalog is stateless and any number
  * of sessions (tenants) can share it concurrently — the commit
  * claim in LakeTable arbitrates writers.
  */
class GraftCatalog extends TableCatalog with SupportsNamespaces
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {

  private var catalogName: String = _
  private var store: CatalogStore = _

  /** The backing store, for engine frontends that need a table's data
    * location outside a SQL plan (the REST stream-load ingest route).
    */
  private[graft] def catalogStore: CatalogStore = store

  /** Column DEFAULT values (the Delta/Iceberg SQL-surface parity):
    * `CREATE TABLE (c INT DEFAULT 5)` and `ALTER COLUMN ... SET/DROP
    * DEFAULT` persist the default expression in the meta schema's
    * field metadata; Spark's analyzer fills omitted INSERT columns
    * from it. ADD COLUMN with a default still rejects — existing rows
    * would need read-side EXISTS_DEFAULT fill, which the null-filling
    * merged read deliberately does not promise.
    */
  override def capabilities(): util.Set[
      org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    util.EnumSet.of(org.apache.spark.sql.connector.catalog
      .TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE)

  private def spark: SparkSession = org.apache.spark.sql.graftglue.Glue.activeSession
  private def fs(p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val root = Option(options.get("root")).getOrElse(
      throw new IllegalArgumentException(
        s"catalog $name requires spark.sql.catalog.$name.root"))
    // Metastore backend: the stateless FS-implied registry (default)
    // or a shared JDBC database (GraftCatalogStore.scala).
    store = Option(options.get("store")).map(_.toLowerCase) match {
      case None | Some("fs") => new FsCatalogStore(root)
      case Some("jdbc") => new JdbcCatalogStore(root,
        Option(options.get("jdbc.url")).getOrElse(throw new IllegalArgumentException(
          s"catalog $name with store=jdbc requires spark.sql.catalog.$name.jdbc.url")),
        Option(options.get("jdbc.user")), Option(options.get("jdbc.password")))
      case Some(other) =>
        throw new IllegalArgumentException(s"unknown catalog store '$other' (fs | jdbc)")
    }
  }

  override def name(): String = catalogName

  private def nsName(namespace: Array[String]): String = namespace.mkString(".")

  // ---- authorization (GraftAuthz; no-ops unless enforcement is on) --

  private def nsOf(ident: Identifier): String = ident.namespace().mkString(".")

  private def requireSelect(ident: Identifier): Unit =
    graft.GraftAuthz.requireSelect(spark, nsOf(ident), ident.name())

  private def requireModify(ident: Identifier): Unit =
    graft.GraftAuthz.requireModify(spark, nsOf(ident), ident.name())

  /** Reads only need SELECT; DML through the returned handle needs
    * MODIFY — enforced by marking the handle write-denied instead of
    * failing the load (the same Table object serves both paths). One
    * identity resolution + one cached grants lookup covers both
    * decisions.
    */
  private def authorized(ident: Identifier, t: GraftTable): GraftTable = {
    val lvl = graft.GraftAuthz.accessLevel(spark, nsOf(ident), ident.name())
    if (lvl < graft.GraftAuthz.SelectLevel) {
      // Denials are audited here (C28) — the load path deliberately
      // skips per-load "allow" records (the analyzer loads a table
      // several times per statement; flooding the trail with
      // resolution-granular allows would bury the decisions that
      // matter — DML/DDL allows still record through requireModify).
      graft.GraftAudit.record(graft.GraftAuthIdentity.current(spark), "SELECT",
        s"${nsOf(ident)}.${ident.name()}", "deny")
      throw new graft.GraftAuthz.AccessDenied(
        s"PERMISSION_DENIED: principal '${graft.GraftAuthIdentity.current(spark)}' " +
          s"lacks SELECT on table '${nsOf(ident)}.${ident.name()}'")
    }
    if (lvl < graft.GraftAuthz.ModifyLevel)
      t.denyWritesFor(graft.GraftAuthIdentity.current(spark))
    t
  }

  /** A registered location whose LakeTable never materialized (a
    * crash between the JDBC store's name claim and the data write) is
    * NOT a table: surface the standard not-found error everywhere
    * instead of a low-level read failure. DROP TABLE still cleans the
    * orphan row. Returns the location and the head state found there.
    */
  private def existingTable(ident: Identifier): (String, LakeTable.State) =
    (for {
      p <- store.locationOf(spark, nsOf(ident), ident.name())
      h <- LakeTable.head(spark, p)
    } yield (p, h)).getOrElse(throw new NoSuchTableException(ident))

  // ---- namespaces -------------------------------------------------

  override def listNamespaces(): Array[Array[String]] =
    store.listNamespaces(spark).map(Array(_))

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] =
    if (namespace.isEmpty) listNamespaces()
    else if (namespaceExists(namespace)) Array.empty
    else throw new NoSuchNamespaceException(namespace)

  override def namespaceExists(namespace: Array[String]): Boolean =
    namespace.length == 1 && store.namespaceExists(spark, nsName(namespace))

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] =
    if (namespaceExists(namespace))
      Map("location" -> (store.root + "/" + nsName(namespace))).asJava
    else throw new NoSuchNamespaceException(namespace)

  override def createNamespace(namespace: Array[String],
      metadata: util.Map[String, String]): Unit = {
    if (namespace.length != 1)
      throw new IllegalArgumentException("graft catalog namespaces are single-level")
    graft.GraftAuthz.requireModify(spark, namespace.mkString("."), "*")
    if (namespaceExists(namespace)) throw new NamespaceAlreadyExistsException(namespace)
    store.createNamespace(spark, nsName(namespace))
  }

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft catalog namespaces carry no metadata")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    graft.GraftAuthz.requireModify(spark, namespace.mkString("."), "*")
    if (!namespaceExists(namespace)) return false
    if (!cascade && !store.namespaceEmpty(spark, nsName(namespace)))
      throw new IllegalStateException(s"namespace ${namespace.mkString(".")} is not empty")
    store.dropNamespace(spark, nsName(namespace))
  }

  // ---- tables -----------------------------------------------------

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    if (!namespaceExists(namespace)) throw new NoSuchNamespaceException(namespace)
    val ns = nsName(namespace)
    (store.listTables(spark, ns) ++
      store.listViews(spark, ns)) // Hive model: views list as tables
      .map(n => Identifier.of(namespace, n)).toArray
  }

  override def tableExists(ident: Identifier): Boolean =
    store.tableLocation(spark, nsOf(ident), ident.name()).isDefined ||
      store.viewExists(spark, nsOf(ident), ident.name())

  override def loadTable(ident: Identifier): Table = {
    // Stored views (B47) resolve as virtual tables: scans re-execute
    // the stored SQL (the Hive "view is a table object" model).
    if (store.viewExists(spark, nsOf(ident), ident.name())) {
      requireSelect(ident)
      val (sql, schema) = store.loadView(spark, nsOf(ident), ident.name())
      return new GraftViewTable((ident.namespace() :+ ident.name()).mkString("."), sql, schema)
    }
    val (p, h) = existingTable(ident)
    authorized(ident, new GraftTable(p, None, None, Some(h)))
  }

  /** A handle on version `v` of `p`, read under its head `h`'s meta. */
  private def pinned(ident: Identifier, p: String, h: LakeTable.State, v: Long): Table =
    authorized(ident, new GraftTable(p, Some(v), None, Some(LakeTable.at(spark, p, h, v))))

  /** SQL time travel: `SELECT ... FROM graft_cat.db.t VERSION AS OF n`
    * resolves a pinned LakeTable snapshot; a NON-numeric spec resolves
    * through the table's named tags (`VERSION AS OF 'stable'`).
    */
  override def loadTable(ident: Identifier, version: String): Table = {
    val (p, h) = existingTable(ident)
    pinned(ident, p, h, LakeTable.resolveVersion(spark, p, version, h))
  }

  /** SQL time travel by wall clock: `... TIMESTAMP AS OF '...'` —
    * Spark hands the literal as MICROSECONDS since epoch; resolve the
    * newest commit at or before it (LakeTable.versionAt).
    */
  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    val (p, h) = existingTable(ident)
    val v = LakeTable.versionAt(spark, p, timestamp / 1000L, h.version)
      .getOrElse(throw new NoSuchTableException(ident))
    pinned(ident, p, h, v)
  }

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform], properties: util.Map[String, String]): Table = {
    requireModify(ident)
    if (tableExists(ident)) throw new TableAlreadyExistsException(ident)
    val partCols = partitions.toSeq.map { t =>
      if (t.name != "identity")
        throw new UnsupportedOperationException(s"unsupported partition transform $t")
      t.references().head.fieldNames().mkString(".")
    }
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val loc = store.defaultLocation(nsOf(ident), ident.name())
    // Claim the NAME first (a JDBC store's primary key arbitrates
    // concurrent creates across hosts), then write the table; a
    // failed write releases the claim.
    store.registerTable(spark, nsOf(ident), ident.name(), loc)
    try {
      // Parquet drops field metadata, so defaults (and comments)
      // survive only through the meta schema — record it whenever the
      // DDL carried any.
      val carriesMetadata =
        schema.fields.exists(f => f.metadata != org.apache.spark.sql.types.Metadata.empty)
      LakeTable.create(spark, loc, empty, partCols,
        if (carriesMetadata) LakeTable.TableMeta(schema = Some(schema))
        else LakeTable.TableMeta.empty)
    } catch { case e: Throwable =>
      store.unregisterTable(spark, nsOf(ident), ident.name()); throw e
    }
    new GraftTable(loc, None, Option(schema), LakeTable.head(spark, loc))
  }

  /** ALTER TABLE ... ADD COLUMNS: a pure METADATA operation — the new
    * columns are recorded in the table meta and surface as NULL until
    * data lands (files are never rewritten, the lakehouse contract).
    * Everything else (renames, drops, type changes) still rejects:
    * those require rewriting or remapping data.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    requireModify(ident)
    val p = store.tableLocation(spark, nsOf(ident), ident.name())
      .getOrElse(throw new NoSuchTableException(ident))
    // ATOMIC multi-change DDL: the whole statement folds PURELY over
    // the schema first — every clause validates against the state the
    // PRECEDING clauses produced (so ADD COLUMN x + RENAME x→y in one
    // statement works) and nothing persists until the fold survives;
    // then the mapping records, the folded schema and the renamed-
    // through partition/sort specs land in ONE table-meta CAS. A
    // clause that fails leaves the table exactly as it was.
    val base = LakeTable.state(spark, p)
    var parts = base.meta.partitionBy
    var sortBy = base.meta.sortBy
    val recs = Seq.newBuilder[LakeTable.MapRec]
    def refGuard(verb: String, name: String): Unit = {
      val ref = ("""\b""" + java.util.regex.Pattern.quote(name) + """\b""").r
      base.meta.checks.foreach { case (cn, sql) =>
        require(ref.findFirstIn(sql).isEmpty,
          s"cannot $verb $name: CHECK constraint $cn references it ($sql)")
      }
    }
    val updated = changes.foldLeft(LakeTable.tableSchema(spark, p, base)) {
      case (_, add: TableChange.AddColumn) if add.defaultValue() != null =>
        throw new UnsupportedOperationException(
          "ADD COLUMN with DEFAULT is not metadata-only here: existing rows " +
            "read the new column as NULL, not the default — add the column, " +
            "then ALTER COLUMN ... SET DEFAULT for future inserts")
      case (sch, add: TableChange.AddColumn) if add.fieldNames.length == 1 =>
        require(!sch.fieldNames.contains(add.fieldNames()(0)),
          s"column ${add.fieldNames()(0)} already exists")
        sch.add(add.fieldNames()(0), add.dataType(), nullable = true)
      case (sch, upd: TableChange.UpdateColumnDefaultValue) if upd.fieldNames.length == 1 =>
        // SET/DROP DEFAULT: metadata-only, affects FUTURE inserts
        // (the standard CURRENT_DEFAULT semantic — stored rows keep
        // their values)
        val name = upd.fieldNames()(0)
        require(sch.fieldNames.contains(name),
          s"no column $name in ${sch.fieldNames.mkString(",")}")
        org.apache.spark.sql.types.StructType(sch.fields.map { f =>
          if (f.name != name) f
          else {
            val b = new org.apache.spark.sql.types.MetadataBuilder()
              .withMetadata(f.metadata)
            val v = upd.newDefaultValue()
            if (v == null || v.isEmpty)
              f.copy(metadata = b.remove("CURRENT_DEFAULT").build())
            else f.copy(metadata = b.putString("CURRENT_DEFAULT", v).build())
          }
        })
      case (sch, ren: TableChange.RenameColumn) if ren.fieldNames.length == 1 =>
        // metadata-only column rename (B58): records the mapping; the
        // read path renames old-physical-name groups at scan assembly
        val (o, n) = (ren.fieldNames()(0), ren.newName())
        require(sch.fieldNames.contains(o), s"no column $o in ${sch.fieldNames.mkString(",")}")
        require(!sch.fieldNames.contains(n), s"column $n already exists")
        refGuard("rename", o)
        recs += LakeTable.RenameRec(o, n, 0L)
        parts = parts.map(c => if (c == o) n else c)
        sortBy = sortBy.map(c => if (c == o) n else c)
        org.apache.spark.sql.types.StructType(sch.fields.map(f =>
          if (f.name == o) f.copy(name = n) else f))
      case (sch, del: TableChange.DeleteColumn) if del.fieldNames.length == 1 =>
        // metadata-only column drop (B59): tombstone mapping on the
        // same chain; scan assembly projects the column away
        val name = del.fieldNames()(0)
        require(sch.fieldNames.contains(name),
          s"no column $name in ${sch.fieldNames.mkString(",")}")
        require(sch.fields.length > 1, s"cannot drop the only column $name")
        require(!parts.contains(name),
          s"cannot drop partition column $name (change the partition spec first)")
        require(!sortBy.contains(name),
          s"cannot drop sort column $name (clear write.sort.by first)")
        refGuard("drop", name)
        recs += LakeTable.RenameRec(name,
          LakeTable.DroppedPrefix + java.util.UUID.randomUUID.toString.take(8), 0L)
        org.apache.spark.sql.types.StructType(
          sch.fields.filterNot(_.name == name))
      case (sch, upd: TableChange.UpdateColumnType) if upd.fieldNames.length == 1 =>
        // metadata-only LOSSLESS type widening (B61): pre-change
        // groups cast at scan assembly; narrowing rejects
        val name = upd.fieldNames()(0)
        require(sch.fieldNames.contains(name),
          s"no column $name in ${sch.fieldNames.mkString(",")}")
        require(!parts.contains(name),
          s"cannot change the type of partition column $name")
        require(LakeTable.losslessWidening(sch(name).dataType, upd.newDataType()),
          s"${sch(name).dataType} -> ${upd.newDataType()} is not a lossless widening for $name")
        recs += LakeTable.WidenRec(name, upd.newDataType().catalogString, 0L)
        org.apache.spark.sql.types.StructType(sch.fields.map(f =>
          if (f.name == name) f.copy(dataType = upd.newDataType()) else f))
      case (sch, cmt: TableChange.UpdateColumnComment) if cmt.fieldNames.length == 1 =>
        // column comments: metadata-only, carried by the meta schema
        val name = cmt.fieldNames()(0)
        require(sch.fieldNames.contains(name),
          s"no column $name in ${sch.fieldNames.mkString(",")}")
        org.apache.spark.sql.types.StructType(sch.fields.map(f =>
          if (f.name == name) f.withComment(cmt.newComment()) else f))
      case (_, other) => throw new UnsupportedOperationException(
        s"only ADD COLUMNS / RENAME COLUMN / DROP COLUMN / widening ALTER COLUMN TYPE / SET-DROP DEFAULT / COMMENT are metadata-only changes; got $other")
    }
    // The fold's OWN parts/sortBy (renamed clause by clause) publish —
    // never a re-derivation from disk, which would mis-follow chained
    // renames (a→b→c in one or across statements).
    LakeTable.alterColumnsAtomic(spark, p, recs.result(), updated, parts, sortBy, base)
    new GraftTable(p, None, Some(updated), LakeTable.head(spark, p))
  }

  override def dropTable(ident: Identifier): Boolean = {
    requireModify(ident)
    if (store.viewExists(spark, nsOf(ident), ident.name()))
      return store.dropView(spark, nsOf(ident), ident.name())
    store.tableLocation(spark, nsOf(ident), ident.name()) match {
      case None => false
      case Some(loc) =>
        store.unregisterTable(spark, nsOf(ident), ident.name())
        LakeTable.invalidateSchemaCache(spark, loc)
        val p = new Path(loc)
        !fs(p).exists(p) || fs(p).delete(p, true)
    }
  }

  // ---- procedures (CALL graft_cat.system.<proc>, B44) -------------

  override def loadProcedure(ident: Identifier): org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure =
    GraftProcedures.load(store, ident)

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      GraftProcedures.names.map(n => Identifier.of(Array("system"), n))
    else Array.empty

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    // `RENAME TO catalog.db.t2` arrives with the catalog prefix still
    // inside the identifier's namespace (Spark parses the new name
    // verbatim); strip it, as Iceberg's catalog does.
    val to =
      if (newIdent.namespace().length > 1 && newIdent.namespace()(0) == catalogName)
        Identifier.of(newIdent.namespace().drop(1), newIdent.name())
      else newIdent
    requireModify(oldIdent); requireModify(to)
    if (!tableExists(oldIdent)) throw new NoSuchTableException(oldIdent)
    if (tableExists(to)) throw new TableAlreadyExistsException(to)
    store.renameTable(spark, nsOf(oldIdent), oldIdent.name(),
      nsOf(to), to.name())
  }
}
