package graft.sources

import java.util.Collections

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.hive.conf.HiveConf
import org.apache.hadoop.hive.metastore.RawStore
import org.apache.hadoop.hive.metastore.api.{Database, FieldSchema, MetaException, NoSuchObjectException, Partition, PrincipalType, Role, SerDeInfo, StorageDescriptor, Table, TableMeta}
import org.apache.spark.sql.SparkSession

/** Hive Metastore THRIFT facade over the graft catalog — the
  * reference's catalog interop wire (SURVEY §7.5.1): external engines
  * resolve the reference's tables via `hive.metastore.uris =
  * thrift://…` (reference internal/controller/kyuubi.go:41;
  * internal/controller/metastore.go provisions the DB-backed HMS this
  * stands in for). Rather than running Hive's ObjectStore over its own
  * RDBMS schema, the stock HMS Thrift SERVER (`HiveMetaStore.
  * startMetaStore`, bundled with the Spark distribution) is pointed at
  * a custom `RawStore` ([[GraftRawStore]]) backed directly by
  * [[CatalogStore]] — so the SAME registry graft's own catalog serves
  * (filesystem-implied or shared-JDBC, C25) is what HMS clients see,
  * with zero double bookkeeping:
  *
  *   - databases ↔ graft namespaces;
  *   - tables surface with their real location, columns and partition
  *     keys, marked `spark.sql.sources.provider=graft` with Spark's
  *     placeholder SequenceFile I/O classes — the HiveExternalCatalog
  *     datasource-table convention, telling engines to route reads
  *     through the connector instead of raw-scanning the directory
  *     (a graft dir holds the FULL version history; only the commit
  *     log says which files are live);
  *   - views surface as VIRTUAL_VIEW with their SQL text;
  *   - partitions enumerate from the current snapshot's leaf dirs
  *     (values are authoritative; per-partition SD locations point at
  *     the first holding group and are advisory for the same reason
  *     as above);
  *   - wire-side DDL (create_database, create_table of an external
  *     graft table, drop_table) lands in the shared registry and is
  *     immediately visible to graft's own catalog — and vice versa.
  *
  * Column statistics flow BOTH ways: reads aggregate the stats
  * sidecars + stored ANALYZE results (see getTableColumnStatistics's
  * honesty rules), and an external engine's ANALYZE writes back via
  * update/delete_table_column_statistics into the same store graft's
  * own ANALYZE (B65) fills. Remaining unsupported surface (partition
  * stats write-back, Hive ACID/txn APIs, indexes, delegation tokens)
  * throws MetaException naming the facade, never silently misleads.
  * The reference deployment maps `metastore.thrift://` here exactly
  * as SURVEY §7.5.1 documents.
  */
object GraftHmsFacade {

  @volatile private[sources] var wiring: Option[(SparkSession, CatalogStore)] = None
  @volatile private var started = false

  /** Partition names an HMS client "dropped" for a table — partitions
    * here are snapshot-implied (no registry rows), so a drop is a
    * VISIBILITY mark, kept so the handler's drop_table pagination
    * (getPartitions → dropPartitions until empty) converges. Shared
    * across the server's per-thread RawStore instances; cleared when
    * the table name is re-registered or unregistered.
    */
  private[sources] val droppedParts =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Start the facade on `port` over the registry at `root` —
    * filesystem-implied by default, the shared-JDBC store when
    * `jdbcUrl` is given (the multi-host deployment shape). Idempotent;
    * the server runs as a daemon thread for the JVM's lifetime (the
    * stock HMS has no stop API).
    */
  def start(spark: SparkSession, port: Int, root: String,
      jdbcUrl: Option[String] = None, jdbcUser: Option[String] = None,
      jdbcPassword: Option[String] = None): Unit = synchronized {
    if (started) return
    val store: CatalogStore = jdbcUrl match {
      case Some(u) => new JdbcCatalogStore(root, u, jdbcUser, jdbcPassword)
      case None => new FsCatalogStore(root)
    }
    wiring = Some((spark, store))
    val conf = new HiveConf()
    conf.set("hive.metastore.rawstore.impl", classOf[GraftRawStore].getName)
    conf.set("hive.metastore.schema.verification", "false")
    conf.set("hive.metastore.warehouse.dir", root)
    conf.set("hive.metastore.event.listeners", "")
    conf.set("datanucleus.schema.autoCreateAll", "false")
    val t = new Thread(() => {
      try org.apache.hadoop.hive.metastore.HiveMetaStore.startMetaStore(
        port, org.apache.hadoop.hive.shims.ShimLoader.getHadoopThriftAuthBridge, conf)
      catch { case e: Throwable =>
        org.slf4j.LoggerFactory.getLogger(getClass).error("HMS facade died", e)
      }
    }, "graft-hms-facade")
    t.setDaemon(true)
    t.start()
    // readiness: the thrift socket accepting connections
    val deadline = System.currentTimeMillis() + 30000
    var up = false
    while (!up && System.currentTimeMillis() < deadline) {
      try {
        val s = new java.net.Socket("localhost", port)
        s.close(); up = true
      } catch { case _: java.io.IOException => Thread.sleep(200) }
    }
    if (!up) throw new IllegalStateException(s"HMS facade did not bind port $port")
    started = true
  }
}

/** The RawStore implementation the stock HMS server instantiates
  * reflectively (`hive.metastore.rawstore.impl`); every method reads
  * or writes [[GraftHmsFacade.wiring]]'s CatalogStore.
  */
final class GraftRawStore extends RawStore {

  private def io[A](f: (SparkSession, CatalogStore) => A): A =
    GraftHmsFacade.wiring match {
      case Some((s, st)) => f(s, st)
      case None => throw new MetaException("graft HMS facade is not started")
    }

  private def unsupported(m: String): Nothing =
    throw new MetaException(
      s"$m is not supported by the graft HMS facade (catalog interop surface only)")

  /** Hive metastore patterns: '*' wildcards, '|' alternation. */
  private def matches(pattern: String, name: String): Boolean =
    pattern == null || pattern.isEmpty || pattern == "*" ||
      pattern.split('|').exists { p =>
        java.util.regex.Pattern.matches(
          p.trim.split("\\*", -1).map(java.util.regex.Pattern.quote).mkString(".*"), name)
      }

  private def hiveType(dt: org.apache.spark.sql.types.DataType): String = dt match {
    case org.apache.spark.sql.types.TimestampNTZType => "timestamp"
    case t => t.catalogString
  }

  private def colsOf(schema: org.apache.spark.sql.types.StructType,
      partCols: Seq[String]): (java.util.List[FieldSchema], java.util.List[FieldSchema]) = {
    val (parts, data) = schema.fields.partition(f => partCols.contains(f.name))
    def fs(f: org.apache.spark.sql.types.StructField) =
      new FieldSchema(f.name, hiveType(f.dataType), f.getComment().orNull)
    (data.map(fs).toList.asJava,
      partCols.flatMap(c => parts.find(_.name == c)).map(fs).toList.asJava)
  }

  /** Spark's HiveExternalCatalog placeholder convention for datasource
    * tables: engines must route through the provider, not the raw SD.
    */
  private def placeholderSd(cols: java.util.List[FieldSchema], location: String)
      : StorageDescriptor = {
    val serde = new SerDeInfo("graft",
      "org.apache.hadoop.hive.serde2.lazy.LazySimpleSerDe",
      Collections.emptyMap[String, String]())
    new StorageDescriptor(cols, location,
      "org.apache.hadoop.mapred.SequenceFileInputFormat",
      "org.apache.hadoop.hive.ql.io.HiveSequenceFileOutputFormat",
      false, -1, serde, Collections.emptyList[String](),
      Collections.emptyList[org.apache.hadoop.hive.metastore.api.Order](),
      new java.util.HashMap[String, String]())
  }

  private def nowSecs: Int = (System.currentTimeMillis() / 1000L).toInt

  // ---- lifecycle / conf -------------------------------------------

  private var conf: Configuration = _
  override def setConf(c: Configuration): Unit = { conf = c }
  override def getConf(): Configuration = conf
  override def shutdown(): Unit = ()
  override def verifySchema(): Unit = ()
  override def getMetaStoreSchemaVersion(): String = "graft-facade"
  override def setMetaStoreSchemaVersion(a0: String, a1: String): Unit = ()
  override def flushCache(): Unit = ()

  // The registry's own operations are individually atomic (DB primary
  // keys / filesystem dirs) — the handler's transaction bracketing is
  // satisfied with no-op success.
  override def openTransaction(): Boolean = true
  override def openTransaction(a0: String): Boolean = true
  override def commitTransaction(): Boolean = true
  override def isActiveTransaction(): Boolean = false
  override def rollbackTransaction(): Unit = ()

  // ---- databases ↔ namespaces -------------------------------------

  override def createDatabase(db: Database): Unit = io { (s, st) =>
    st.createNamespace(s, db.getName)
  }

  override def getDatabase(name: String): Database = io { (s, st) =>
    if (!st.namespaceExists(s, name))
      throw new NoSuchObjectException(s"namespace $name")
    new Database(name, "graft namespace",
      (st.root +: name.split('.').toSeq).mkString("/"),
      Collections.emptyMap[String, String]())
  }

  override def dropDatabase(name: String): Boolean = io { (s, st) =>
    st.dropNamespace(s, name)
  }

  override def getDatabases(pattern: String): java.util.List[String] = io { (s, st) =>
    st.listNamespaces(s).filter(matches(pattern, _)).sorted.toList.asJava
  }

  override def getAllDatabases(): java.util.List[String] = getDatabases(null)

  // ---- tables ------------------------------------------------------

  override def createTable(tbl: Table): Unit = io { (s, st) =>
    if (tbl.getTableType == "VIRTUAL_VIEW") {
      val schema = org.apache.spark.sql.types.StructType(
        tbl.getSd.getCols.asScala.map(f =>
          org.apache.spark.sql.types.StructField(f.getName,
            org.apache.spark.sql.catalyst.parser.CatalystSqlParser
              .parseDataType(f.getType))).toArray)
      st.saveView(s, tbl.getDbName, tbl.getTableName, tbl.getViewOriginalText, schema)
    } else {
      val loc = Option(tbl.getSd).flatMap(sd => Option(sd.getLocation))
        .getOrElse(st.defaultLocation(tbl.getDbName, tbl.getTableName))
      st.registerTable(s, tbl.getDbName, tbl.getTableName, loc)
      clearPartMarks(tbl.getDbName, tbl.getTableName)
    }
  }

  private def clearPartMarks(db: String, tbl: String): Unit =
    GraftHmsFacade.droppedParts.removeIf(_.startsWith(db + "\u0000" + tbl + "\u0000"))

  /** Drops the NAME only — an HMS client must never delete graft data
    * (the commit log, not the registry, owns the files).
    */
  override def dropTable(db: String, name: String): Boolean = io { (s, st) =>
    clearPartMarks(db, name)
    if (st.viewExists(s, db, name)) st.dropView(s, db, name)
    else st.unregisterTable(s, db, name)
  }

  override def getTable(db: String, name: String): Table = io { (s, st) =>
    if (st.viewExists(s, db, name)) {
      val (sql, schema) = st.loadView(s, db, name)
      val cols = schema.fields.map(f =>
        new FieldSchema(f.name, hiveType(f.dataType), null)).toList.asJava
      val t = new Table(name, db, "graft", nowSecs, 0, 0,
        placeholderSd(cols, null), Collections.emptyList[FieldSchema](),
        new java.util.HashMap[String, String](), sql, sql, "VIRTUAL_VIEW")
      t
    } else st.tableLocation(s, db, name) match {
      case None => null // handler translates to NoSuchObjectException
      case Some(loc) =>
        val table = LakeTable.state(s, loc)
        val v = table.version
        val (cols, partKeys) =
          colsOf(LakeTable.tableSchema(s, loc, table), table.meta.partitionBy)
        val params = new java.util.HashMap[String, String]()
        params.put("spark.sql.sources.provider", "graft")
        params.put("EXTERNAL", "TRUE")
        params.put("graft.version", v.toString)
        new Table(name, db, "graft", nowSecs, 0, 0,
          placeholderSd(cols, loc), partKeys, params, null, null, "EXTERNAL_TABLE")
    }
  }

  override def getTables(db: String, pattern: String): java.util.List[String] =
    io { (s, st) =>
      (st.listTables(s, db) ++ st.listViews(s, db))
        .filter(matches(pattern, _)).sorted.toList.asJava
    }

  override def getTables(db: String, pattern: String,
      tt: org.apache.hadoop.hive.metastore.TableType): java.util.List[String] =
    io { (s, st) =>
      val names =
        if (tt == org.apache.hadoop.hive.metastore.TableType.VIRTUAL_VIEW)
          st.listViews(s, db)
        else st.listTables(s, db)
      names.filter(matches(pattern, _)).sorted.toList.asJava
    }

  override def getAllTables(db: String): java.util.List[String] = getTables(db, null)

  override def getTableMeta(dbPat: String, tblPat: String,
      types: java.util.List[String]): java.util.List[TableMeta] = io { (s, st) =>
    st.listNamespaces(s).filter(matches(dbPat, _)).flatMap { db =>
      val ts = st.listTables(s, db).filter(matches(tblPat, _))
        .map(t => new TableMeta(db, t, "EXTERNAL_TABLE"))
      val vs = st.listViews(s, db).filter(matches(tblPat, _))
        .map(v => new TableMeta(db, v, "VIRTUAL_VIEW"))
      (ts ++ vs).filter(m =>
        types == null || types.isEmpty || types.contains(m.getTableType))
    }.toList.asJava
  }

  override def getTableObjectsByName(db: String,
      names: java.util.List[String]): java.util.List[Table] =
    names.asScala.flatMap(n => Option(getTable(db, n))).toList.asJava

  /** RENAME lands in the registry; everything else (schema, layout) is
    * graft-DDL-owned and ignored here — the facade serves state, it
    * does not fork it.
    */
  override def alterTable(db: String, name: String, t: Table): Unit = io { (s, st) =>
    if (t.getDbName != db || t.getTableName != name)
      st.renameTable(s, db, name, t.getDbName, t.getTableName)
  }

  // ---- partitions (read-only, from the current snapshot) ----------

  /** (location, partition columns, visible leaves, the state read). */
  private def leaves(s: SparkSession, st: CatalogStore, db: String, tbl: String)
      : (String, Seq[String], Seq[(Seq[Option[String]], org.apache.hadoop.fs.Path)],
        LakeTable.State) = {
    val loc = st.tableLocation(s, db, tbl)
      .getOrElse(throw new NoSuchObjectException(s"$db.$tbl"))
    val table = LakeTable.head(s, loc).getOrElse(throw new NoSuchObjectException(s"$db.$tbl"))
    val partCols = table.meta.partitionBy
    if (partCols.isEmpty) return (loc, Nil, Nil, table)
    val dirs = table.commit.dirs.map(d => new org.apache.hadoop.fs.Path(loc, d).toString)
    val all = LakeTable.partitionLeaves(s, dirs, partCols)
    (loc, partCols,
      all.filterNot(l => GraftHmsFacade.droppedParts.contains(
        partKey(s, db, tbl, loc, partName(partCols, l._1)))), table)
  }

  /** Visibility-mark key, scoped to the table's LOCATION and commit-log
    * GENERATION (creation time of the table's first commit file) — not
    * just its name. A drop + re-create under the same name through
    * graft's own engine catalog (where the facade's createTable/
    * dropTable clear hooks never run) restarts the commit log, so
    * marks taken against the old generation can never hide same-named
    * partitions of the new table. The db/tbl prefix is kept so the
    * name-scoped best-effort clears still match.
    */
  private def partKey(s: SparkSession, db: String, tbl: String, loc: String,
      name: String): String =
    db + "\u0000" + tbl + "\u0000" + loc + "\u0000" + genStamp(s, loc) + "\u0000" + name

  /** Generation stamp: mtime of `<loc>/_graft_log/v00000.json` (the
    * file every create writes fresh); 0 when unreadable.
    */
  private def genStamp(s: SparkSession, loc: String): Long =
    try {
      val p = new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(loc, "_graft_log"), "v00000.json")
      p.getFileSystem(s.sparkContext.hadoopConfiguration)
        .getFileStatus(p).getModificationTime
    } catch { case _: java.io.IOException => 0L }

  private def partName(cols: Seq[String], values: Seq[Option[String]]): String =
    cols.zip(values).map { case (c, v) =>
      c + "=" + v.map(org.apache.spark.sql.graftglue.Glue.escapePathName)
        .getOrElse("__HIVE_DEFAULT_PARTITION__")
    }.mkString("/")

  override def listPartitionNames(db: String, tbl: String,
      max: Short): java.util.List[String] = io { (s, st) =>
    val (_, cols, ls, _) = leaves(s, st, db, tbl)
    val names = ls.map(_._1).distinct.map(partName(cols, _)).sorted
    (if (max >= 0) names.take(max.toInt) else names).toList.asJava
  }

  private def mkPartition(db: String, tbl: String, cols: Seq[String],
      values: Seq[Option[String]], dir: org.apache.hadoop.fs.Path): Partition =
    new Partition(
      values.map(_.getOrElse("__HIVE_DEFAULT_PARTITION__")).toList.asJava,
      db, tbl, nowSecs, 0,
      placeholderSd(Collections.emptyList[FieldSchema](), dir.toString),
      new java.util.HashMap[String, String]())

  override def getPartitions(db: String, tbl: String,
      max: Int): java.util.List[Partition] = io { (s, st) =>
    val (_, cols, ls, _) = leaves(s, st, db, tbl)
    val distinct = ls.groupBy(_._1).map { case (vs, group) => (vs, group.head._2) }
      .toSeq.sortBy(p => partName(cols, p._1))
    val lim = if (max >= 0) distinct.take(max) else distinct
    lim.map { case (vs, dir) => mkPartition(db, tbl, cols, vs, dir) }.toList.asJava
  }

  override def getPartition(db: String, tbl: String,
      vals: java.util.List[String]): Partition = io { (s, st) =>
    val (_, cols, ls, _) = leaves(s, st, db, tbl)
    val want = vals.asScala.toSeq
    ls.find(_._1.map(_.getOrElse("__HIVE_DEFAULT_PARTITION__")) == want)
      .map { case (vs, dir) => mkPartition(db, tbl, cols, vs, dir) }
      .getOrElse(throw new NoSuchObjectException(
        s"partition ${want.mkString("/")} of $db.$tbl"))
  }

  override def getPartitionsByNames(db: String, tbl: String,
      names: java.util.List[String]): java.util.List[Partition] = io { (s, st) =>
    val (_, cols, ls, _) = leaves(s, st, db, tbl)
    val byName = ls.groupBy(p => partName(cols, p._1))
    names.asScala.flatMap(n => byName.get(n).map(g =>
      mkPartition(db, tbl, cols, g.head._1, g.head._2))).toList.asJava
  }

  override def doesPartitionExist(db: String, tbl: String,
      vals: java.util.List[String]): Boolean =
    try { getPartition(db, tbl, vals); true }
    catch { case _: NoSuchObjectException => false }

  // ---- server-side partition filtering -----------------------------
  //
  // The ObjectStore pushes Hive's partition-filter grammar into JDO/
  // SQL over its partition rows; the facade's partitions are
  // snapshot-implied (no rows), so the SAME parsed ExpressionTree is
  // evaluated directly over the enumerated leaves — an external
  // engine's `get_partitions_by_filter` prunes server-side instead of
  // listing every partition and filtering client-side.

  import org.apache.hadoop.hive.metastore.parser.{ExpressionTree => HET}

  /** Leaves surviving `filter` (Hive partition-filter grammar; null/
    * empty = all). Unknown keys throw MetaException like the stock
    * store; numeric-typed partition columns compare numerically via
    * BigDecimal (the grammar yields Long literals), strings
    * lexicographically; a NULL partition never satisfies a comparison
    * (SQL semantics).
    */
  private def filteredLeaves(s: SparkSession, st: CatalogStore, db: String,
      tbl: String, filter: String)
      : (Seq[String], Seq[(Seq[Option[String]], org.apache.hadoop.fs.Path)]) = {
    val (loc, cols, ls, table) = leaves(s, st, db, tbl)
    if (filter == null || filter.trim.isEmpty) return (cols, ls)
    val tree = org.apache.hadoop.hive.metastore.PartFilterExprUtil
      .getFilterParser(filter).tree
    val schema = LakeTable.tableSchema(s, loc, table)
    val numeric = cols.filter(c => schema.fields.exists(f =>
      f.name.equalsIgnoreCase(c) && (f.dataType match {
        case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType |
             org.apache.spark.sql.types.FloatType | org.apache.spark.sql.types.DoubleType => true
        case _: org.apache.spark.sql.types.DecimalType => true
        case _ => false
      }))).map(_.toLowerCase).toSet
    val root = Option(tree).map(_.getRoot).orNull
    if (root == null) return (cols, ls)
    (cols, ls.filter(l => evalFilterNode(root, cols, numeric, l._1)))
  }

  private def evalFilterNode(n: HET.TreeNode, cols: Seq[String],
      numeric: Set[String], values: Seq[Option[String]]): Boolean = n match {
    case leaf: HET.LeafNode =>
      val idx = cols.indexWhere(_.equalsIgnoreCase(leaf.keyName))
      if (idx < 0)
        throw new MetaException(
          s"${leaf.keyName} is not a partitioning key of this table")
      values(idx) match {
        case None => false // NULL partition: comparisons never match
        case Some(pv) =>
          import HET.{Operator => Op}
          if (leaf.operator == Op.LIKE) {
            // SQL LIKE → regex: quote literals, % → .*, _ → .
            val pat = leaf.value.toString.flatMap {
              case '%' => ".*"
              case '_' => "."
              case c => java.util.regex.Pattern.quote(c.toString)
            }
            return pv.matches(pat)
          }
          // cmp = compare(partitionValue, literal); None = incomparable
          val cmp: Option[Int] = leaf.value match {
            case num: Number if numeric(leaf.keyName.toLowerCase) =>
              try Some(new java.math.BigDecimal(pv)
                .compareTo(new java.math.BigDecimal(num.toString)))
              catch { case _: NumberFormatException => None }
            case other => Some(pv.compareTo(other.toString))
          }
          cmp match {
            case None => false
            case Some(c0) =>
              // isReverseOrder = the filter wrote `literal op key`
              val c = if (leaf.isReverseOrder) -c0 else c0
              leaf.operator match {
                case Op.EQUALS => c == 0
                case Op.NOTEQUALS | Op.NOTEQUALS2 => c != 0
                case Op.GREATERTHAN => c > 0
                case Op.GREATERTHANOREQUALTO => c >= 0
                case Op.LESSTHAN => c < 0
                case Op.LESSTHANOREQUALTO => c <= 0
                case other =>
                  throw new MetaException(s"unsupported filter operator $other")
              }
          }
      }
    case t =>
      val lhs = evalFilterNode(t.getLhs, cols, numeric, values)
      t.getAndOr match {
        case HET.LogicalOperator.AND =>
          lhs && evalFilterNode(t.getRhs, cols, numeric, values)
        case HET.LogicalOperator.OR =>
          lhs || evalFilterNode(t.getRhs, cols, numeric, values)
      }
  }

  // ---- server bring-up surface (roles / functions / events) -------
  // The handler's init creates default roles and grants; the facade
  // has no role store (authorization lives in GraftAuthz at the
  // engine), so these succeed benignly.

  override def addRole(name: String, owner: String): Boolean = true
  override def grantRole(r: Role, p: String, pt: PrincipalType,
      grantor: String, gt: PrincipalType, opt: Boolean): Boolean = true
  override def grantPrivileges(
      bag: org.apache.hadoop.hive.metastore.api.PrivilegeBag): Boolean = true
  override def getRole(name: String): Role = new Role(name, 0, "graft")
  override def listRoleNames(): java.util.List[String] =
    Seq("admin", "public").asJava
  override def getAllFunctions()
      : java.util.List[org.apache.hadoop.hive.metastore.api.Function] =
    Collections.emptyList()
  override def getFunctions(db: String, pattern: String): java.util.List[String] =
    Collections.emptyList()
  override def getCurrentNotificationEventId()
      : org.apache.hadoop.hive.metastore.api.CurrentNotificationEventId =
    new org.apache.hadoop.hive.metastore.api.CurrentNotificationEventId(0L)

  // ---- everything else: loudly unsupported ------------------------

  override def alterDatabase(a0: String, a1: org.apache.hadoop.hive.metastore.api.Database): Boolean = unsupported("alterDatabase")
  override def createType(a0: org.apache.hadoop.hive.metastore.api.Type): Boolean = unsupported("createType")
  override def getType(a0: String): org.apache.hadoop.hive.metastore.api.Type = unsupported("getType")
  override def dropType(a0: String): Boolean = unsupported("dropType")
  override def addPartition(a0: org.apache.hadoop.hive.metastore.api.Partition): Boolean = unsupported("addPartition")
  override def addPartitions(a0: String, a1: String, a2: java.util.List[org.apache.hadoop.hive.metastore.api.Partition]): Boolean = unsupported("addPartitions")
  override def addPartitions(a0: String, a1: String, a2: org.apache.hadoop.hive.metastore.partition.spec.PartitionSpecProxy, a3: Boolean): Boolean = unsupported("addPartitions")
  override def dropPartition(a0: String, a1: String, a2: java.util.List[String]): Boolean = unsupported("dropPartition")
  override def listTableNamesByFilter(a0: String, a1: String, a2: Short): java.util.List[String] = unsupported("listTableNamesByFilter")
  override def listPartitionValues(a0: String, a1: String, a2: java.util.List[org.apache.hadoop.hive.metastore.api.FieldSchema], a3: Boolean, a4: String, a5: Boolean, a6: java.util.List[org.apache.hadoop.hive.metastore.api.FieldSchema], a7: Long): org.apache.hadoop.hive.metastore.api.PartitionValuesResponse = unsupported("listPartitionValues")
  override def listPartitionNamesByFilter(db: String, tbl: String, filter: String,
      max: Short): java.util.List[String] = io { (s, st) =>
    val (cols, ls) = filteredLeaves(s, st, db, tbl, filter)
    val names = ls.map(_._1).distinct.map(partName(cols, _)).sorted
    (if (max >= 0) names.take(max.toInt) else names).toList.asJava
  }
  override def alterPartition(a0: String, a1: String, a2: java.util.List[String], a3: org.apache.hadoop.hive.metastore.api.Partition): Unit = unsupported("alterPartition")
  override def alterPartitions(a0: String, a1: String, a2: java.util.List[java.util.List[String]], a3: java.util.List[org.apache.hadoop.hive.metastore.api.Partition]): Unit = unsupported("alterPartitions")
  override def addIndex(a0: org.apache.hadoop.hive.metastore.api.Index): Boolean = unsupported("addIndex")
  override def getIndex(a0: String, a1: String, a2: String): org.apache.hadoop.hive.metastore.api.Index = null
  override def dropIndex(a0: String, a1: String, a2: String): Boolean = unsupported("dropIndex")
  // the drop_table handler enumerates index tables to cascade — none exist
  override def getIndexes(a0: String, a1: String, a2: Int): java.util.List[org.apache.hadoop.hive.metastore.api.Index] = Collections.emptyList()
  override def listIndexNames(a0: String, a1: String, a2: Short): java.util.List[String] = Collections.emptyList()
  override def alterIndex(a0: String, a1: String, a2: String, a3: org.apache.hadoop.hive.metastore.api.Index): Unit = unsupported("alterIndex")
  override def getPartitionsByFilter(db: String, tbl: String, filter: String,
      max: Short): java.util.List[Partition] = io { (s, st) =>
    val (cols, ls) = filteredLeaves(s, st, db, tbl, filter)
    val distinct = ls.groupBy(_._1).map { case (vs, g) => (vs, g.head._2) }
      .toSeq.sortBy(p => partName(cols, p._1))
    val lim = if (max >= 0) distinct.take(max.toInt) else distinct
    lim.map { case (vs, dir) => mkPartition(db, tbl, cols, vs, dir) }.toList.asJava
  }

  /** Kryo-serialized expression pushdown (Hive/Spark clients): the
    * configured PartitionExpressionProxy converts the expr back to
    * the filter grammar and the exact evaluator prunes; an expr the
    * proxy cannot express falls back to ALL partitions with
    * hasUnknownPartitions = true — the client re-filters, correctness
    * preserved either way.
    */
  override def getPartitionsByExpr(db: String, tbl: String, expr: Array[Byte],
      defaultPartName: String, max: Short,
      result: java.util.List[Partition]): Boolean = {
    val filter =
      try Option(GraftRawStore.exprProxy.convertExprToFilter(expr)).filter(_.nonEmpty)
      catch { case _: Exception => None }
    filter match {
      case Some(f) => result.addAll(getPartitionsByFilter(db, tbl, f, max)); false
      case None => result.addAll(getPartitions(db, tbl, max.toInt)); true
    }
  }

  override def getNumPartitionsByFilter(db: String, tbl: String,
      filter: String): Int = io { (s, st) =>
    filteredLeaves(s, st, db, tbl, filter)._2.map(_._1).distinct.size
  }

  override def getNumPartitionsByExpr(db: String, tbl: String,
      expr: Array[Byte]): Int = {
    val out = new java.util.ArrayList[Partition]()
    getPartitionsByExpr(db, tbl, expr, null, -1, out)
    out.size()
  }
  override def markPartitionForEvent(a0: String, a1: String, a2: java.util.Map[String, String], a3: org.apache.hadoop.hive.metastore.api.PartitionEventType): org.apache.hadoop.hive.metastore.api.Table = unsupported("markPartitionForEvent")
  override def isPartitionMarkedForEvent(a0: String, a1: String, a2: java.util.Map[String, String], a3: org.apache.hadoop.hive.metastore.api.PartitionEventType): Boolean = unsupported("isPartitionMarkedForEvent")
  override def removeRole(a0: String): Boolean = unsupported("removeRole")
  override def revokeRole(a0: org.apache.hadoop.hive.metastore.api.Role, a1: String, a2: org.apache.hadoop.hive.metastore.api.PrincipalType, a3: Boolean): Boolean = unsupported("revokeRole")
  override def getUserPrivilegeSet(a0: String, a1: java.util.List[String]): org.apache.hadoop.hive.metastore.api.PrincipalPrivilegeSet = unsupported("getUserPrivilegeSet")
  override def getDBPrivilegeSet(a0: String, a1: String, a2: java.util.List[String]): org.apache.hadoop.hive.metastore.api.PrincipalPrivilegeSet = unsupported("getDBPrivilegeSet")
  override def getTablePrivilegeSet(a0: String, a1: String, a2: String, a3: java.util.List[String]): org.apache.hadoop.hive.metastore.api.PrincipalPrivilegeSet = unsupported("getTablePrivilegeSet")
  override def getPartitionPrivilegeSet(a0: String, a1: String, a2: String, a3: String, a4: java.util.List[String]): org.apache.hadoop.hive.metastore.api.PrincipalPrivilegeSet = unsupported("getPartitionPrivilegeSet")
  override def getColumnPrivilegeSet(a0: String, a1: String, a2: String, a3: String, a4: String, a5: java.util.List[String]): org.apache.hadoop.hive.metastore.api.PrincipalPrivilegeSet = unsupported("getColumnPrivilegeSet")
  override def listPrincipalGlobalGrants(a0: String, a1: org.apache.hadoop.hive.metastore.api.PrincipalType): java.util.List[org.apache.hadoop.hive.metastore.api.HiveObjectPrivilege] = unsupported("listPrincipalGlobalGrants")
  override def listPrincipalDBGrants(a0: String, a1: org.apache.hadoop.hive.metastore.api.PrincipalType, a2: String): java.util.List[org.apache.hadoop.hive.metastore.api.HiveObjectPrivilege] = unsupported("listPrincipalDBGrants")
  override def listAllTableGrants(a0: String, a1: org.apache.hadoop.hive.metastore.api.PrincipalType, a2: String, a3: String): java.util.List[org.apache.hadoop.hive.metastore.api.HiveObjectPrivilege] = unsupported("listAllTableGrants")
  override def listPrincipalPartitionGrants(a0: String, a1: org.apache.hadoop.hive.metastore.api.PrincipalType, a2: String, a3: String, a4: java.util.List[String], a5: String): java.util.List[org.apache.hadoop.hive.metastore.api.HiveObjectPrivilege] = unsupported("listPrincipalPartitionGrants")
  override def listPrincipalTableColumnGrants(a0: String, a1: org.apache.hadoop.hive.metastore.api.PrincipalType, a2: String, a3: String, a4: String): java.util.List[org.apache.hadoop.hive.metastore.api.HiveObjectPrivilege] = unsupported("listPrincipalTableColumnGrants")
  override def listPrincipalPartitionColumnGrants(a0: String, a1: org.apache.hadoop.hive.metastore.api.PrincipalType, a2: String, a3: String, a4: java.util.List[String], a5: String, a6: String): java.util.List[org.apache.hadoop.hive.metastore.api.HiveObjectPrivilege] = unsupported("listPrincipalPartitionColumnGrants")
  override def revokePrivileges(a0: org.apache.hadoop.hive.metastore.api.PrivilegeBag, a1: Boolean): Boolean = unsupported("revokePrivileges")
  override def listRoles(a0: String, a1: org.apache.hadoop.hive.metastore.api.PrincipalType): java.util.List[org.apache.hadoop.hive.metastore.api.Role] = unsupported("listRoles")
  override def listRolesWithGrants(a0: String, a1: org.apache.hadoop.hive.metastore.api.PrincipalType): java.util.List[org.apache.hadoop.hive.metastore.api.RolePrincipalGrant] = unsupported("listRolesWithGrants")
  override def listRoleMembers(a0: String): java.util.List[org.apache.hadoop.hive.metastore.api.RolePrincipalGrant] = unsupported("listRoleMembers")
  // The *WithAuth variants delegate: authorization is the engine's
  // (C24, keyed to the wire identity), not per-partition Hive grants.
  override def getPartitionWithAuth(db: String, tbl: String,
      vals: java.util.List[String], user: String,
      groups: java.util.List[String]): Partition = getPartition(db, tbl, vals)
  override def getPartitionsWithAuth(db: String, tbl: String, max: Short,
      user: String, groups: java.util.List[String]): java.util.List[Partition] =
    getPartitions(db, tbl, max.toInt)

  /** Partial-spec matcher (`SHOW PARTITIONS t PARTITION(region='eu')`):
    * `spec` aligns with the partition columns, empty/missing entries
    * are wildcards.
    */
  private def psMatches(spec: Seq[String], values: Seq[Option[String]]): Boolean =
    spec.zip(values).forall { case (want, v) =>
      want == null || want.isEmpty ||
        v.map(org.apache.spark.sql.graftglue.Glue.escapePathName)
          .getOrElse("__HIVE_DEFAULT_PARTITION__") == want ||
        v.contains(want) // unescaped client spec
    }

  override def listPartitionNamesPs(db: String, tbl: String,
      spec: java.util.List[String], max: Short): java.util.List[String] =
    io { (s, st) =>
      val (_, cols, ls, _) = leaves(s, st, db, tbl)
      val want = spec.asScala.toSeq
      val names = ls.map(_._1).distinct.filter(psMatches(want, _))
        .map(partName(cols, _)).sorted
      (if (max >= 0) names.take(max.toInt) else names).toList.asJava
    }

  override def listPartitionsPsWithAuth(db: String, tbl: String,
      spec: java.util.List[String], max: Short, user: String,
      groups: java.util.List[String]): java.util.List[Partition] =
    io { (s, st) =>
      val (_, cols, ls, _) = leaves(s, st, db, tbl)
      val want = spec.asScala.toSeq
      val distinct = ls.filter(l => psMatches(want, l._1))
        .groupBy(_._1).map { case (vs, g) => (vs, g.head._2) }
        .toSeq.sortBy(p => partName(cols, p._1))
      val lim = if (max >= 0) distinct.take(max.toInt) else distinct
      lim.map { case (vs, dir) => mkPartition(db, tbl, cols, vs, dir) }.toList.asJava
    }
  /** Stats WRITE-BACK (an external engine's `ANALYZE TABLE ... COMPUTE
    * STATISTICS FOR COLUMNS` lands here): NDV and string-length stats
    * are recorded into the SAME table-meta store graft's own ANALYZE
    * (B65) fills — so Hive/Trino-computed statistics round-trip
    * through [[getTableColumnStatistics]] and feed Spark's CBO
    * identically. What is NOT taken from the wire: null counts and
    * min/max bounds — those the facade serves footer-exact from the
    * stats sidecars, and a client's (possibly sampled) numbers must
    * not overwrite exact ones; NDV/lengths are estimates on both sides
    * (the documented honesty rule), so the freshest estimate wins.
    */
  /** The NDV-family records carried by a stats write-back, schema-cased
    * and version-stamped. Shared by the table- and partition-level
    * verbs: NDV (and string lengths) are taken from the wire — both
    * sides are estimates, freshest wins — while null counts / min-max
    * are NOT (the facade serves those footer-exact from the sidecars;
    * a client's possibly-sampled numbers must not overwrite exact ones).
    * Unknown columns are ignored (Hive stores them; graft has nowhere
    * sound to hang them).
    */
  private def decodeStatsObjs(s: SparkSession, loc: String,
      cs: org.apache.hadoop.hive.metastore.api.ColumnStatistics)
      : Map[String, LakeTable.ColumnNdv] = {
    val table = LakeTable.state(s, loc)
    val v = table.version
    val schema = LakeTable.tableSchema(s, loc, table)
    cs.getStatsObj.asScala.flatMap { o =>
      schema.fields.find(_.name.equalsIgnoreCase(o.getColName)).flatMap { f =>
        val d = o.getStatsData
        val rec: Option[LakeTable.ColumnNdv] =
          if (d.isSetLongStats)
            Some(LakeTable.ColumnNdv(d.getLongStats.getNumDVs, -1L, -1.0, v))
          else if (d.isSetDoubleStats)
            Some(LakeTable.ColumnNdv(d.getDoubleStats.getNumDVs, -1L, -1.0, v))
          else if (d.isSetStringStats) {
            val ss = d.getStringStats
            Some(LakeTable.ColumnNdv(ss.getNumDVs, ss.getMaxColLen, ss.getAvgColLen, v))
          } else if (d.isSetDecimalStats)
            Some(LakeTable.ColumnNdv(d.getDecimalStats.getNumDVs, -1L, -1.0, v))
          else if (d.isSetDateStats)
            Some(LakeTable.ColumnNdv(d.getDateStats.getNumDVs, -1L, -1.0, v))
          else None
        rec.map(f.name -> _)
      }
    }.toMap
  }

  override def updateTableColumnStatistics(
      cs: org.apache.hadoop.hive.metastore.api.ColumnStatistics): Boolean =
    io { (s, st) =>
      val desc = cs.getStatsDesc
      val loc = st.tableLocation(s, desc.getDbName, desc.getTableName)
        .getOrElse(throw new NoSuchObjectException(
          s"${desc.getDbName}.${desc.getTableName}"))
      val fresh = decodeStatsObjs(s, loc, cs)
      if (fresh.nonEmpty) LakeTable.recordNdv(s, loc, fresh)
      true
    }

  /** PARTITION-level stats write-back (an external engine's
    * `ANALYZE TABLE ... PARTITION(...) COMPUTE STATISTICS FOR COLUMNS`
    * lands here, one call per partition): the records go into the
    * per-partition store [[getPartitionColumnStatistics]] serves, with
    * the same honesty split as the table-level verb.
    */
  override def updatePartitionColumnStatistics(
      cs: org.apache.hadoop.hive.metastore.api.ColumnStatistics,
      partVals: java.util.List[String]): Boolean =
    io { (s, st) =>
      val desc = cs.getStatsDesc
      val loc = st.tableLocation(s, desc.getDbName, desc.getTableName)
        .getOrElse(throw new NoSuchObjectException(
          s"${desc.getDbName}.${desc.getTableName}"))
      // the canonical Hive partition name: the desc carries it when the
      // client set one; otherwise derive it from partVals + the spec
      val pn = Option(desc.getPartName).filter(_.nonEmpty).getOrElse {
        val (_, pcols, _, _) = leaves(s, st, desc.getDbName, desc.getTableName)
        partName(pcols, partVals.asScala.toSeq.map(Option(_)))
      }
      val fresh = decodeStatsObjs(s, loc, cs)
      if (fresh.nonEmpty) LakeTable.recordPartitionNdv(s, loc, pn, fresh)
      true
    }
  /** Table column statistics for external optimizers, aggregated from
    * the per-group stats sidecars: exact low/high (integral bounds
    * never detour through Double — |v| > 2^53 stays exact) and EXACT
    * numNulls from the sidecars' footer-harvested null counts.
    * numNulls/numDVs are required thrift fields that HMS clients (Hive,
    * Trino, Spark CBO) treat as exact, so a column is served ONLY when
    * its null count is known, and numDVs carries the tightest sound
    * upper bound the metadata supports: min(non-null rows, value-range
    * width) for integrals, non-null rows for fractionals — never a
    * fabricated zero. Non-numeric columns are omitted (the sidecars
    * hold no NDV sketch): better no number than a wrong one.
    * One scoped caveat: sidecar stats describe FILES, so rows hidden
    * by merge-on-read deletion vectors still count until compaction
    * purges them — the Delta/Iceberg stats stance (bounds stay sound;
    * row/null counts are upper bounds on a DV'd table).
    */
  override def getTableColumnStatistics(db: String, tbl: String,
      cols: java.util.List[String]): org.apache.hadoop.hive.metastore.api.ColumnStatistics =
    io { (s, st) =>
      import org.apache.hadoop.hive.metastore.api.{ColumnStatistics, ColumnStatisticsData, ColumnStatisticsDesc, ColumnStatisticsObj, DoubleColumnStatsData, LongColumnStatsData}
      st.tableLocation(s, db, tbl) match {
        case None => null
        case Some(loc) =>
          val table = LakeTable.state(s, loc)
          val agg = LakeTable.aggregatedColumnStats(s, loc, table.commit.dirs)
          val nullsAgg = LakeTable.aggregatedColumnNulls(s, loc, table.commit.dirs)
          val ndvMap = table.meta.ndv
          val schema = LakeTable.tableSchema(s, loc, table)
          def bd(v: String) = new java.math.BigDecimal(v)
          val objs = cols.asScala.flatMap { c =>
            val stringData = // ANALYZE-backed string stats (lengths + NDV)
              for {
                f <- schema.fields.find(_.name.equalsIgnoreCase(c))
                if f.dataType == org.apache.spark.sql.types.StringType
                r <- ndvMap.get(f.name)
                if r.maxLen >= 0
                (rows, nullMap) <- nullsAgg
                nn <- nullMap.get(f.name)
              } yield new ColumnStatisticsObj(f.name, hiveType(f.dataType),
                ColumnStatisticsData.stringStats(
                  new org.apache.hadoop.hive.metastore.api.StringColumnStatsData(
                    r.maxLen, r.avgLen, nn, r.ndv)))
            val numericData = for {
              (kind, mn, mx) <- agg.get(c)
              f <- schema.fields.find(_.name.equalsIgnoreCase(c))
              if kind == 'n'
              (rows, nullMap) <- nullsAgg
              nn <- nullMap.get(f.name)
              nonNull = math.max(0L, rows - nn)
              // ANALYZE result (as-of its snapshot, the Hive staleness
              // trade) beats the metadata-derived sound upper bound
              ndvOf = (bound: Long) =>
                ndvMap.get(f.name).map(_.ndv).getOrElse(bound)
              data <- f.dataType match {
                case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
                     org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType =>
                  val (lo, hi) = (bd(mn).longValue(), bd(mx).longValue())
                  val width = // inclusive range width, overflow-safe
                    bd(mx).subtract(bd(mn)).add(java.math.BigDecimal.ONE)
                      .min(java.math.BigDecimal.valueOf(Long.MaxValue)).longValue()
                  val d = new LongColumnStatsData(nn, ndvOf(math.min(nonNull, width)))
                  d.setLowValue(lo); d.setHighValue(hi)
                  Some(ColumnStatisticsData.longStats(d))
                case org.apache.spark.sql.types.DoubleType | org.apache.spark.sql.types.FloatType =>
                  val d = new DoubleColumnStatsData(nn, ndvOf(nonNull))
                  d.setLowValue(mn.toDouble); d.setHighValue(mx.toDouble)
                  Some(ColumnStatisticsData.doubleStats(d))
                case _ => None
              }
            } yield new ColumnStatisticsObj(f.name, hiveType(f.dataType), data)
            numericData.orElse(stringData)
          }
          if (objs.isEmpty) null
          else new ColumnStatistics(
            new ColumnStatisticsDesc(true, db, tbl), objs.toList.asJava)
      }
    }
  /** Per-PARTITION column statistics — the partition-wise planning
    * leg (Hive/Trino ask per-partition to cost partition-pruned
    * scans). Each requested partition aggregates ONLY the sidecar
    * lines of files under its leaf dirs; the same honesty rules as
    * the table level apply (exact nulls or the column is omitted,
    * NDV = a sound upper bound, exact integral low/high).
    */
  override def getPartitionColumnStatistics(db: String, tbl: String,
      partNames: java.util.List[String], cols: java.util.List[String])
      : java.util.List[org.apache.hadoop.hive.metastore.api.ColumnStatistics] =
    io { (s, st) =>
      import org.apache.hadoop.hive.metastore.api.{ColumnStatistics, ColumnStatisticsData, ColumnStatisticsDesc, ColumnStatisticsObj, DoubleColumnStatsData, LongColumnStatsData}
      val loc = st.tableLocation(s, db, tbl)
        .getOrElse(throw new NoSuchObjectException(s"$db.$tbl"))
      val (_, pcols, ls, table) = leaves(s, st, db, tbl)
      val byName = ls.groupBy(p => partName(pcols, p._1))
      val schema = LakeTable.tableSchema(s, loc, table)
      val pndvAll = table.meta.pndv
      def bd(v: String) = new java.math.BigDecimal(v)
      partNames.asScala.flatMap { pn =>
        byName.get(pn).flatMap { group =>
          val (agg, nullsAgg) =
            LakeTable.leafColumnStats(s, loc, group.map(_._2.toString))
          val ndvMap = pndvAll.getOrElse(pn, Map.empty)
          val objs = cols.asScala.flatMap { c =>
            val stringData = // write-back-backed string stats (lengths + NDV)
              for {
                f <- schema.fields.find(_.name.equalsIgnoreCase(c))
                if f.dataType == org.apache.spark.sql.types.StringType
                r <- ndvMap.get(f.name)
                if r.maxLen >= 0
                (rows, nullMap) <- nullsAgg
                nn <- nullMap.get(f.name)
              } yield new ColumnStatisticsObj(f.name, hiveType(f.dataType),
                ColumnStatisticsData.stringStats(
                  new org.apache.hadoop.hive.metastore.api.StringColumnStatsData(
                    r.maxLen, r.avgLen, nn, r.ndv)))
            val numericData = for {
              (kind, mn, mx) <- agg.get(c)
              f <- schema.fields.find(_.name.equalsIgnoreCase(c))
              if kind == 'n'
              (rows, nullMap) <- nullsAgg
              nn <- nullMap.get(f.name)
              nonNull = math.max(0L, rows - nn)
              // a written-back partition record (an estimate as-of its
              // snapshot) beats the metadata-derived sound upper bound
              ndvOf = (bound: Long) => ndvMap.get(f.name).map(_.ndv).getOrElse(bound)
              data <- f.dataType match {
                case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
                     org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType =>
                  val width =
                    bd(mx).subtract(bd(mn)).add(java.math.BigDecimal.ONE)
                      .min(java.math.BigDecimal.valueOf(Long.MaxValue)).longValue()
                  val d = new LongColumnStatsData(nn, ndvOf(math.min(nonNull, width)))
                  d.setLowValue(bd(mn).longValue()); d.setHighValue(bd(mx).longValue())
                  Some(ColumnStatisticsData.longStats(d))
                case org.apache.spark.sql.types.DoubleType | org.apache.spark.sql.types.FloatType =>
                  val d = new DoubleColumnStatsData(nn, ndvOf(nonNull))
                  d.setLowValue(mn.toDouble); d.setHighValue(mx.toDouble)
                  Some(ColumnStatisticsData.doubleStats(d))
                case _ => None
              }
            } yield new ColumnStatisticsObj(f.name, hiveType(f.dataType), data)
            numericData.orElse(stringData)
          }
          if (objs.isEmpty) None
          else {
            val desc = new ColumnStatisticsDesc(false, db, tbl)
            desc.setPartName(pn)
            Some(new ColumnStatistics(desc, objs.toList.asJava))
          }
        }
      }.toList.asJava
    }
  override def deletePartitionColumnStatistics(db: String, tbl: String,
      pn: String, partVals: java.util.List[String], colName: String): Boolean =
    io { (s, st) =>
      val loc = st.tableLocation(s, db, tbl)
        .getOrElse(throw new NoSuchObjectException(s"$db.$tbl"))
      LakeTable.dropPartitionNdv(s, loc, pn, colName)
      true
    }
  /** Drops the stored ANALYZE/write-back record for one column (the
    * wire passes null for "all columns" — then every record goes).
    * Sidecar-derived exact stats (nulls, bounds) are unaffected: they
    * describe files, not an ANALYZE run.
    */
  override def deleteTableColumnStatistics(db: String, tbl: String,
      colName: String): Boolean =
    io { (s, st) =>
      val loc = st.tableLocation(s, db, tbl)
        .getOrElse(throw new NoSuchObjectException(s"$db.$tbl"))
      if (colName == null)
        LakeTable.meta(s, loc).ndv.keys.foreach(LakeTable.dropNdv(s, loc, _))
      else LakeTable.dropNdv(s, loc, colName)
      true
    }
  override def cleanupEvents(): Long = unsupported("cleanupEvents")
  override def addToken(a0: String, a1: String): Boolean = unsupported("addToken")
  override def removeToken(a0: String): Boolean = unsupported("removeToken")
  override def getToken(a0: String): String = unsupported("getToken")
  override def getAllTokenIdentifiers(): java.util.List[String] = unsupported("getAllTokenIdentifiers")
  override def addMasterKey(a0: String): Int = unsupported("addMasterKey")
  override def updateMasterKey(a0: java.lang.Integer, a1: String): Unit = unsupported("updateMasterKey")
  override def removeMasterKey(a0: java.lang.Integer): Boolean = unsupported("removeMasterKey")
  override def getMasterKeys(): Array[String] = unsupported("getMasterKeys")
  // partitions are snapshot-implied (no registry rows): a drop marks
  // visibility so the handler's drop_table pagination converges
  override def dropPartitions(a0: String, a1: String, a2: java.util.List[String]): Unit =
    io { (s, st) =>
      st.tableLocation(s, a0, a1).foreach { loc =>
        a2.asScala.foreach(n =>
          GraftHmsFacade.droppedParts.add(partKey(s, a0, a1, loc, n)))
      }
    }
  override def listPrincipalDBGrantsAll(a0: String, a1: org.apache.hadoop.hive.metastore.api.PrincipalType): java.util.List[org.apache.hadoop.hive.metastore.api.HiveObjectPrivilege] = unsupported("listPrincipalDBGrantsAll")
  override def listPrincipalTableGrantsAll(a0: String, a1: org.apache.hadoop.hive.metastore.api.PrincipalType): java.util.List[org.apache.hadoop.hive.metastore.api.HiveObjectPrivilege] = unsupported("listPrincipalTableGrantsAll")
  override def listPrincipalPartitionGrantsAll(a0: String, a1: org.apache.hadoop.hive.metastore.api.PrincipalType): java.util.List[org.apache.hadoop.hive.metastore.api.HiveObjectPrivilege] = unsupported("listPrincipalPartitionGrantsAll")
  override def listPrincipalTableColumnGrantsAll(a0: String, a1: org.apache.hadoop.hive.metastore.api.PrincipalType): java.util.List[org.apache.hadoop.hive.metastore.api.HiveObjectPrivilege] = unsupported("listPrincipalTableColumnGrantsAll")
  override def listPrincipalPartitionColumnGrantsAll(a0: String, a1: org.apache.hadoop.hive.metastore.api.PrincipalType): java.util.List[org.apache.hadoop.hive.metastore.api.HiveObjectPrivilege] = unsupported("listPrincipalPartitionColumnGrantsAll")
  override def listGlobalGrantsAll(): java.util.List[org.apache.hadoop.hive.metastore.api.HiveObjectPrivilege] = unsupported("listGlobalGrantsAll")
  override def listDBGrantsAll(a0: String): java.util.List[org.apache.hadoop.hive.metastore.api.HiveObjectPrivilege] = unsupported("listDBGrantsAll")
  override def listPartitionColumnGrantsAll(a0: String, a1: String, a2: String, a3: String): java.util.List[org.apache.hadoop.hive.metastore.api.HiveObjectPrivilege] = unsupported("listPartitionColumnGrantsAll")
  override def listTableGrantsAll(a0: String, a1: String): java.util.List[org.apache.hadoop.hive.metastore.api.HiveObjectPrivilege] = unsupported("listTableGrantsAll")
  override def listPartitionGrantsAll(a0: String, a1: String, a2: String): java.util.List[org.apache.hadoop.hive.metastore.api.HiveObjectPrivilege] = unsupported("listPartitionGrantsAll")
  override def listTableColumnGrantsAll(a0: String, a1: String, a2: String): java.util.List[org.apache.hadoop.hive.metastore.api.HiveObjectPrivilege] = unsupported("listTableColumnGrantsAll")
  override def createFunction(a0: org.apache.hadoop.hive.metastore.api.Function): Unit = unsupported("createFunction")
  override def alterFunction(a0: String, a1: String, a2: org.apache.hadoop.hive.metastore.api.Function): Unit = unsupported("alterFunction")
  override def dropFunction(a0: String, a1: String): Unit = unsupported("dropFunction")
  override def getFunction(a0: String, a1: String): org.apache.hadoop.hive.metastore.api.Function = unsupported("getFunction")
  override def get_aggr_stats_for(a0: String, a1: String, a2: java.util.List[String], a3: java.util.List[String]): org.apache.hadoop.hive.metastore.api.AggrStats = unsupported("get_aggr_stats_for")
  override def getNextNotification(a0: org.apache.hadoop.hive.metastore.api.NotificationEventRequest): org.apache.hadoop.hive.metastore.api.NotificationEventResponse = unsupported("getNextNotification")
  override def addNotificationEvent(a0: org.apache.hadoop.hive.metastore.api.NotificationEvent): Unit = unsupported("addNotificationEvent")
  override def cleanNotificationEvents(a0: Int): Unit = unsupported("cleanNotificationEvents")
  override def getFileMetadata(a0: java.util.List[java.lang.Long]): Array[java.nio.ByteBuffer] = unsupported("getFileMetadata")
  override def putFileMetadata(a0: java.util.List[java.lang.Long], a1: java.util.List[java.nio.ByteBuffer], a2: org.apache.hadoop.hive.metastore.api.FileMetadataExprType): Unit = unsupported("putFileMetadata")
  override def isFileMetadataSupported(): Boolean = unsupported("isFileMetadataSupported")
  override def getFileMetadataByExpr(a0: java.util.List[java.lang.Long], a1: org.apache.hadoop.hive.metastore.api.FileMetadataExprType, a2: Array[Byte], a3: Array[java.nio.ByteBuffer], a4: Array[java.nio.ByteBuffer], a5: Array[Boolean]): Unit = unsupported("getFileMetadataByExpr")
  override def getFileMetadataHandler(a0: org.apache.hadoop.hive.metastore.api.FileMetadataExprType): org.apache.hadoop.hive.metastore.FileMetadataHandler = unsupported("getFileMetadataHandler")
  override def getTableCount(): Int = unsupported("getTableCount")
  override def getPartitionCount(): Int = unsupported("getPartitionCount")
  override def getDatabaseCount(): Int = unsupported("getDatabaseCount")
  override def getPrimaryKeys(a0: String, a1: String): java.util.List[org.apache.hadoop.hive.metastore.api.SQLPrimaryKey] = unsupported("getPrimaryKeys")
  override def getForeignKeys(a0: String, a1: String, a2: String, a3: String): java.util.List[org.apache.hadoop.hive.metastore.api.SQLForeignKey] = unsupported("getForeignKeys")
  override def createTableWithConstraints(a0: org.apache.hadoop.hive.metastore.api.Table, a1: java.util.List[org.apache.hadoop.hive.metastore.api.SQLPrimaryKey], a2: java.util.List[org.apache.hadoop.hive.metastore.api.SQLForeignKey]): Unit = unsupported("createTableWithConstraints")
  override def dropConstraint(a0: String, a1: String, a2: String): Unit = unsupported("dropConstraint")
  override def addPrimaryKeys(a0: java.util.List[org.apache.hadoop.hive.metastore.api.SQLPrimaryKey]): Unit = unsupported("addPrimaryKeys")
  override def addForeignKeys(a0: java.util.List[org.apache.hadoop.hive.metastore.api.SQLForeignKey]): Unit = unsupported("addForeignKeys")
  override def updateParameterWithExpectedValue(a0: org.apache.hadoop.hive.metastore.api.Table, a1: String, a2: String, a3: String): Long = unsupported("updateParameterWithExpectedValue")
}

object GraftRawStore {
  /** Expression proxy for serialized-expr partition pushdown
    * (`hive.metastore.expression.proxy`, stock default
    * PartitionExpressionForMetastore): converts a client's
    * Kryo-serialized filter expression back into the filter grammar
    * the facade's evaluator prunes with. One per JVM, like the stock
    * server's.
    */
  private[sources] lazy val exprProxy =
    org.apache.hadoop.hive.metastore.PartFilterExprUtil
      .createExpressionProxy(new HiveConf())
}
