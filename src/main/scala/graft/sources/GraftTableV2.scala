package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, WriteBuilder}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSourceV2 Table over a LakeTable path. Reads delegate to Spark's
  * own ParquetTable scan builder over the snapshot's file-group dirs,
  * so the scan IS a parquet V2 scan: filter pushdown, column pruning,
  * vectorized columnar batches and whole-stage codegen — none of the
  * per-row InternalRow→Row deserialization the V1 PrunedFilteredScan
  * path paid at the relation boundary. Writes go through the NATIVE
  * DSv2 path (GraftWrite.scala): task-level parquet writers into a
  * staged group dir, then a driver-side LakeTable staged commit — the
  * commit protocol stays in one place and streaming/dynamic-overwrite
  * writes become possible (both were unreachable from the old V1Write
  * fallback).
  *
  * ACCEPT_ANY_SCHEMA: LakeTable supports per-group schema evolution
  * (a read merges the groups' footer schemas), so Spark's by-name
  * write validation is left to the table itself — same stance as
  * other lakehouse connectors.
  *
  * Each handle reads the one state its loader resolved. Spark keeps
  * the handle in the analyzed plan, so a scan of an unpinned handle
  * advances it to the head (a re-executed Dataset sees later commits).
  *
  * Reference capability: named tables over object storage via a
  * metastore (internal/controller/metastore.go:38-44); the catalog
  * plugin in GraftCatalog.scala builds on this Table.
  */
final class GraftTable(path: String, version: Option[Long],
    providedSchema: Option[StructType], loaded: Option[LakeTable.State]) extends Table
    with SupportsRead with SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDeleteV2
    with org.apache.spark.sql.connector.catalog.SupportsPartitionManagement {

  private def spark: SparkSession = org.apache.spark.sql.graftglue.Glue.activeSession

  /** The pinned version under the head's meta, or the head as of the
    * last load or scan; None for the target of a first path write.
    */
  @volatile private var bound: Option[GraftTable.Bound] = loaded.map(bind)
  private def bind(st: LakeTable.State) =
    new GraftTable.Bound(st, LakeTable.tableSchema(spark, path, st))
  private def state: Option[LakeTable.State] = bound.map(_.st)

  /** Root path of the backing LakeTable (for the row-level SQL rule). */
  private[graft] def tablePath: String = path

  /** Time-travel pin, if this Table was resolved `VERSION/TIMESTAMP AS
    * OF` (the MV router must never serve a pinned snapshot).
    */
  private[graft] def pinnedVersion: Option[Long] = version

  /** DML on a DV-mode table takes the merge-on-read path (B46). */
  private[graft] def dvMode: Boolean = state.exists(_.meta.dvMode)

  // ---- authorization (GraftAuthz) ---------------------------------
  // A catalog that resolved this handle for a SELECT-only principal
  // marks it write-denied: reads serve normally, every mutation
  // surface (DSv2 writes, deleteWhere/TRUNCATE, partition drop, and
  // the row-level SQL rule via `writeDenied`) rejects. The flag lives
  // on the handle — Spark resolves a fresh Table per statement, so it
  // can never leak across principals.
  @volatile private var deniedFor: Option[String] = None
  // Row-policy rule bookkeeping: each fresh handle is policy-checked
  // at most once per statement (plans/RowPolicy.scala).
  @volatile private[graft] var policyChecked: Boolean = false
  private[graft] def denyWritesFor(principal: String): Unit = { deniedFor = Some(principal) }
  private[graft] def writeDenied: Option[String] = deniedFor
  private def guardWrite(): Unit = deniedFor.foreach { p =>
    throw new graft.GraftAuthz.AccessDenied(
      s"PERMISSION_DENIED: principal '$p' lacks MODIFY on graft table $path")
  }

  // ---- partition management (SHOW PARTITIONS / ALTER TABLE DROP
  // PARTITION). Partitions here are IMPLICIT — they exist exactly
  // where data exists (the Hive-style layout LakeTable writes) — so
  // listing enumerates the snapshot's leaf dirs, dropping routes into
  // the granular COW delete (time travel keeps the dropped data), and
  // creating standalone empty partitions is meaningless by design.

  import org.apache.spark.sql.catalyst.InternalRow

  private def partitionCols: Seq[String] = state.fold(Seq.empty[String])(_.meta.partitionBy)

  override def partitioning(): Array[org.apache.spark.sql.connector.expressions.Transform] =
    partitionCols.map(org.apache.spark.sql.connector.expressions.Expressions.identity).toArray

  override def partitionSchema(): StructType = {
    val s = schema()
    StructType(partitionCols.map(s(_)))
  }

  /** Partition values of every leaf dir in the current snapshot (one
    * row per distinct partition tuple across all file groups).
    */
  private def partitionRows(): Seq[(Seq[Option[String]], InternalRow)] = {
    val st = state.getOrElse(return Nil)
    val pSchema = partitionSchema()
    LakeTable.partitionLeaves(spark,
        st.commit.dirs.map(d => new org.apache.hadoop.fs.Path(path, d).toString),
        partitionCols)
      .map(_._1).distinct
      .map { values =>
        values -> InternalRow.fromSeq(values.zip(pSchema.fields).map {
          case (None, _) => null
          case (Some(raw), f) =>
            org.apache.spark.sql.catalyst.expressions.Cast(
              org.apache.spark.sql.catalyst.expressions.Literal(
                org.apache.spark.unsafe.types.UTF8String.fromString(raw),
                org.apache.spark.sql.types.StringType),
              f.dataType,
              Some(spark.sessionState.conf.sessionLocalTimeZone)).eval(null)
        })
      }
  }

  override def listPartitionIdentifiers(names: Array[String],
      ident: InternalRow): Array[InternalRow] = {
    val pSchema = partitionSchema()
    val idx = names.map(n => pSchema.fieldIndex(n))
    partitionRows().map(_._2).filter { row =>
      idx.zipWithIndex.forall { case (fi, ii) =>
        val want = ident.get(ii, pSchema(fi).dataType)
        val have = row.get(fi, pSchema(fi).dataType)
        want == have || (want != null && want.equals(have))
      }
    }.toArray
  }

  override def dropPartition(ident: InternalRow): Boolean = {
    guardWrite()
    import org.apache.spark.sql.functions.{col, lit}
    val pSchema = partitionSchema()
    if (!partitionExists(ident)) return false
    val pred = pSchema.fields.zipWithIndex.map { case (f, i) =>
      if (ident.isNullAt(i)) col(f.name).isNull
      else col(f.name) === lit(
        // internal → external (UTF8String → String, days-int → Date, …)
        org.apache.spark.sql.catalyst.CatalystTypeConverters
          .convertToScala(ident.get(i, f.dataType), f.dataType))
    }.reduceOption(_ && _).getOrElse(lit(false))
    LakeTable.delete(spark, path, pred)
    true
  }

  override def createPartition(ident: InternalRow,
      properties: java.util.Map[String, String]): Unit =
    throw new UnsupportedOperationException(
      "graft partitions are implicit: they appear when data is written " +
        "(INSERT with the partition value) and vanish when none remains")

  override def replacePartitionMetadata(ident: InternalRow,
      properties: java.util.Map[String, String]): Unit =
    throw new UnsupportedOperationException("graft partitions carry no metadata")

  override def loadPartitionMetadata(ident: InternalRow): java.util.Map[String, String] =
    java.util.Collections.emptyMap()

  // ---- SQL DELETE FROM (DSv2 SupportsDeleteV2) ----------------------
  // Converts the pushed V2 predicates back to Columns and routes them
  // through LakeTable.delete — so text-SQL deletes get the same
  // file-group-granular COW (and CDC capture) as the API path.
  // canDeleteWhere rejects anything unconvertible; Spark then raises
  // the standard cannot-delete error instead of silently over-deleting.

  private def toColumn(e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[org.apache.spark.sql.Column] = GraftPredicates.toColumn(e)

  override def canDeleteWhere(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate]): Boolean =
    predicates.forall(toColumn(_).isDefined)

  override def deleteWhere(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    guardWrite()
    import org.apache.spark.sql.functions.lit
    val cond = predicates.flatMap(toColumn(_))
      .reduceOption(_ && _).getOrElse(lit(true))
    if (dvMode) LakeTable.deleteMor(spark, path, cond)
    else LakeTable.delete(spark, path, cond)
  }

  override def name(): String = s"graft.`$path`" + version.map(v => s"@v$v").getOrElse("")

  /** Table properties surfaced to `DESCRIBE TABLE EXTENDED` / SHOW
    * TBLPROPERTIES: the operational state an operator needs at a
    * glance (current version, recorded layout, constraints, DV mode,
    * tags) — all read from the same durable metadata the engine uses.
    */
  override def properties(): java.util.Map[String, String] = {
    val m = new java.util.HashMap[String, String]()
    m.put("provider", "graft")
    // no state: the not-yet-created target of a first write
    state.foreach { case LakeTable.State(version, _, meta, _, _) =>
      m.put("current-version", version.toString)
      if (meta.sortBy.nonEmpty) m.put("write.sort.by", meta.sortBy.mkString(","))
      meta.checks.foreach { case (n, sql) => m.put(s"check.$n", sql) }
      if (meta.dvMode) m.put("deletion-vectors", "enabled")
      if (meta.tags.nonEmpty) m.put("tags", meta.tagList)
      meta.cdcKey.foreach(k => m.put("cdc.key", k))
      // ANALYZE results at a glance: which columns carry stats and the
      // snapshot they measured (staleness is visible, not hidden)
      if (meta.ndv.nonEmpty)
        m.put("stats.analyzed", meta.ndv.toSeq.sortBy(_._1)
          .map { case (c, r) => s"$c=${r.ndv}@v${r.asOf}" }.mkString(","))
    }
    m
  }

  override def schema(): StructType =
    providedSchema.filter(_.nonEmpty).getOrElse {
      // no state: the not-yet-created target of a first write
      bound.fold(new StructType())(_.schema)
    }

  override def capabilities(): util.Set[TableCapability] = {
    val base = Set(TableCapability.BATCH_READ,
      // MICRO_BATCH_READ: commit-log streaming source (LakeStream).
      TableCapability.MICRO_BATCH_READ,
      // Native DSv2 writes (GraftWrite.scala): task-level parquet
      // writers + driver-side staged commit. STREAMING_WRITE is the
      // exactly-once writeStream sink; OVERWRITE_DYNAMIC unlocks
      // dynamic partition overwrite (both impossible under the old
      // V1Write fallback).
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC)
    // ACCEPT_ANY_SCHEMA disables Spark's by-name output resolution —
    // which is ALSO what fills omitted INSERT columns from their
    // DEFAULTs and coerces input types. A table with declared column
    // defaults therefore takes strict resolution (defaults + casts);
    // default-free tables keep the evolution-friendly open write.
    val hasDefaults = schema().fields.exists(_.metadata.contains("CURRENT_DEFAULT"))
    (if (hasDefaults) base else base + TableCapability.ACCEPT_ANY_SCHEMA).asJava
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val current = bound match {
      case Some(b) if version.isDefined => b
      case Some(b) =>
        val st = LakeTable.advance(spark, path, b.st)
        if (st eq b.st) b else bind(st)
      case None => bind(LakeTable.snapshot(spark, path, version)) // created since the load
    }
    bound = Some(current)
    val st = Option(options.get("version")).map(_.toLong)
      .fold(current.st)(LakeTable.at(spark, path, current.st, _))
    // only an unpinned scan of the head may report its aggregates
    val atHead = version.isEmpty && (st eq current.st)
    val schema = if (st eq current.st) current.schema else LakeTable.tableSchema(spark, path, st)
    // DV'd snapshots (B46 merge-on-read) AND renamed tables serve
    // through the V1-pushdown builder: both need per-group frame
    // assembly (vector filters / physical→logical name mapping) that
    // the raw columnar parquet scan below cannot express. Pushdown,
    // pruning and stats survive (see GraftDvScanBuilder); compaction
    // migrates groups to the current physical names and vector-free
    // files, restoring the fully-V2 path.
    if (LakeTable.dvFor(spark, path, st.version, st.commit.dirs).nonEmpty ||
        st.meta.mappings.nonEmpty)
      return new GraftDvScanBuilder(spark, path, st, atHead, schema)
    new GraftScanBuilder(spark, path, st, schema, options, atHead)
  }

  /** Native DSv2 write path (GraftWrite.scala): task-level parquet
    * writers into a staged group dir + a driver-side staged commit.
    */
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    guardWrite()
    new GraftWriteBuilder(path, info)
  }
}

object GraftTable {
  /** A table state with its schema, inferred on first use and then
    * kept: a later DROP or vacuum may delete the files it comes from.
    */
  private final class Bound(val st: LakeTable.State, infer: => StructType) {
    lazy val schema: StructType = infer
  }
}

/** Scan builder for DV'd snapshots (B46) and renamed tables: the
  * merge-on-read serving mode. The scan keeps the lakehouse fast-path
  * behaviors even while vectors exist — it negotiates V1 filter
  * pushdown and column pruning, takes its file bounds from
  * `LakeTable.boundsOf` (the pushed conjunction, analyzed against the
  * snapshot schema) and SKIPS whole files via the min/max sidecar
  * stats (plus partition-dir values), and builds its result with
  * `LakeTable.readKept` over only the surviving files — the same
  * mapping, tombstone and deletion-vector assembly as a full read:
  * parquet row-group pushdown, vectorized read and whole-stage
  * codegen all run INSIDE the relation. Only the relation boundary
  * itself is row-based (V1Scan), and it carries just the filtered,
  * projected rows.
  *
  * Safety stance: every pushed filter is ALSO returned as a residual
  * (`pushFilters` returns its input), so Spark re-evaluates the
  * predicate on top — pushdown here is a pure optimization and can
  * never change results, exactly the PrunedFilteredScan contract.
  * `CALL system.compact` still purges vectors and restores the fully
  * columnar V2 scan.
  */
final class GraftDvScanBuilder(spark: SparkSession, path: String, st: LakeTable.State,
    atHead: Boolean, tableSchema: StructType) extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {

  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, lit, not}
  import org.apache.spark.sql.sources._

  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = tableSchema

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(toColumn(_).isDefined)
    filters // all stay residual: the source's application is advisory
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit = { required = requiredSchema }

  /** sources.Filter → Column, None for anything without an exact
    * Column equivalent (those are neither applied nor advertised).
    */
  private def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, value) => Some(col(a) === lit(value))
    case EqualNullSafe(a, value) => Some(col(a) <=> lit(value))
    case GreaterThan(a, value) => Some(col(a) > lit(value))
    case GreaterThanOrEqual(a, value) => Some(col(a) >= lit(value))
    case LessThan(a, value) => Some(col(a) < lit(value))
    case LessThanOrEqual(a, value) => Some(col(a) <= lit(value))
    case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, value) => Some(col(a).startsWith(value))
    case StringEndsWith(a, value) => Some(col(a).endsWith(value))
    case StringContains(a, value) => Some(col(a).contains(value))
    case And(l, r) => for (lc <- toColumn(l); rc <- toColumn(r)) yield lc && rc
    case Or(l, r) => for (lc <- toColumn(l); rc <- toColumn(r)) yield lc || rc
    case Not(c) => toColumn(c).map(not)
    case _ => None
  }

  override def build(): org.apache.spark.sql.connector.read.Scan = {
    val filterCol = pushed.flatMap(toColumn(_)).reduceOption(_ && _)
    val (pruned, _) = LakeTable.pruneFilesByDir(spark, path, st.meta.renames, st.commit.dirs,
      filterCol.fold(Map.empty[String, LakeTable.ColumnBounds])(
        LakeTable.predicateBounds(spark, tableSchema, _)))
    val total = pruned.map(_.files.size).sum
    val kept = pruned.map(_.kept.size).sum
    val reqCols = required.fieldNames.toIndexedSeq
    val reqSchema = required
    // Kept-file bytes were listed during pruning — the stats report is
    // free. DV-mode tables thereby keep sane join planning too: a
    // small MOR dim still auto-broadcasts (the row-count correction
    // for deleted rows is at most the DV cardinality, which only makes
    // the table SMALLER — reporting pre-delete bytes is conservative).
    val keptBytes = pruned.iterator.flatMap(_.files).filter(_.kept).map(_.len).sum
    // Row count + per-column stats for Spark's OWN cost-based
    // optimizer (join reorder keys on rowCount × NDV): exact snapshot
    // rows from the v2 sidecars when the scan is UNPRUNED (a pruned
    // subset's rows aren't knowable from dir-level aggregates), NDV /
    // lengths from the stored ANALYZE results, null counts footer-
    // exact. DV'd rows overcount both — conservative (larger inputs),
    // same stance as sizeInBytes above.
    // ... and only for a scan of the CURRENT head: the sidecar/ANALYZE
    // aggregates describe currentVersion, so a VERSION AS OF scan of an
    // older snapshot must not report them as its own row count / NDV
    // (CBO would plan the old snapshot with the new table's shape).
    val unpruned = kept == total && atHead
    val (statRows, colStatsMap) =
      if (unpruned) LakeTable.v2Stats(spark, path, st, required.fieldNames.toSeq)
      else (java.util.OptionalLong.empty(), new java.util.HashMap[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]())
    new org.apache.spark.sql.connector.read.V1Scan
        with org.apache.spark.sql.connector.read.SupportsReportStatistics {
      override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics =
        new org.apache.spark.sql.connector.read.Statistics {
          override def sizeInBytes(): java.util.OptionalLong =
            java.util.OptionalLong.of(keptBytes)
          override def numRows(): java.util.OptionalLong = statRows
          override def columnStats(): java.util.Map[
              org.apache.spark.sql.connector.expressions.NamedReference,
              org.apache.spark.sql.connector.read.colstats.ColumnStatistics] =
            colStatsMap
        }
      override def readSchema(): StructType = reqSchema
      override def toV1TableScan[T <: org.apache.spark.sql.sources.BaseRelation
          with org.apache.spark.sql.sources.TableScan](
          ctx: org.apache.spark.sql.SQLContext): T =
        new org.apache.spark.sql.sources.BaseRelation
            with org.apache.spark.sql.sources.TableScan {
          override def sqlContext: org.apache.spark.sql.SQLContext = ctx
          override def schema: StructType = reqSchema
          override def buildScan(): org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
            val base = LakeTable.readKept(spark, path, st, tableSchema, pruned)
            val filtered = filterCol.fold(base)(base.where)
            filtered.select(reqCols.map(col): _*).rdd
          }
          // Surfaces in `explain` (RowDataSourceScanExec prints the
          // relation): the file-skipping evidence a plan audit needs.
          override def toString: String = s"GraftDvScan $path@v${st.version} files=$kept/$total"
        }.asInstanceOf[T]
      override def description(): String = s"GraftDvScan $path@v${st.version} files=$kept/$total"
    }
  }
}

/** V2 predicate → Column conversion shared by the delete/overwrite
  * surfaces (canDeleteWhere/deleteWhere and the write builder).
  */
private[sources] object GraftPredicates {
  def toColumn(e: org.apache.spark.sql.connector.expressions.Expression)
      : Option[org.apache.spark.sql.Column] = {
    import org.apache.spark.sql.connector.expressions.{Literal => VLiteral, NamedReference}
    import org.apache.spark.sql.connector.expressions.filter.{And => VAnd, Not => VNot, Or => VOr, Predicate}
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.graftglue.Glue
    e match {
      case a: VAnd => for (l <- toColumn(a.left()); r <- toColumn(a.right())) yield l && r
      case o: VOr => for (l <- toColumn(o.left()); r <- toColumn(o.right())) yield l || r
      case n: VNot => toColumn(n.child()).map(!_)
      case p: Predicate if p.name() == "IN" && p.children().length >= 2 =>
        val vs = p.children().drop(1).toSeq.map(toColumn)
        for (c <- toColumn(p.children()(0)); if vs.forall(_.isDefined))
          yield c.isin(vs.flatten: _*)
      case p: Predicate if p.children().length == 2 =>
        def bin(f: (org.apache.spark.sql.Column, org.apache.spark.sql.Column) => org.apache.spark.sql.Column) =
          for (l <- toColumn(p.children()(0)); r <- toColumn(p.children()(1))) yield f(l, r)
        p.name() match {
          case "=" => bin(_ === _)
          case "<=>" => bin(_ <=> _)
          case "<" => bin(_ < _)
          case "<=" => bin(_ <= _)
          case ">" => bin(_ > _)
          case ">=" => bin(_ >= _)
          case _ => None
        }
      case p: Predicate if p.children().length == 1 =>
        p.name() match {
          case "IS_NULL" => toColumn(p.children()(0)).map(_.isNull)
          case "IS_NOT_NULL" => toColumn(p.children()(0)).map(_.isNotNull)
          case _ => None
        }
      case f: NamedReference =>
        Some(org.apache.spark.sql.functions.col(f.fieldNames().mkString(".")))
      case l: VLiteral[_] => Some(Glue.column(Literal(l.value, l.dataType)))
      case _ => None
    }
  }
}

/** DSv2 Table over a LakeTable's persisted change feed
  * (`option("readChangeFeed","true")` on the graft format): batch read
  * = the whole feed, streaming read = version-offset micro-batches of
  * change files (LakeCdcMicroBatchStream). Read-only by design — the
  * feed is written by the table's own DML commits.
  */
final class GraftCdcTable(path: String) extends Table with SupportsRead {
  private def spark: SparkSession = org.apache.spark.sql.graftglue.Glue.activeSession
  override def name(): String = s"graft-cdc.`$path`"
  private lazy val feedSchema = LakeTable.cdcSchema(spark, path, LakeTable.state(spark, path))
  override def schema(): StructType = feedSchema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ).asJava
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftCdcScanBuilder(spark, path, feedSchema, options)
}

/** V2 scan builder that adds LakeTable FILE SKIPPING in front of the
  * parquet scan: the pushed conjunction's per-column bounds come from
  * `LakeTable.boundsOf`, are intersected with the per-file min/max
  * sidecars (B18), and
  * the inner parquet scan is rebuilt over only the surviving files —
  * so a catalog SQL point query (`WHERE key = 42`) opens a handful of
  * files with no API beyond plain SQL. Everything else (residual
  * filters, column pruning, vectorized read) delegates to Spark's own
  * ParquetScanBuilder, which still sees and applies every filter —
  * skipping only removes files whose stats PROVE no row can match.
  *
  * PARTITIONED tables take the explicit-PartitionSpec index instead
  * (Spark cannot discover partitions across multiple group roots):
  * there, pruning on partition columns happens natively in the scan
  * against the supplied spec, and sidecar-stats file skipping is
  * deliberately not layered on top (the API read paths still apply
  * it via pruneFilesByDir).
  */
final class GraftScanBuilder(spark: SparkSession, path: String, st: LakeTable.State,
    schema: StructType, options: CaseInsensitiveStringMap, atHead: Boolean = true)
    extends org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {

  import org.apache.spark.sql.catalyst.expressions.{And, Expression}

  private val partCols = st.meta.partitionBy
  private val dirs = st.commit.dirs

  private def mkInner(paths: Seq[String])
      : org.apache.spark.sql.connector.read.ScanBuilder
        with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
        with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns =
    if (partCols.isEmpty)
      ParquetTable(s"graft.`$path`", spark, options, paths, Some(schema),
        classOf[ParquetFileFormat]).newScanBuilder(options)
    else {
      import org.apache.spark.sql.types.StructType
      val partSchema = StructType(partCols.map(c => schema(c)))
      org.apache.spark.sql.graftglue.Glue.partitionedParquetScanBuilder(
        spark, LakeTable.partitionLeaves(spark, paths, partCols), partSchema,
        schema, options)
    }

  // The probe builder answers the pushdown negotiation (which filters
  // are fully handled), which depends only on the data and partition
  // schemas, so it spans no file; build() replays the calls on the
  // inner builder over the pruned files.
  private val probe = mkInner(Nil)
  private var pushed: Seq[Expression] = Nil
  private var prunedSchema: Option[StructType] = None

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    pushed = filters
    probe.pushFilters(filters)
  }
  override def pushedFilters: Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    probe.pushedFilters
  override def pruneColumns(requiredSchema: StructType): Unit = {
    prunedSchema = Some(requiredSchema)
    probe.pruneColumns(requiredSchema)
  }

  override def build(): org.apache.spark.sql.connector.read.Scan = {
    val bounds = pushed.reduceOption(And(_, _)).fold(Map.empty[String, LakeTable.ColumnBounds])(
      LakeTable.boundsOf)
    val all = dirs.map(d => new Path(path, d).toString)
    val paths =
      if (bounds.isEmpty) all
      else LakeTable.pruneFiles(spark, path, st.meta.renames, dirs, bounds).getOrElse(all)
    val inner = mkInner(paths)
    if (pushed.nonEmpty) inner.pushFilters(pushed)
    prunedSchema.foreach(inner.pruneColumns)
    // Wrapped so the same Scan serves readStream: batch behavior is
    // delegated untouched; toMicroBatchStream resolves to the
    // commit-log source (LakeStream.scala).
    // snapshotStats only when the scan is the CURRENT head: the sidecar
    // row-count/NDV aggregates always describe currentVersion, so a
    // VERSION/TIMESTAMP AS OF scan must not claim them as its own
    // (plans only — results were always version-correct).
    new GraftStreamableScan(inner.build(), spark, path, st, schema, options,
      org.apache.spark.sql.types.StructType(partCols.map(c => schema(c))),
      snapshotStats = (paths eq all) && atHead)
  }
}
