package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReaderFactory, Scan}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Commit-log-driven streaming source over a LakeTable — the
  * log-aware upgrade of [[LakeTable.streamAppends]]: offsets are
  * TABLE VERSIONS, each micro-batch reads exactly the file groups the
  * commits in (start, end] added, and a non-append commit (merge /
  * delete / compact / cluster) FAILS the stream instead of silently
  * replaying rewritten rows — the Delta streaming-source contract.
  * Orphaned racer dirs (staged but never committed) are invisible
  * because batches are planned from the log, never from a glob.
  *
  * Reading delegates to Spark's own parquet V2 machinery: each batch
  * plans `FilePartition`s through a ParquetTable scan over the added
  * dirs, and the stream's reader factory is parquet's vectorized
  * factory — no custom row decoding.
  */
final case class LakeVersionOffset(version: Long) extends Offset {
  override def json(): String = s"""{"version":$version}"""
}

/** Version-bounded admission control for the graft streaming sources
  * (C34): `maxVersionsPerTrigger` caps how many table versions one
  * micro-batch admits, so a stream starting against a long history —
  * a backfill, or a checkpoint that lagged a high-frequency writer —
  * processes the backlog as bounded increments instead of one batch
  * sized like the table. With Trigger.AvailableNow the engine drains
  * exactly the head captured at start (in maxVersions-sized steps)
  * and terminates — the bounded-backfill contract. Offsets stay plain
  * versions, so checkpoints are interchangeable with the unthrottled
  * source.
  */
private[sources] trait VersionAdmission extends SupportsTriggerAvailableNow {
  protected def headVersion: Long
  protected def admissionOptions: CaseInsensitiveStringMap

  private lazy val maxVersions: Option[Long] =
    Option(admissionOptions.get("maxVersionsPerTrigger")).map(_.toLong).filter(_ > 0)
  @volatile private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(headVersion)
  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  /** Where a FRESH checkpoint starts (the Delta startingVersion /
    * startingTimestamp contract): by default the full history (every
    * live version replays — a new MV/index build wants exactly that);
    * `startingVersion` streams that version's commit onward;
    * `startingTimestamp` resolves through the commit clock to the
    * first version at/after the instant; `startingVersion=latest`
    * tails only post-start changes. Ignored once a checkpoint exists —
    * offsets are durable state, options are not.
    */
  protected def startOffset(): LakeVersionOffset = {
    val sv = Option(admissionOptions.get("startingVersion"))
    val st = Option(admissionOptions.get("startingTimestamp"))
    require(sv.isEmpty || st.isEmpty,
      "startingVersion and startingTimestamp are mutually exclusive")
    sv match {
      case Some("latest") => LakeVersionOffset(headVersion)
      case Some(v)        => LakeVersionOffset(v.toLong - 1)
      case None => st match {
        case None => LakeVersionOffset(-1L)
        case Some(ts) =>
          val millis = java.sql.Timestamp.valueOf(ts.replace('T', ' ')).getTime
          LakeVersionOffset(firstVersionAtOrAfter(millis) - 1)
      }
    }
  }
  protected def firstVersionAtOrAfter(millis: Long): Long
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[LakeVersionOffset].version
    val head = availableNowCap.fold(headVersion)(math.min(_, headVersion))
    LakeVersionOffset(maxVersions.fold(head)(n => math.min(head, s + n)))
  }
  override def reportLatestOffset(): Offset = LakeVersionOffset(headVersion)
}

final class LakeMicroBatchStream(spark: SparkSession, path: String,
    schema: StructType, options: CaseInsensitiveStringMap)
    extends MicroBatchStream with VersionAdmission {

  private def current: Long = LakeTable.currentVersion(spark, path)
    .getOrElse(throw new IllegalArgumentException(s"no LakeTable at $path"))
  override protected def headVersion: Long = current
  override protected def admissionOptions: CaseInsensitiveStringMap = options

  private def innerBatch(partCols: Seq[String], dirPaths: Seq[String]): Batch = {
    if (partCols.isEmpty)
      ParquetTable(s"graft.`$path`", spark, options, dirPaths, Some(schema),
        classOf[ParquetFileFormat]).newScanBuilder(options).build().toBatch
    else {
      // Partitioned groups: explicit PartitionSpec (a micro-batch can
      // span several group roots — discovery would reject that).
      val partSchema = StructType(partCols.map(c => schema(c)))
      org.apache.spark.sql.graftglue.Glue.partitionedParquetScanBuilder(
        spark, LakeTable.partitionLeaves(spark, dirPaths, partCols), partSchema,
        schema, options).build().toBatch
    }
  }

  /** Dirs the commits in (fromExclusive, toInclusive] added, with the
    * append-only contract enforced per commit.
    */
  private def addedDirs(fromExclusive: Long, toInclusive: Long): Seq[String] = {
    // A checkpointed version may have been vacuumed away since the
    // stream last ran — surface that as actionable state, not a raw
    // FileNotFoundException from the log read.
    def commitOf(v: Long): LakeTable.Commit =
      try LakeTable.readCommit(spark, path, v)
      catch {
        case e: java.io.FileNotFoundException =>
          throw new IllegalStateException(
            s"commit v$v of streamed LakeTable $path no longer exists " +
              "(vacuumed past the checkpointed offset?) — " +
              "restart the stream from a fresh checkpoint", e)
      }
    val added = Seq.newBuilder[String]
    var prev: Set[String] =
      if (fromExclusive < 0) Set.empty
      else commitOf(fromExclusive).dirs.toSet
    ((fromExclusive + 1) to toInclusive).foreach { v =>
      val c = commitOf(v)
      // A meta-only commit (DDL) keeps every dir: nothing to replay.
      val ok = c.action == "create" || c.action == "append" || c.action == "clone" ||
        (c.action == LakeTable.MetaAction && c.dirs.toSet == prev)
      val removed = prev -- c.dirs.toSet
      if (!ok || removed.nonEmpty)
        throw new IllegalStateException(
          s"streamed LakeTable $path changed non-append at v$v (${c.action}); " +
            "a rewrite would replay rows — stream from a fresh checkpoint instead")
      added ++= c.dirs.filterNot(prev)
      prev = c.dirs.toSet
    }
    added.result()
  }

  override def initialOffset(): Offset = startOffset()
  override def latestOffset(): Offset = LakeVersionOffset(current)
  override protected def firstVersionAtOrAfter(millis: Long): Long = {
    val head = current
    (0L to head).find(v => scala.util.Try(LakeTable.readCommit(spark, path, v).ts)
      .toOption.exists(_ >= millis)).getOrElse(head + 1)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[LakeVersionOffset].version
    val e = end.asInstanceOf[LakeVersionOffset].version
    if (e <= s) return Array.empty
    val dirs = addedDirs(s, e).map(d => new Path(path, d).toString)
    if (dirs.isEmpty) Array.empty
    else innerBatch(LakeTable.meta(spark, path).partitionBy, dirs).planInputPartitions()
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // Parquet's factory is bound to schema/conf, not to a file list —
    // one factory serves every batch's FilePartitions.
    val st = LakeTable.state(spark, path)
    innerBatch(st.meta.partitionBy, st.commit.dirs.map(d => new Path(path, d).toString))
      .createReaderFactory()
  }

  override def deserializeOffset(json: String): Offset =
    LakeVersionOffset(""""version"\s*:\s*(-?\d+)""".r.findFirstMatchIn(json).getOrElse(
      throw new IllegalStateException(
        s"malformed graft offset '$json' in the checkpoint for $path — " +
          "restart the stream from a fresh checkpoint")).group(1).toLong)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Streaming (and batch) read of the PERSISTED change feed
  * (`LakeTable.enableCdc`): offsets are table versions; each
  * micro-batch reads exactly the feed contributions of the commits in
  * (start, end] — never a diff join at read time. Row-mutating
  * commits contribute their `_cdc/` change files; APPEND commits
  * contribute their own data group with `change_type='insert'` and
  * `_commit_version` synthesized per partition (the Delta
  * insert-only-commit optimization: appends with the feed on write
  * nothing twice). Commits without a cdc entry (pre-enablement
  * history, compaction/clustering rewrites, pruned no-op DML)
  * contribute no rows, so layout maintenance never disturbs the feed —
  * unlike the data-dir source above, which must REJECT rewrites.
  * Replaying a checkpointed range re-reads the same immutable files:
  * exactly-once across restarts comes from version offsets alone.
  */
final case class CdcSlicePartition(inner: InputPartition, version: Long,
    synthetic: Boolean) extends InputPartition

/** Dispatches real slices to parquet's reader and wraps synthetic
  * (append-group) slices with the two constant columns via reused
  * JoinedRows — no per-row allocation. Row-based throughout: one scan
  * cannot mix columnar and row partitions, and feed batches are
  * incremental; the vectorized bulk path is LakeTable.readChangeFeed.
  */
final class CdcReaderFactory(real: PartitionReaderFactory,
    synth: PartitionReaderFactory, hasType: Boolean, hasVer: Boolean)
    extends PartitionReaderFactory {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
  import org.apache.spark.sql.connector.read.PartitionReader
  import org.apache.spark.unsafe.types.UTF8String

  override def supportColumnarReads(p: InputPartition): Boolean = false

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = p match {
    case CdcSlicePartition(inner, _, false) => real.createReader(inner)
    case CdcSlicePartition(inner, v, true) =>
      val r = synth.createReader(inner)
      val typeRow = new GenericInternalRow(Array[Any](UTF8String.fromString("insert")))
      val verRow = new GenericInternalRow(Array[Any](v))
      val j1 = new JoinedRow; val j2 = new JoinedRow
      new PartitionReader[InternalRow] {
        override def next(): Boolean = r.next()
        override def get(): InternalRow = {
          val d = r.get()
          if (hasType && hasVer) j2.apply(j1.apply(typeRow, d), verRow)
          else if (hasType) j1.apply(typeRow, d)
          else if (hasVer) j1.apply(d, verRow)
          else d
        }
        override def close(): Unit = r.close()
      }
    case other => real.createReader(other)
  }
}

/** Shared slice planning for the batch and streaming feed reads:
  * change-file dirs plan through one parquet scan (full pushdown);
  * each append group plans its own scan (per-version partitions, no
  * filter push — Spark re-applies every data filter above the scan,
  * so skipping the push costs only the skipping, never correctness).
  */
private[sources] final class CdcPlanning(spark: SparkSession, path: String,
    full: StructType, output: StructType,
    pushed: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
    options: CaseInsensitiveStringMap) {

  private val hasType = output.fieldNames.contains("change_type")
  private val hasVer = output.fieldNames.contains("_commit_version")
  private val dataOut = StructType(output.fields.filter(f =>
    f.name != "change_type" && f.name != "_commit_version"))
  private val dataFull = StructType(full.fields.filter(f =>
    f.name != "change_type" && f.name != "_commit_version"))

  private def realBuilder(dirs: Seq[String]) = {
    val b = ParquetTable(s"graft-cdc.`$path`", spark, options, dirs, Some(full),
      classOf[ParquetFileFormat]).newScanBuilder(options)
    if (pushed.nonEmpty) b.pushFilters(pushed)
    b.pruneColumns(output)
    b
  }

  private def synthBuilder(dirs: Seq[String]) = {
    val b = ParquetTable(s"graft-cdc.`$path`", spark, options, dirs, Some(dataFull),
      classOf[ParquetFileFormat]).newScanBuilder(options)
    b.pruneColumns(dataOut)
    b
  }

  def partitions(slices: Seq[LakeTable.CdcSlice]): Array[InputPartition] = {
    val (synth, real) = slices.partition(_.synthetic)
    val out = Array.newBuilder[InputPartition]
    if (real.nonEmpty)
      out ++= realBuilder(real.map(_.dirPath)).build().toBatch.planInputPartitions()
        .map(CdcSlicePartition(_, -1L, synthetic = false))
    synth.foreach { sl =>
      out ++= synthBuilder(Seq(sl.dirPath)).build().toBatch.planInputPartitions()
        .map(CdcSlicePartition(_, sl.version, synthetic = true))
    }
    out.result()
  }

  /** Factories bind schema+conf, not file lists — one pair serves
    * every batch of the stream.
    */
  def factory(slices: Seq[LakeTable.CdcSlice]): PartitionReaderFactory = {
    // Current dirs are construction HINTS only (factories bind
    // schema+conf, not file lists); empty lists work, just noisier logs.
    val (synth, real) = slices.partition(_.synthetic)
    new CdcReaderFactory(
      realBuilder(real.map(_.dirPath)).build().toBatch.createReaderFactory(),
      synthBuilder(synth.map(_.dirPath)).build().toBatch.createReaderFactory(),
      hasType, hasVer)
  }
}

final class LakeCdcMicroBatchStream(spark: SparkSession, path: String,
    schema: StructType, options: CaseInsensitiveStringMap,
    pushed: Seq[org.apache.spark.sql.catalyst.expressions.Expression] = Nil,
    prunedSchema: Option[StructType] = None)
    extends MicroBatchStream with VersionAdmission {

  private def current: Long = LakeTable.currentVersion(spark, path)
    .getOrElse(throw new IllegalArgumentException(s"no LakeTable at $path"))
  override protected def headVersion: Long = current
  override protected def admissionOptions: CaseInsensitiveStringMap = options

  private val planning =
    new CdcPlanning(spark, path, schema, prunedSchema.getOrElse(schema), pushed, options)

  override def initialOffset(): Offset = startOffset()
  override def latestOffset(): Offset = LakeVersionOffset(current)
  override protected def firstVersionAtOrAfter(millis: Long): Long = {
    val head = current
    (0L to head).find(v => scala.util.Try(LakeTable.readCommit(spark, path, v).ts)
      .toOption.exists(_ >= millis)).getOrElse(head + 1)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[LakeVersionOffset].version
    val e = end.asInstanceOf[LakeVersionOffset].version
    if (e <= s) return Array.empty
    planning.partitions(LakeTable.cdcSlices(spark, path, s, e))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    planning.factory(LakeTable.cdcSlices(spark, path, -1L, current))

  override def deserializeOffset(json: String): Offset =
    LakeVersionOffset(""""version"\s*:\s*(-?\d+)""".r.findFirstMatchIn(json).getOrElse(
      throw new IllegalStateException(
        s"malformed graft-cdc offset '$json' for $path — " +
          "delete the checkpoint to restart the feed")).group(1).toLong)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** Scan for the change feed: batch plans the version-ranged slices
  * through [[CdcPlanning]]; streaming replays the same negotiated
  * pushdown through [[LakeCdcMicroBatchStream]].
  */
final class GraftCdcScan(spark: SparkSession, path: String,
    full: StructType, output: StructType, options: CaseInsensitiveStringMap,
    pushed: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
    pushedPredicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate],
    fromExclusive: Long, toInclusive: Long) extends Scan {
  override def readSchema(): StructType = output
  override def description(): String =
    s"graft-cdc.`$path` versions ($fromExclusive, $toInclusive] " +
      s"PushedFilters: [${pushedPredicates.mkString(", ")}], " +
      s"ReadSchema: ${output.simpleString}"
  override def toBatch: Batch = new Batch {
    private val planning = new CdcPlanning(spark, path, full, output, pushed, options)
    override def planInputPartitions(): Array[InputPartition] =
      planning.partitions(LakeTable.cdcSlices(spark, path, fromExclusive, toInclusive))
    override def createReaderFactory(): PartitionReaderFactory =
      planning.factory(LakeTable.cdcSlices(spark, path, fromExclusive, toInclusive))
  }
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new LakeCdcMicroBatchStream(spark, path, full, options, pushed,
      Some(output).filterNot(_ == full))
}

/** Scan builder for the change feed: delegates filter pushdown and
  * column pruning to Spark's parquet builder, and additionally mines
  * `_commit_version` bounds from the pushed conjuncts to skip WHOLE
  * feed slices (dir ↔ version is known from the log, so a "changes
  * since v" query never opens older change files or append groups).
  */
final class GraftCdcScanBuilder(spark: SparkSession, path: String,
    schema: StructType, options: CaseInsensitiveStringMap)
    extends org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {
  import org.apache.spark.sql.catalyst.expressions.{And => CAnd, AttributeReference, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, Literal}

  private val cur = LakeTable.currentVersion(spark, path)
    .getOrElse(throw new IllegalArgumentException(s"no LakeTable at $path"))

  // Probe over the change-file slices only: it answers the pushdown
  // negotiation (file sources keep every data filter as a post-scan
  // residual, so the answer is slice-independent).
  private val probe = ParquetTable(s"graft-cdc.`$path`", spark, options,
    LakeTable.cdcSlices(spark, path, -1L, cur).filterNot(_.synthetic).map(_.dirPath),
    Some(schema), classOf[ParquetFileFormat]).newScanBuilder(options)
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

  /** Inclusive [lo, hi] on `_commit_version` from top-level conjuncts. */
  private def versionRange(): (Long, Long) = {
    var lo = 0L; var hi = cur
    def lit(e: Expression): Option[Long] = e match {
      case Literal(n: Number, _) => Some(n.longValue())
      case _ => None
    }
    def isV(e: Expression): Boolean = e match {
      case a: AttributeReference => a.name == "_commit_version"
      case _ => false
    }
    def walk(e: Expression): Unit = e match {
      case CAnd(l, r) => walk(l); walk(r)
      case EqualTo(a, l) if isV(a) => lit(l).foreach { v => lo = lo.max(v); hi = hi.min(v) }
      case EqualTo(l, a) if isV(a) => lit(l).foreach { v => lo = lo.max(v); hi = hi.min(v) }
      case GreaterThan(a, l) if isV(a) => lit(l).foreach(v => lo = lo.max(v + 1))
      case GreaterThanOrEqual(a, l) if isV(a) => lit(l).foreach(v => lo = lo.max(v))
      case LessThan(a, l) if isV(a) => lit(l).foreach(v => hi = hi.min(v - 1))
      case LessThanOrEqual(a, l) if isV(a) => lit(l).foreach(v => hi = hi.min(v))
      case GreaterThan(l, a) if isV(a) => lit(l).foreach(v => hi = hi.min(v - 1))
      case GreaterThanOrEqual(l, a) if isV(a) => lit(l).foreach(v => hi = hi.min(v))
      case LessThan(l, a) if isV(a) => lit(l).foreach(v => lo = lo.max(v + 1))
      case LessThanOrEqual(l, a) if isV(a) => lit(l).foreach(v => lo = lo.max(v))
      case _ => ()
    }
    pushed.foreach(walk)
    (lo, hi)
  }

  override def build(): Scan = {
    val (lo, hi) = versionRange()
    new GraftCdcScan(spark, path, schema, prunedSchema.getOrElse(schema),
      options, pushed, probe.pushedFilters, lo - 1, hi.min(cur))
  }
}

/** One storage partition of a graft table as a join-ready input split:
  * all files sharing a partition tuple, keyed for Spark's
  * storage-partitioned join machinery. Not a case class, but the
  * FilePartition unapply still matches it (the parquet reader factory
  * pattern-matches its input), and HasPartitionKey is what
  * BatchScanExec groups on.
  */
final class GraftKeyedFilePartition(index: Int,
    files: Array[org.apache.spark.sql.execution.datasources.PartitionedFile],
    key: org.apache.spark.sql.catalyst.InternalRow)
    extends org.apache.spark.sql.execution.datasources.FilePartition(index, files)
    with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): org.apache.spark.sql.catalyst.InternalRow = key
}

/** Scan wrapper: batch behavior delegates untouched to the inner
  * parquet V2 scan; streaming resolves to the commit-log micro-batch
  * stream above.
  *
  * STORAGE-PARTITIONED JOINS (the Iceberg SPJ capability): for a
  * partitioned table whose partition columns survive column pruning,
  * the scan reports KeyGroupedPartitioning and regroups the inner
  * scan's file splits into ONE split per partition tuple — two graft
  * tables partitioned on the join key then sort-merge-join with NO
  * exchange on either side (Spark aligns the key-grouped partitions).
  * Gated on spark.sql.sources.v2.bucketing.enabled (on by default in
  * GraftSession); when the report is inapplicable the batch stays
  * exactly the inner scan's. The trade is SPJ's own: one task per
  * storage partition, so partition sizing governs parallelism.
  */
final class GraftStreamableScan(val inner: Scan, spark: SparkSession, val path: String,
    st: LakeTable.State, schema: StructType, options: CaseInsensitiveStringMap,
    partSchema: StructType = new StructType(),
    snapshotStats: Boolean = false) extends Scan
    with org.apache.spark.sql.connector.read.SupportsReportPartitioning
    with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  /** Planner statistics: bytes delegated to the wrapped FileScan
    * (post-pruning listed sizes). Without this report a DSv2
    * relation's size falls back to `defaultSizeInBytes` (effectively
    * infinite), so an unhinted catalog-SQL join against even a 5-row
    * graft dim plans a shuffle join — and in AQE-less contexts
    * (stateful streaming) nothing ever corrects it. With it, small
    * graft tables auto-broadcast exactly like parquet path tables.
    * When the scan covers the WHOLE snapshot (`snapshotStats`), the
    * report adds exact sidecar row counts and the stored ANALYZE
    * column statistics (NDV, lengths, footer-exact nulls) — what
    * Spark's own CBO keys join-order decisions on.
    */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    val base = inner match {
      case s: org.apache.spark.sql.connector.read.SupportsReportStatistics =>
        Some(s.estimateStatistics())
      case _ => None
    }
    val baseRows = base.fold(java.util.OptionalLong.empty())(_.numRows())
    val (rows, cstats) =
      if (snapshotStats) {
        val (n, cs) = LakeTable.v2Stats(spark, path, st, inner.readSchema().fieldNames.toSeq)
        (if (n.isPresent) n else baseRows, cs)
      } else (baseRows, new java.util.HashMap[
        org.apache.spark.sql.connector.expressions.NamedReference,
        org.apache.spark.sql.connector.read.colstats.ColumnStatistics]())
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        base.fold(java.util.OptionalLong.empty())(_.sizeInBytes())
      override def numRows(): java.util.OptionalLong = rows
      override def columnStats(): java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference,
          org.apache.spark.sql.connector.read.colstats.ColumnStatistics] = cstats
    }
  }

  import org.apache.spark.sql.execution.datasources.{FilePartition, PartitionedFile}

  // ---- Runtime filtering (dynamic partition pruning, DSv2) ---------
  //
  // The optimizer's PartitionPruning rule injects a DynamicPruning
  // subquery against any SupportsRuntimeV2Filtering scan whose
  // filterAttributes cover the join key; at execution BatchScanExec
  // calls filter() with the build side's distinct key values as an
  // `IN` predicate, then re-plans input partitions. We honor it by
  // dropping every file whose PARTITION VALUES cannot match — the
  // star-join pattern at 100 TB: a fact table partitioned on the dim
  // key scans only the partitions the filtered dim actually selects,
  // without the user writing any partition predicate.
  //
  // Only partition columns are offered (file-level stats skipping
  // stays the job of the planning-time sidecar pruning): a column is
  // offered only when it survives column pruning, because the
  // optimizer resolves filterAttributes against the pruned relation
  // output and would fail on a name that is no longer there.
  private var runtimeIn: Map[String, Set[Any]] = Map.empty

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    partSchema.fieldNames.filter(readSchema().fieldNames.contains)
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    val parsed = predicates.toSeq.flatMap { p =>
      if (p.name() != "IN") None
      else p.children().toSeq match {
        case (ref: org.apache.spark.sql.connector.expressions.NamedReference) +: values
            if ref.fieldNames().length == 1 &&
              values.forall(
                _.isInstanceOf[org.apache.spark.sql.connector.expressions.Literal[_]]) =>
          Some(ref.fieldNames()(0) ->
            values.map(
              _.asInstanceOf[org.apache.spark.sql.connector.expressions.Literal[_]]
                .value().asInstanceOf[Any]).toSet)
        case _ => None
      }
    }.toMap
    // Unrecognized predicate shapes are simply not applied (sound:
    // Spark re-applies every filter on the rows the scan returns).
    if (parsed.nonEmpty) runtimeIn = runtimeIn ++ parsed
  }

  /** Inner FileScan's partition schema AFTER column pruning — the
    * layout `PartitionedFile.partitionValues` rows are projected to.
    */
  private def readPartSchema: StructType = inner match {
    case f: org.apache.spark.sql.execution.datasources.v2.FileScan =>
      f.readPartitionSchema
    case _ => new StructType()
  }

  private def fileSurvives(f: PartitionedFile, rps: StructType): Boolean =
    runtimeIn.forall { case (c, set) =>
      val i = rps.fieldNames.indexOf(c)
      i < 0 || set.contains(f.partitionValues.get(i, rps.fields(i).dataType))
    }

  /** Batch view with the runtime IN filters applied file-wise; falls
    * back to the unfiltered partitions when a split shape is not
    * file-based (never wrong, just unpruned).
    */
  private def runtimeFiltered(b: Batch): Batch =
    if (runtimeIn.isEmpty) b
    else new Batch {
      override def planInputPartitions()
          : Array[org.apache.spark.sql.connector.read.InputPartition] = {
        val parts = b.planInputPartitions()
        val rps = readPartSchema
        if (rps.isEmpty || !parts.forall(_.isInstanceOf[FilePartition])) parts
        else {
          val kept = parts.iterator.flatMap {
            case k: GraftKeyedFilePartition =>
              // One storage partition per key tuple: test any file.
              if (k.files.isEmpty || fileSurvives(k.files.head, rps)) Some(Left(k))
              else None
            case fp: FilePartition =>
              val fs = fp.files.filter(fileSurvives(_, rps))
              if (fs.isEmpty) None else Some(Right(fs))
            case _ => None // unreachable: guarded by forall above
          }.toArray
          kept.zipWithIndex.map {
            // Keyed groups keep their partition key (SPJ alignment).
            case (Left(k), i) => new GraftKeyedFilePartition(i, k.files, k.partitionKey())
              : org.apache.spark.sql.connector.read.InputPartition
            case (Right(fs), i) => FilePartition(i, fs)
              : org.apache.spark.sql.connector.read.InputPartition
          }
        }
      }
      override def createReaderFactory() = b.createReaderFactory()
    }

  private def spjEnabled: Boolean = partSchema.nonEmpty &&
    spark.conf.get("spark.sql.sources.v2.bucketing.enabled", "false") == "true" &&
    partSchema.fieldNames.forall(c => readSchema().fieldNames.contains(c))

  /** Inner splits regrouped per partition tuple (computed once). */
  private lazy val keyedPartitions: Array[org.apache.spark.sql.connector.read.InputPartition] = {
    val inputs = inner.toBatch.planInputPartitions()
    val files = inputs.flatMap {
      case FilePartition(_, fs) => fs
      case other => throw new IllegalStateException(s"unexpected split $other")
    }
    val keyOf = (f: PartitionedFile) =>
      partSchema.fields.indices.map(i =>
        f.partitionValues.get(i, partSchema.fields(i).dataType)).toIndexedSeq
    files.groupBy(keyOf).toSeq.sortBy(_._1.toString).zipWithIndex.map {
      case ((_, fs), i) =>
        new GraftKeyedFilePartition(i, fs, fs.head.partitionValues.copy())
          : org.apache.spark.sql.connector.read.InputPartition
    }.toArray
  }

  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    // nonEmpty guard: an EMPTY partitioned table must not report a
    // zero-partition key grouping — stay unknown, the scan is empty.
    if (spjEnabled && keyedPartitions.nonEmpty)
      new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
        partSchema.fieldNames.map(c =>
          org.apache.spark.sql.connector.expressions.Expressions.identity(c)
            : org.apache.spark.sql.connector.expressions.Expression),
        keyedPartitions.length)
    else new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
  // Identity delegates to (inner, path): the wrapped ParquetScan is a
  // case class that canonicalizes structurally, and reference equality
  // here would defeat the planner's scan/exchange reuse when one query
  // scans the same graft table twice.
  override def equals(other: Any): Boolean = other match {
    case g: GraftStreamableScan => inner == g.inner && path == g.path
    case _ => false
  }
  override def hashCode(): Int = 31 * inner.hashCode() + path.hashCode
  override def readSchema(): StructType = inner.readSchema()
  override def toBatch: Batch =
    if (!spjEnabled) runtimeFiltered(inner.toBatch)
    else runtimeFiltered(new Batch {
      override def planInputPartitions() = keyedPartitions
      override def createReaderFactory() = inner.toBatch.createReaderFactory()
    })
  override def description(): String = inner.description()
  override def columnarSupportMode(): Scan.ColumnarSupportMode = inner.columnarSupportMode()
  override def supportedCustomMetrics(): Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    inner.supportedCustomMetrics()
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new LakeMicroBatchStream(spark, path, schema, options)
}
