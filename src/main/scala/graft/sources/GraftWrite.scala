package graft.sources

import java.util.UUID

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, UnsafeProjection}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsDynamicOverwrite, SupportsOverwriteV2, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.graftglue.Glue
import org.apache.spark.sql.types.{StringType, StructType}

/** Native DSv2 write path for the graft Table (round-4 verdict item:
  * replace the V1Write fallback). Tasks stream InternalRows straight
  * into parquet files inside a STAGED group dir under the table root —
  * one writer per (task × partition leaf), Hive-style `col=value`
  * subdirs for partitioned tables, no DataFrame re-entry — and the
  * driver turns the staged dir into a LakeTable commit
  * ([[LakeTable.commitStaged]]): append, history-preserving full
  * overwrite, predicate overwrite (static INSERT OVERWRITE PARTITION),
  * or DYNAMIC partition overwrite (previously rejected, B34).
  *
  * The same factory serves [[StreamingWrite]]: each epoch stages its
  * own dir and commits with a `(queryId, epochId)` txn marker, so a
  * replayed micro-batch after a restart is skipped — the native
  * `writeStream.format("graft")` sink is exactly-once by the same
  * mechanism as [[LakeTable.appendOnce]] (C20).
  *
  * Task-attempt safety at cluster scale: every task message names the
  * exact files it wrote; the commit deletes anything else in the
  * staged dir, so zombie or speculative attempts the scheduler
  * abandoned cannot leak duplicate rows.
  */
private[sources] object GraftWriteUtil {
  /** Mirror of the V1 fallback's alignment contract (ACCEPT_ANY_SCHEMA
    * hands data over unaligned): name-matched writes pass through
    * (schema evolution by name keeps working); otherwise same-arity
    * writes align BY POSITION and cast to the table's column types.
    */
  def targetSchema(spark: SparkSession, path: String, base: Option[LakeTable.State],
      incoming: StructType): StructType = {
    val t = base match {
      case None => return incoming
      case Some(st) => LakeTable.tableSchema(spark, path, st)
    }
    val byName = incoming.fieldNames.forall(c => t.fieldNames.exists(_.equalsIgnoreCase(c)))
    if (byName)
      // Name-matched writes still NORMALIZE each column to the table's
      // type when the incoming one is a lossless up-cast away (INT
      // literal into a BIGINT column — the ACCEPT_ANY_SCHEMA table
      // never sees Spark's TableOutputResolver casts): storing the
      // narrower physical type would make the groups' footer schemas
      // unmergeable (CANNOT_MERGE_INCOMPATIBLE_DATA_TYPE) and every
      // later read a per-root union.
      StructType(incoming.fields.map { f =>
        t.fields.find(_.name.equalsIgnoreCase(f.name)) match {
          case Some(tf) if tf.dataType != f.dataType &&
              Cast.canUpCast(f.dataType, tf.dataType) => f.copy(dataType = tf.dataType)
          case _ => f
        }
      })
    else if (incoming.length == t.length) StructType(t.fields.toIndexedSeq)
    else throw new IllegalArgumentException(
      s"cannot align ${incoming.length} written columns to " +
        s"table schema ${t.fieldNames.mkString("(", ",", ")")} by position or name")
  }

  /** CHECK constraints compiled against the write's target schema:
    * analyzed + ordinal-bound on the DRIVER (name resolution and type
    * coercion need the session), shipped to tasks as serializable
    * Expressions for per-row Predicate evaluation. NULL passes.
    */
  def boundChecks(spark: SparkSession, m: LakeTable.TableMeta, target: StructType)
      : Seq[(String, org.apache.spark.sql.catalyst.expressions.Expression)] =
    m.checks.map { case (n, sql) =>
      n -> Glue.boundExpression(spark, s"coalesce(($sql), true)", target)
    }
}

private[sources] sealed trait GraftWriteMode
private[sources] object GraftWriteMode {
  case object Append extends GraftWriteMode
  case object Truncate extends GraftWriteMode
  final case class OverwritePred(pred: org.apache.spark.sql.Column) extends GraftWriteMode
  case object Dynamic extends GraftWriteMode
}

final class GraftWriteBuilder(path: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate with SupportsOverwriteV2
    with SupportsDynamicOverwrite {
  import org.apache.spark.sql.connector.expressions.filter.Predicate

  private var mode: GraftWriteMode = GraftWriteMode.Append

  override def truncate(): WriteBuilder = { mode = GraftWriteMode.Truncate; this }

  override def overwriteDynamicPartitions(): WriteBuilder = {
    mode = GraftWriteMode.Dynamic; this
  }

  override def canOverwrite(predicates: Array[Predicate]): Boolean =
    predicates.forall(GraftPredicates.toColumn(_).isDefined)

  override def overwrite(predicates: Array[Predicate]): WriteBuilder = {
    val cols = predicates.flatMap(GraftPredicates.toColumn(_))
    mode =
      if (cols.length != predicates.length || cols.isEmpty) GraftWriteMode.Truncate
      else GraftWriteMode.OverwritePred(cols.reduce(_ && _))
    this
  }

  override def build(): Write = new GraftWrite(path, info, mode)
}

final class GraftWrite(path: String, info: LogicalWriteInfo, mode: GraftWriteMode)
    extends Write
    with org.apache.spark.sql.connector.write.RequiresDistributionAndOrdering {

  /** The table state this write plans and stages under (None for the
    * first write to a fresh path), and its meta.
    */
  private val base: Option[LakeTable.State] =
    LakeTable.head(org.apache.spark.sql.graftglue.Glue.activeSession, path)
  private val meta = base.fold(LakeTable.TableMeta.empty)(_.meta)

  /** Writes to a PARTITIONED table request a clustered distribution on
    * the partition columns: without it every task holds an open writer
    * for every partition it sees — at 1000 executors × P partitions
    * that is 1000·P small files per write and 1000·P open writer
    * buffers. Clustering routes each partition's rows to one task
    * (the Delta optimized-write shape), so files-per-write ∝ P.
    * Gated off when the incoming columns don't carry the partition
    * names (positional VALUES inserts — the distribution expression
    * could not resolve).
    */
  private val clusterCols: Seq[String] = {
    val names = info.schema().fieldNames
    // use the INCOMING spelling of each partition column so the
    // distribution expressions resolve against the query output
    val resolved = meta.partitionBy.flatMap(p => names.find(_.equalsIgnoreCase(p)))
    if (resolved.length == meta.partitionBy.length) resolved else Nil
  }

  /** Columns of the recorded write sort order (B43, the Iceberg
    * write.sort.by property), resolved against the incoming spelling;
    * empty when unset or unresolvable (positional inserts).
    */
  private val sortCols: Seq[String] = {
    val names = info.schema().fieldNames
    val resolved = meta.sortBy.flatMap(c => names.find(_.equalsIgnoreCase(c)))
    if (resolved.length == meta.sortBy.length) resolved else Nil
  }

  private def sortOrderOf(c: String) =
    org.apache.spark.sql.connector.expressions.Expressions.sort(
      org.apache.spark.sql.connector.expressions.Expressions.identity(c),
      org.apache.spark.sql.connector.expressions.SortDirection.ASCENDING)

  /** Partitioned tables cluster by partition; a FLAT table with a
    * recorded sort order range-distributes on it instead, so the
    * staged files land with pairwise-DISJOINT min/max ranges — the
    * layout the footer-stats pruner (B18) turns into point reads that
    * open one file.
    */
  override def requiredDistribution(): org.apache.spark.sql.connector.distributions.Distribution =
    if (clusterCols.nonEmpty)
      org.apache.spark.sql.connector.distributions.Distributions.clustered(
        clusterCols.map(c => org.apache.spark.sql.connector.expressions.Expressions.identity(c)
          .asInstanceOf[org.apache.spark.sql.connector.expressions.Expression]).toArray)
    else if (sortCols.nonEmpty)
      org.apache.spark.sql.connector.distributions.Distributions.ordered(
        sortCols.map(sortOrderOf).toArray)
    else
      org.apache.spark.sql.connector.distributions.Distributions.unspecified()

  /** In-task order: partition columns first (rows for one leaf arrive
    * contiguously, so a leaf's writer sees one run), then the recorded
    * sort columns (rows inside each file are sorted — page-level
    * stats stay tight even within a file).
    */
  override def requiredOrdering(): Array[org.apache.spark.sql.connector.expressions.SortOrder] =
    (clusterCols ++ sortCols).map(sortOrderOf).toArray

  /** Target bytes per write-shuffle partition (≈ target file size, the
    * Delta/Iceberg write.target-file-size knob): AQE splits/coalesces
    * the required-distribution shuffle toward this size, so file count
    * tracks data volume instead of spark.sql.shuffle.partitions.
    * 0 = session default advisory.
    */
  override def advisoryPartitionSizeInBytes(): Long =
    org.apache.spark.sql.graftglue.Glue.activeSession.conf
      .getOption("spark.graft.write.advisoryPartitionBytes").map(_.toLong).getOrElse(0L)

  override def toBatch: BatchWrite = new GraftBatchWrite(path, info, mode, base)
  override def toStreaming: StreamingWrite = new GraftStreamingWrite(path, info, mode, base)
}

final class GraftBatchWrite(path: String, info: LogicalWriteInfo, mode: GraftWriteMode,
    base: Option[LakeTable.State]) extends BatchWrite {

  private def spark: SparkSession = org.apache.spark.sql.graftglue.Glue.activeSession
  private val meta = base.fold(LakeTable.TableMeta.empty)(_.meta)
  private val incoming = info.schema()
  private val target = GraftWriteUtil.targetSchema(spark, path, base, incoming)
  private val partCols = meta.partitionBy
  // Fail at planning, not as an opaque task failure on an executor.
  partCols.foreach { c =>
    require(target.fieldNames.exists(_.equalsIgnoreCase(c)),
      s"write to partitioned table $path must supply partition column $c; " +
        s"got ${target.fieldNames.mkString("(", ",", ")")}")
  }
  private val stagedDir = s"d${base.fold(0L)(_.version + 1)}-${UUID.randomUUID.toString.take(8)}"

  override def createBatchWriterFactory(pInfo: PhysicalWriteInfo): DataWriterFactory =
    new GraftWriterFactory(path, stagedDir, incoming, target, partCols,
      spark.conf.get("spark.sql.session.timeZone"),
      Glue.broadcastConf(spark.sparkContext, Glue.sessionHadoopConf(spark)),
      GraftWriteUtil.boundChecks(spark, meta, target))

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val files = messages.toSeq.flatMap {
      case GraftCommitMessage(fs) => fs
      case _ => Nil
    }
    val staged = mode match {
      case GraftWriteMode.Append => LakeTable.StagedMode.Append
      case GraftWriteMode.Truncate => LakeTable.StagedMode.Overwrite
      case GraftWriteMode.OverwritePred(p) => LakeTable.StagedMode.ReplaceWhere(p)
      case GraftWriteMode.Dynamic => LakeTable.StagedMode.DynamicPartitions
    }
    LakeTable.commitStaged(spark, path, stagedDir, files, staged)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val p = new Path(path, stagedDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
  }
}

/** Per-epoch staged dirs + txn-marked commits = exactly-once streaming
  * sink. Append mode appends each epoch; Complete (truncate) mode
  * replaces the table each epoch (history-preserving).
  */
final class GraftStreamingWrite(path: String, info: LogicalWriteInfo, mode: GraftWriteMode,
    base: Option[LakeTable.State]) extends StreamingWrite {

  private def spark: SparkSession = org.apache.spark.sql.graftglue.Glue.activeSession
  private val meta = base.fold(LakeTable.TableMeta.empty)(_.meta)
  private val incoming = info.schema()
  private val target = GraftWriteUtil.targetSchema(spark, path, base, incoming)
  private val partCols = meta.partitionBy
  partCols.foreach { c =>
    require(target.fieldNames.exists(_.equalsIgnoreCase(c)),
      s"streaming write to partitioned table $path must supply partition column $c; " +
        s"got ${target.fieldNames.mkString("(", ",", ")")}")
  }
  // Stable across restarts (checkpointed): the idempotence key.
  private val appId = info.queryId()
  private val dirPrefix = s"ds-${UUID.randomUUID.toString.take(8)}"
  private def epochDir(epochId: Long) = s"$dirPrefix-e$epochId"

  override def createStreamingWriterFactory(pInfo: PhysicalWriteInfo): StreamingDataWriterFactory =
    new GraftWriterFactory(path, dirPrefix, incoming, target, partCols,
      spark.conf.get("spark.sql.session.timeZone"),
      Glue.broadcastConf(spark.sparkContext, Glue.sessionHadoopConf(spark)),
      GraftWriteUtil.boundChecks(spark, meta, target))

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val dir = epochDir(epochId)
    val files = messages.toSeq.flatMap {
      case GraftCommitMessage(fs) => fs
      case _ => Nil
    }
    val staged = mode match {
      case GraftWriteMode.Truncate => LakeTable.StagedMode.Overwrite
      case _ => LakeTable.StagedMode.Append
    }
    var attempts = 0
    while (true) {
      // Replayed epoch after a restart (or a racing twin): skip.
      if (LakeTable.txnVersion(spark, path, appId).exists(_ >= epochId)) {
        abort(epochId, messages)
        return
      }
      try {
        LakeTable.commitStaged(spark, path, dir, files, staged, txn = Some(appId -> epochId))
        return
      } catch {
        case e: IllegalStateException =>
          attempts += 1
          if (attempts >= 5) throw e // lost version race repeatedly
      }
    }
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val p = new Path(path, epochDir(epochId))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(p, true)
  }
}

final case class GraftCommitMessage(files: Seq[String]) extends WriterCommitMessage

/** Serializable task-side factory; the streaming overload stages each
  * epoch under `<stagedDir>-e<epochId>` (mirrored by
  * [[GraftStreamingWrite.commit]]).
  */
final class GraftWriterFactory(tablePath: String, stagedDir: String,
    rowSchema: StructType, targetSchema: StructType, partCols: Seq[String],
    tz: String, confB: Broadcast[_],
    checks: Seq[(String, org.apache.spark.sql.catalyst.expressions.Expression)] = Nil)
    extends DataWriterFactory with StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(tablePath, stagedDir, rowSchema, targetSchema, partCols,
      tz, Glue.confOf(confB), partitionId, taskId, checks)

  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new GraftDataWriter(tablePath, s"$stagedDir-e$epochId", rowSchema, targetSchema,
      partCols, tz, Glue.confOf(confB), partitionId, taskId, checks)
}

/** One writer per task: rows are (optionally) positionally cast to the
  * table schema in one codegen'd projection, split by partition value,
  * and appended to a parquet writer per partition leaf. All file
  * handling is task-local; the names go back to the driver in the
  * commit message.
  */
final class GraftDataWriter(tablePath: String, stagedDir: String,
    rowSchema: StructType, targetSchema: StructType, partCols: Seq[String],
    tz: String, conf: Configuration, partitionId: Int, taskId: Long,
    checks: Seq[(String, org.apache.spark.sql.catalyst.expressions.Expression)] = Nil)
    extends DataWriter[InternalRow] {

  // Per-row CHECK enforcement at the write seam (Delta invariant
  // checker shape): one codegen'd predicate per constraint, evaluated
  // on the post-cast row, throwing BEFORE any byte reaches parquet.
  private val checkPreds = checks.map { case (n, e) =>
    val p = org.apache.spark.sql.catalyst.expressions.Predicate.create(e)
    p.initialize(partitionId)
    (n, p)
  }

  private val needsCast = rowSchema != targetSchema
  private val castProj =
    if (!needsCast) null
    else UnsafeProjection.create(targetSchema.fields.zipWithIndex.map { case (f, i) =>
      Cast(BoundReference(i, rowSchema(i).dataType, nullable = true), f.dataType, Option(tz))
    }.toIndexedSeq)

  private val partIdx: Seq[Int] = partCols.map { c =>
    targetSchema.fieldNames.zipWithIndex
      .collectFirst { case (n, i) if n.equalsIgnoreCase(c) => i }
      .getOrElse(throw new IllegalArgumentException(
        s"partition column $c missing from written columns " +
          targetSchema.fieldNames.mkString("(", ",", ")")))
  }
  private val dataIdx: Seq[Int] =
    targetSchema.fields.indices.filterNot(partIdx.contains)
  private val dataSchema = StructType(dataIdx.map(targetSchema.fields).toIndexedSeq)
  private val dataProj =
    if (partCols.isEmpty) null
    else UnsafeProjection.create(dataIdx.map(i =>
      BoundReference(i, targetSchema(i).dataType, nullable = true)).toIndexedSeq)
  private val partStrProj =
    if (partCols.isEmpty) null
    else UnsafeProjection.create(partIdx.map(i =>
      Cast(BoundReference(i, targetSchema(i).dataType, nullable = true),
        StringType, Option(tz))).toIndexedSeq)

  private val writers = mutable.LinkedHashMap.empty[String, org.apache.spark.sql.execution.datasources.OutputWriter]
  private val filesWritten = mutable.ArrayBuffer.empty[String]
  private val uuid = UUID.randomUUID.toString.take(8)

  private def writerFor(leafRel: String) =
    writers.getOrElseUpdate(leafRel, {
      val name = f"part-$partitionId%05d-$taskId-$uuid-${writers.size}.parquet"
      val relFile = if (leafRel.isEmpty) name else s"$leafRel/$name"
      filesWritten += relFile
      Glue.parquetRowWriter(
        new Path(new Path(tablePath, stagedDir), relFile).toString, dataSchema, conf)
    })

  override def write(row: InternalRow): Unit = {
    val r = if (needsCast) castProj(row) else row
    checkPreds.foreach { case (n, p) =>
      if (!p.eval(r))
        throw new IllegalArgumentException(s"CHECK constraint $n violated by written row")
    }
    if (partCols.isEmpty) writerFor("").write(r)
    else {
      val s = partStrProj(r)
      val leaf = partIdx.indices.map { j =>
        val v =
          if (s.isNullAt(j)) "__HIVE_DEFAULT_PARTITION__"
          else Glue.escapePathName(s.getUTF8String(j).toString)
        s"${partCols(j)}=$v"
      }.mkString("/")
      writerFor(leaf).write(dataProj(r))
    }
  }

  override def commit(): WriterCommitMessage = {
    writers.values.foreach(_.close())
    GraftCommitMessage(filesWritten.toSeq)
  }

  override def abort(): Unit = {
    writers.values.foreach(w => try w.close() catch { case NonFatal(_) => () })
    val fs = new Path(tablePath).getFileSystem(conf)
    filesWritten.foreach { rel =>
      try fs.delete(new Path(new Path(tablePath, stagedDir), rel), false)
      catch { case NonFatal(_) => () }
    }
  }

  override def close(): Unit = ()
}
