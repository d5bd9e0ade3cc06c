package org.apache.spark.sql.graftglue

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge between the public Column API and Catalyst Expressions.
  *
  * Spark 4 made Column plan-agnostic (ColumnNode); the conversion
  * helpers live in `org.apache.spark.sql.classic` with `private[sql]`
  * visibility, so this one-file shim sits under org.apache.spark.sql
  * to re-export them for graft's native expressions (graft.plans.*).
  */
object Glue {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Unload every cached state-store provider and stop the
    * maintenance task (they reload lazily on the next stateful
    * query). Spark's own streaming test suites do exactly this
    * between tests: in a long-lived single JVM, each stateful query
    * run leaves per-partition providers (and their on-heap map /
    * RocksDB caches) loaded until maintenance lazily evicts them —
    * accumulated across a 240-query bench they inflate later stream
    * rows' measurements with other queries' state. `StateStore` is
    * private[sql], hence this shim.
    */
  def unloadStateStores(): Unit =
    org.apache.spark.sql.execution.streaming.state.StateStore.stop()

  /** Whether Spark (core or SQL) registers config `key`; a session
    * SET of a registered key is rejected unless SQL marks it
    * modifiable. `ConfigEntry` is private[spark], hence this shim.
    */
  def registeredConf(key: String): Boolean =
    org.apache.spark.internal.config.ConfigEntry.findEntry(key) != null

  /** Connector literal over a Catalyst-internal value (UTF8String,
    * Int, …) — the shape BatchScanExec hands to runtime-filterable
    * scans; the case class is private[sql], hence this shim.
    */
  def connectorLiteral(v: Any, dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.connector.expressions.Expression =
    org.apache.spark.sql.connector.expressions.LiteralValue(v, dt)

  /** Wrap a LogicalPlan into a DataFrame (classic Dataset.ofRows). */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Broadcast the driver's Hadoop configuration for executor-side
    * filesystem/footer access (SerializableConfiguration is
    * private[spark]).
    */
  def broadcastHadoopConf(sc: org.apache.spark.SparkContext)
      : org.apache.spark.broadcast.Broadcast[_ <: java.io.Serializable] =
    org.apache.spark.util.SerializableConfiguration.broadcast(sc)

  def confOf(b: org.apache.spark.broadcast.Broadcast[_]): org.apache.hadoop.conf.Configuration =
    b.value.asInstanceOf[org.apache.spark.util.SerializableConfiguration].value

  /** The active CLASSIC session. The unified `SparkSession.active`
    * can resolve to a Spark Connect CLIENT session (which has no
    * SparkContext and throws on any engine-side use) when a connect
    * client ran in-process — engine code must bind to the classic
    * one.
    */
  def activeSession: org.apache.spark.sql.SparkSession =
    org.apache.spark.sql.classic.SparkSession.active

  /** The session-level Hadoop configuration WITH the SQL confs folded
    * in (what FileFormat writers expect to read their settings from).
    */
  def sessionHadoopConf(spark: org.apache.spark.sql.SparkSession): org.apache.hadoop.conf.Configuration =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.newHadoopConf()

  /** Broadcast an arbitrary Hadoop configuration (the hadoopConf
    * overload of [[broadcastHadoopConf]]).
    */
  def broadcastConf(sc: org.apache.spark.SparkContext,
      conf: org.apache.hadoop.conf.Configuration)
      : org.apache.spark.broadcast.Broadcast[_ <: java.io.Serializable] =
    sc.broadcast(new org.apache.spark.util.SerializableConfiguration(conf))

  /** Task-side parquet writer for InternalRow — the piece a native
    * DSv2 DataWriter needs. Wires ParquetWriteSupport exactly as
    * ParquetFileFormat.prepareWrite does (schema + legacy-format +
    * timestamp-type + rebase keys, defensively defaulted when the
    * shipped conf lacks them) and opens Spark's own ParquetOutputWriter
    * at `file`, so the bytes written are indistinguishable from a
    * DataFrame parquet write.
    */
  def parquetRowWriter(file: String, dataSchema: org.apache.spark.sql.types.StructType,
      conf: org.apache.hadoop.conf.Configuration)
      : org.apache.spark.sql.execution.datasources.OutputWriter = {
    import org.apache.hadoop.mapreduce.{TaskAttemptID, TaskID, TaskType, JobID}
    import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
    import org.apache.parquet.hadoop.ParquetOutputFormat
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetOutputWriter, ParquetWriteSupport}
    import org.apache.spark.sql.internal.SQLConf
    val c = new org.apache.hadoop.conf.Configuration(conf)
    ParquetWriteSupport.setSchema(dataSchema, c)
    c.set(ParquetOutputFormat.WRITE_SUPPORT_CLASS, classOf[ParquetWriteSupport].getName)
    // ParquetWriteSupport.init / SparkToParquetSchemaConverter read
    // these SQLConf entries from the Hadoop conf with no fallback;
    // default any the shipped session conf didn't carry explicitly.
    Seq(SQLConf.PARQUET_WRITE_LEGACY_FORMAT,
      SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE,
      SQLConf.PARQUET_REBASE_MODE_IN_WRITE,
      SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE,
      SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED,
      SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE)
      .foreach(e => c.setIfUnset(e.key, e.defaultValueString))
    c.setIfUnset(ParquetOutputFormat.COMPRESSION, "snappy")
    val attempt = new TaskAttemptID(new TaskID(new JobID("graft", 0), TaskType.MAP, 0), 0)
    new ParquetOutputWriter(file, new TaskAttemptContextImpl(c, attempt))
  }

  /** Analyze a boolean Column as a filter over a relation of
    * `schema`: names resolve and implicit casts land exactly as in a
    * query over a table of that schema, without planning a scan.
    */
  def analyzeCondition(spark: org.apache.spark.sql.SparkSession, cond: Column,
      schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.catalyst.plans.logical.Filter = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}
    val attrs = org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema)
    spark.sessionState.analyzer.execute(Filter(
      org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(cond.node),
      LocalRelation(attrs))).asInstanceOf[Filter]
  }

  /** Parse + analyze a SQL boolean expression against `schema` and
    * return it BOUND by ordinal — a serializable Expression a task can
    * wrap in `Predicate.create` for per-row evaluation (the CHECK
    * constraint enforcement path of the native graft write).
    */
  def boundExpression(spark: org.apache.spark.sql.SparkSession, sql: String,
      schema: org.apache.spark.sql.types.StructType): Expression = {
    val analyzed = analyzeCondition(spark,
      column(spark.sessionState.sqlParser.parseExpression(sql)), schema)
    org.apache.spark.sql.catalyst.expressions.BindReferences
      .bindReference(analyzed.condition, analyzed.child.output)
  }

  /** Hive-style partition-path escaping (matches what
    * DataFrameWriter.partitionBy produces, so natively-written and
    * API-written partition dirs interoperate).
    */
  def escapePathName(s: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.escapePathName(s)

  /** Register a builder under `name` in the session's function
    * registry so TEXT SQL can call graft's native expressions.
    * Idempotent (createOrReplace).
    */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      name, builder, "scala_udf")

  /** ONE DataFrame over EXPLICIT partition metadata spanning MANY file
    * groups — the API-read twin of [[partitionedParquetScanBuilder]]:
    * the caller supplies (partition values → leaf dir) pairs it
    * already knows from the commit log, partition discovery is
    * skipped, and the whole multi-group snapshot reads as a SINGLE
    * HadoopFsRelation scan (pushdown, pruning, vectorized, partition
    * pruning against the supplied spec). `fileSchema` is the caller's
    * merged footer schema; no inference runs.
    */
  def partitionedParquetDataFrame(
      spark: org.apache.spark.sql.SparkSession,
      leaves: Seq[(Seq[Option[String]], org.apache.hadoop.fs.Path)],
      partitionSchema: org.apache.spark.sql.types.StructType,
      fileSchema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.execution.datasources.HadoopFsRelation
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    import org.apache.spark.sql.types.StructType
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val dataSchema = StructType(
      fileSchema.filterNot(f => partitionSchema.fieldNames.contains(f.name)))
    val index = explicitPartitionIndex(classic, leaves, partitionSchema, Some(dataSchema))
    classic.baseRelationToDataFrame(HadoopFsRelation(
      index, partitionSchema, dataSchema, None, new ParquetFileFormat, Map.empty)(classic))
  }

  /** `schemas` (at least one) merged left to right as Spark's parquet
    * schema merge merges its files' footers (`StructType.merge` under
    * the session's case sensitivity): a column takes the position and
    * metadata of its first appearance. None when two types cannot
    * merge: the only errors `merge` raises (`CANNOT_MERGE_*`, decimal
    * scale) are that.
    */
  def mergeSchemas(spark: org.apache.spark.sql.SparkSession,
      schemas: Seq[org.apache.spark.sql.types.StructType])
      : Option[org.apache.spark.sql.types.StructType] = {
    val caseSensitive = spark.sessionState.conf.caseSensitiveAnalysis
    try Some(schemas.reduce(_.merge(_, caseSensitive)))
    catch {
      case _: org.apache.spark.SparkThrowable => None
    }
  }

  /** The schema `spark.read.parquet(pattern)` infers, read on the
    * DRIVER: the literal-paths overload below over the paths `pattern`
    * globs to, globbed and checked as DataFrameReader does
    * (`PATH_NOT_FOUND` for a missing path).
    */
  def parquetFooterSchema(spark: org.apache.spark.sql.SparkSession, pattern: String)
      : org.apache.spark.sql.types.StructType =
    parquetFooterSchema(spark,
      org.apache.spark.sql.execution.datasources.DataSource.checkAndGlobPathIfNecessary(
        Seq(pattern), sessionHadoopConf(spark), checkEmptyGlobPath = true,
        checkFilesExist = true, enableGlobbing = true))

  /** The data schema Spark's parquet inference gives for the literal
    * paths `roots`, without the job it launches for it: with no schema,
    * every `spark.read.parquet` runs `mergeSchemasInParallel` as a
    * Spark job, even for one file. Same listing (an InMemoryFileIndex
    * over `roots` on the session's FileStatusCache), same footer
    * (`ParquetUtils.inferSchema` with mergeSchema off: a summary file
    * first, else the path-sorted first data file), same conversion
    * (the Spark row metadata wins, else `ParquetToSparkSchemaConverter`
    * with the settings Spark's inference passes, nanosAsLong
    * included), the same `UNABLE_TO_INFER_SCHEMA` when no file is
    * there. A session that turns `spark.sql.parquet.mergeSchema` on
    * gets Spark's own merge.
    * A reader given this schema lists `roots` again: the listing cache
    * is keyed per index, so the two listings are not shared.
    */
  def parquetFooterSchema(spark: org.apache.spark.sql.SparkSession,
      roots: Seq[org.apache.hadoop.fs.Path]): org.apache.spark.sql.types.StructType = {
    import org.apache.parquet.hadoop.ParquetFileWriter
    import org.apache.spark.sql.errors.QueryCompilationErrors
    import org.apache.spark.sql.execution.datasources.{FileStatusCache, InMemoryFileIndex}
    import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val files = new InMemoryFileIndex(classic, roots, Map.empty, None,
      FileStatusCache.getOrCreate(classic)).allFiles()
    val fmt = new ParquetFileFormat
    val schema =
      if (classic.sessionState.conf.isParquetSchemaMergingEnabled) fmt.inferSchema(classic, Map.empty, files)
      else {
        val sorted = files.sortBy(_.getPath.toString)
        def named(n: String) = sorted.find(_.getPath.getName == n)
        val summaries = Set(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
          ParquetFileWriter.PARQUET_METADATA_FILE)
        named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
          .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
          .orElse(sorted.find(f => !summaries(f.getPath.getName)))
          .flatMap(footerSchema(spark, _))
      }
    schema.getOrElse(throw QueryCompilationErrors.dataSchemaNotSpecifiedError(fmt.toString))
  }

  /** The data schema of ONE parquet file's footer, converted as
    * Spark's inference converts it: the Spark row metadata wins, else
    * `ParquetToSparkSchemaConverter` with the settings
    * `mergeSchemasInParallel` passes (nanosAsLong included). None only
    * for a corrupt footer under `spark.sql.files.ignoreCorruptFiles`.
    */
  def footerSchema(spark: org.apache.spark.sql.SparkSession,
      f: org.apache.hadoop.fs.FileStatus): Option[org.apache.spark.sql.types.StructType] = {
    import org.apache.parquet.format.converter.ParquetMetadataConverter
    import org.apache.parquet.hadoop.Footer
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.spark.sql.errors.QueryExecutionErrors
    import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
    val conf = spark.sessionState.conf
    // The settings mergeSchemasInParallel passes; the converter's
    // other three keep their defaults there too.
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
    try Some(ParquetFileFormat.readSchemaFromFooter(
      new Footer(f.getPath, ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(f, sessionHadoopConf(spark)),
        ParquetMetadataConverter.SKIP_ROW_GROUPS)),
      converter))
    catch {
      case e: RuntimeException =>
        if (conf.ignoreCorruptFiles) None
        else throw QueryExecutionErrors.cannotReadFooterForFileError(f.getPath, e)
    }
  }

  private def explicitPartitionIndex(
      classic: org.apache.spark.sql.classic.SparkSession,
      leaves: Seq[(Seq[Option[String]], org.apache.hadoop.fs.Path)],
      partitionSchema: org.apache.spark.sql.types.StructType,
      dataSchema: Option[org.apache.spark.sql.types.StructType])
      : org.apache.spark.sql.execution.datasources.InMemoryFileIndex = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    import org.apache.spark.sql.execution.datasources.{FileStatusCache, InMemoryFileIndex, PartitionPath, PartitionSpec}
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    val tz = classic.sessionState.conf.sessionLocalTimeZone
    val paths = leaves.map { case (values, dir) =>
      val row = InternalRow.fromSeq(values.zip(partitionSchema.fields).map {
        case (None, _) => null
        case (Some(raw), f) =>
          Cast(Literal(UTF8String.fromString(raw), StringType), f.dataType,
            Some(tz)).eval(null)
      })
      PartitionPath(row, dir)
    }
    new InMemoryFileIndex(classic, paths.map(_.path), Map.empty, dataSchema,
      FileStatusCache.getOrCreate(classic),
      Some(PartitionSpec(partitionSchema, paths)), None)
  }

  /** Parquet V2 scan builder over EXPLICIT partition metadata — the
    * Hive-conversion pattern (CatalogFileIndex): Spark's own partition
    * DISCOVERY requires all partitioned files to share one base path,
    * which a multi-file-group lakehouse table cannot satisfy, so the
    * caller supplies the (partition values → leaf dir) spec it already
    * knows from its layout and discovery is skipped entirely. Returns
    * a ScanBuilder identical in capability to ParquetTable's
    * (pushdown, pruning, vectorized read, partition pruning against
    * the provided spec).
    *
    * `leaves`: (partition values matching partitionSchema order, leaf
    * dir) — raw string values, cast here; None = null partition.
    */
  def partitionedParquetScanBuilder(
      spark: org.apache.spark.sql.SparkSession,
      leaves: Seq[(Seq[Option[String]], org.apache.hadoop.fs.Path)],
      partitionSchema: org.apache.spark.sql.types.StructType,
      fullSchema: org.apache.spark.sql.types.StructType,
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder
        with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
        with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns = {
    import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScanBuilder
    import org.apache.spark.sql.types.StructType
    val classic = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val dataSchema = StructType(
      fullSchema.filterNot(f => partitionSchema.fieldNames.contains(f.name)))
    val index = explicitPartitionIndex(classic, leaves, partitionSchema, Some(dataSchema))
    ParquetScanBuilder(classic, index, fullSchema, dataSchema, options)
  }
}
