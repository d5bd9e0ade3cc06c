package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** Tuned SparkSession factory — the engine's entry point. Mirrors the
  * role of the reference's Kyuubi engine config (reference:
  * internal/controller/kyuubi.go builds spark-defaults for the SQL
  * gateway): AQE with partition coalescing and skew-join handling on,
  * shuffle partitions sized for the deployment (32 locally; on a real
  * cluster set ~2-3× total cores), UTC session time.
  */
object GraftSession {

  /** Warehouse root served by the `graft_cat` catalog plugin, under
    * the lake root [[graft.operators.Lakehouse.scratch]].
    */
  def catalogRoot: String = graft.operators.Lakehouse.scratch + "/graft_cat"

  def builder(master: String = "local[32]", shufflePartitions: Int = 32): SparkSession.Builder =
    SparkSession.builder()
      // Extensions via conf, not withExtensions: the conf lands in the
      // SparkConf, so EVERY session on the context — including the
      // server-side sessions a Spark Connect client spawns — gets the
      // graft rules/strategies/functions, not just this builder's.
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .master(master)
      .config("spark.sql.catalog.graft_cat", "graft.sources.GraftCatalog")
      .config("spark.sql.catalog.graft_cat.root", catalogRoot)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // Storage-partitioned joins: graft scans report their partition
      // layout as KeyGroupedPartitioning (GraftStreamableScan), so
      // same-key partitioned tables join with no exchange.
      .config("spark.sql.sources.v2.bucketing.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // Compile generated code once per engine. CodeGenerator caches
      // classes by (context classloader, source); with artifact
      // isolation on, every session UUID — including the clone each
      // streaming query runs on — gets its own executor classloader
      // and recompiles everything. Graft adds no session artifacts.
      .config("spark.sql.artifact.isolation.enabled", "false")
      // The default 100 entries (Guava segments of ~25) are fewer than
      // the engine's working set of classes, so even a long-lived
      // session evicts and recompiles.
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      // events.ts may be parquet TIMESTAMP(NANOS), which vanilla Spark
      // reads only as a long (SPARK-40819); graft.Tables and
      // EventPipeline.eventsStream rescale it.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Local files through java.nio (graft.sources.NioLocalFs): without
      // libhadoop, Hadoop forks chmod/readlink/ls per call. Both APIs:
      // streaming checkpoints and state stores commit through FileContext.
      .config("spark.hadoop.fs.file.impl", classOf[sources.NioLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[sources.NioLocalFs].getName)
      // Connect-gateway credential gate (pass-through until
      // ConnectAuth.enable configures a credential query — the
      // Kyuubi-parity JDBC-auth leg).
      .config("spark.connect.grpc.interceptor.classes",
        classOf[GraftAuthInterceptor].getName)
      .config("spark.ui.enabled", "false")

  /** A gateway principal's session: a child of `parent` with its
    * runtime settings, then the client's `overrides` (rejected values
    * and `spark.graft.sql.*` keys skipped), then `user` pinned as
    * `spark.graft.sql.user`. The parent's conf is never written.
    */
  def childSession(parent: SparkSession, user: String,
      overrides: Seq[(String, String)] = Nil): SparkSession = {
    val child = parent.newSession()
    // A new session starts from the context's conf; it lacks what was
    // SET on the parent: modifiable SQL settings, and keys Spark does
    // not register (catalog wiring, graft's own). A SET takes both.
    parent.conf.getAll.foreach { case (k, v) =>
      if (parent.conf.isModifiable(k) || !org.apache.spark.sql.graftglue.Glue.registeredConf(k))
        child.conf.set(k, v)
    }
    overrides.filterNot(_._1.startsWith("spark.graft.sql.")).foreach { case (k, v) =>
      try child.conf.set(k, v)
      catch { case _: org.apache.spark.sql.AnalysisException | _: IllegalArgumentException => () }
    }
    child.conf.set("spark.graft.sql.user", user)
    child
  }

  def create(master: String = "local[32]", shufflePartitions: Int = 32): SparkSession = {
    val s = builder(master, shufflePartitions).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Register every lakehouse table of `dir` as a temp view — the
    * catalog-priming half of [[sql]], separable so benchmarks can
    * stage it outside the timed query.
    */
  def registerViews(spark: SparkSession, dir: String): Unit =
    Tables.names.foreach { n =>
      try Tables(spark, dir, n).createOrReplaceTempView(n)
      catch { case NonFatal(_) => () } // table absent in this dir
    }

  /** The SQL-gateway surface (what a Kyuubi user has): register every
    * lakehouse table of `dir` as a temp view, then run arbitrary
    * Spark SQL against them.
    */
  def sql(spark: SparkSession, dir: String, query: String): DataFrame = {
    registerViews(spark, dir)
    spark.sql(query)
  }
}
