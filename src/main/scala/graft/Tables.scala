package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.Glue
import org.apache.spark.sql.types.LongType

/** Loaders for the driver-generated lakehouse tables (TESTDATA.md).
  *
  * Mirrors the surface a nineinfra NineCluster exposes through Kyuubi:
  * Spark SQL over parquet tables on object storage (reference:
  * internal/controller/kyuubi.go:92-124 wires Spark to s3a;
  * api/v1alpha1/ninecluster_types.go:29 `DataHouseDir`).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Fan an UNDER-SPLIT scan out to the cluster before CPU-heavy
    * per-row work (shingle hashing, JSON/variant parsing, media
    * decode, BPE encode, pairwise-cosine verification blocks).
    *
    * Why: a parquet row group is the minimum split unit, so a table
    * that arrives as one file with one row group scans as ONE task —
    * every expression before the first exchange then runs on a single
    * core no matter how many the cluster has (the "input skew /
    * unsplittable file" case, optimization guide §2.5; measured at
    * sf0.1: the whole D-block's shingle/token hashing was
    * single-threaded on local[32]). The fix the guide prescribes is a
    * repartition immediately after the read, BEFORE the heavy map.
    *
    * Scale-adaptive by construction: a no-op whenever the scan already
    * carries >= defaultParallelism partitions — the 100 TB case, where
    * the input arrives as thousands of row groups and this repartition
    * would be a full shuffle of the payload for nothing. The shuffle
    * it does insert on deficient inputs moves only the projected
    * columns of a scan that is by definition small (it fit in fewer
    * row groups than the cluster has cores).
    *
    * Use ONLY where downstream aggregation is order-insensitive
    * (integer-exact sums/counts, min/max, per-row maps, bounded-heap
    * top-k): re-bucketing rows changes partial-aggregation grouping,
    * which can flip the last ULP of a summed DOUBLE.
    */
  def fan(df: DataFrame): DataFrame = {
    // SCAN-SHAPED INPUTS ONLY: under AQE, .rdd on a plan containing an
    // Exchange materializes every upstream query stage just to count
    // partitions, and the repartition then re-executes them. AQE wraps
    // a plan in AdaptiveSparkPlanExec exactly when it carries an
    // exchange or subquery, so that wrapper IS the "not a plain scan
    // subtree" signal — bail out and leave the input untouched (every
    // legitimate fan site is a scan/project/filter/union-of-scans,
    // which stays a plain plan).
    if (df.queryExecution.executedPlan
        .isInstanceOf[org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec])
      return df
    // The planned query's own RDD: `df.rdd` would analyze and plan
    // the scan a second time just to count its partitions.
    val target = df.sparkSession.sparkContext.defaultParallelism
    val cur = try df.queryExecution.toRdd.getNumPartitions
      catch { case scala.util.control.NonFatal(_) => target }
    if (cur >= target) df else df.repartition(target)
  }

  /** Bytes under `path`: a file's length or a directory's total, 0
    * when the path is absent. The observed input size the adaptive
    * rules (shingle checkpoint, stream state partitions) decide on.
    */
  def pathBytes(spark: SparkSession, path: String): Long = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  /** `spark.read.parquet(path)` without its schema job: the schema
    * Spark would infer is read from the footer on the driver
    * (`Glue.parquetFooterSchema`) and handed to the reader, so the
    * first Spark job is the caller's own. One shape reads differently:
    * files under `k=v/` that also store `k` get `k` last and typed as
    * stored, as with any reader-given schema (inference keeps its
    * place and the partition value's type).
    */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(Glue.parquetFooterSchema(spark, path)).parquet(path)

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    // events.ts may be parquet TIMESTAMP(NANOS), read as a long under
    // the nanosAsLong setting GraftSession fixes (SPARK-40819). Values
    // are µs-aligned, so the ns→µs rescale below is lossless.
    val df = parquet(spark, s"$dir/$name.parquet")
    df.schema.fields.foldLeft(df) { (acc, f) =>
      if (f.name == "ts" && f.dataType == LongType)
        acc.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      else acc
    }
  }
}
