package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{AnalysisException, Row}
import org.apache.spark.sql.graftglue.Glue
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Parquet reads learn their schema from one footer on the driver
  * (`Tables.parquet`, `Glue.parquetFooterSchema`): the schema equals
  * what Spark's own inference gives, and no Spark job runs for it.
  */
class ParquetSchemaSpec extends AnyFunSuite {
  import SharedSpark.{sf, sf01, spark}

  private val root = s"${operators.Lakehouse.scratch}/parquet_schema_spec"

  private def fresh(name: String): String = {
    val p = new Path(s"$root/$name")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    p.toString
  }

  /** Jobs started while `body` runs. */
  private def jobsDuring(body: => Unit): Int = SharedSpark.jobsDuring(body).size

  test("every table loader and both stream sources start 0 jobs before their first action") {
    assert(jobsDuring(spark.read.parquet(s"$sf01/orders.parquet")) >= 1,
      "a schema-less read starts Spark's inference job")
    assert(jobsDuring(Tables.names.foreach(n => Tables(spark, sf01, n).schema)) == 0)
    assert(jobsDuring(streaming.EventPipeline.eventsStream(spark, sf01)._1.schema) == 0)
    assert(jobsDuring(streaming.EventPipeline.documentsStream(spark, sf01)._1.schema) == 0)
  }

  private def assertParity(p: String): Unit =
    assert(Tables.parquet(spark, p).schema == spark.read.parquet(p).schema, p)

  test("footer schema equals Spark's inference on every generated table") {
    for (d <- Seq(sf, sf01); n <- Tables.names) assertParity(s"$d/$n.parquet")
  }

  test("footer schema equals Spark's inference on a Spark-written directory with comments") {
    val p = fresh("written")
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false).withComment("row id"),
      StructField("name", StringType).withComment("display name"),
      StructField("ts", TimestampType)))
    spark.createDataFrame(
      java.util.Arrays.asList(Row(1L, "a", null), Row(2L, null, new java.sql.Timestamp(0L))),
      schema).repartition(2).write.parquet(p)
    val names = new java.io.File(p).list().toSet
    assert(names("_SUCCESS") && names.exists(_.endsWith(".crc")), names)
    assertParity(p)
    assert(Tables.parquet(spark, p).schema("id").getComment().contains("row id"))
  }

  test("footer schema takes the path-sorted first file, as Spark's inference does") {
    val p = fresh("mixed")
    val fs = new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new Path(p))
    // Written in the opposite order of their names: the later-written
    // part-0 must win.
    for ((name, df) <- Seq(
        "part-1.parquet" -> spark.range(3).selectExpr("cast(id as string) AS s", "id * 2 AS y"),
        "part-0.parquet" -> spark.range(3).selectExpr("id AS x"))) {
      val tmp = fresh(s"mixed_$name")
      df.coalesce(1).write.parquet(tmp)
      val part = fs.listStatus(new Path(tmp)).map(_.getPath)
        .find(_.getName.endsWith(".parquet")).get
      assert(fs.rename(part, new Path(p, name)))
    }
    assertParity(p)
    assert(Tables.parquet(spark, p).schema.fieldNames.toSeq == Seq("x"))
  }

  test("footer schema equals Spark's inference on a k=v partitioned directory") {
    val p = fresh("partitioned")
    spark.range(6).selectExpr("id", "cast(id % 3 as int) AS k", "id * 1.5 AS v")
      .write.partitionBy("k").parquet(p)
    assertParity(p)
    assert(Tables.parquet(spark, p).schema.fieldNames.toSeq == Seq("id", "v", "k"))
  }

  test("footer schema equals Spark's inference on names holding glob metacharacters") {
    val p = fresh("we[ir]d{a,b}.parquet")
    spark.range(4).selectExpr("id", "id % 2 = 0 AS even").write.parquet(p)
    // A reader globs its path: such a name is read through its escaped form.
    val escaped = p.replaceAll("""([\\*?\[\]{},])""", """\\$1""")
    assertParity(escaped)
    // The literal-path form the stream sources use lists the name as is.
    val literal = Glue.parquetFooterSchema(spark, Seq(new Path(p)))
    assert(literal == Glue.parquetFooterSchema(spark, escaped))
    assert(spark.read.schema(literal).parquet(escaped).schema ==
      spark.read.parquet(escaped).schema)
  }

  test("an empty directory fails as Spark's inference does") {
    val p = fresh("empty")
    new java.io.File(p).mkdirs()
    def condition(read: => Any) =
      intercept[AnalysisException](read).getCondition
    assert(condition(Tables.parquet(spark, p)) == "UNABLE_TO_INFER_SCHEMA")
    assert(condition(Tables.parquet(spark, p)) == condition(spark.read.parquet(p)))
  }
}
