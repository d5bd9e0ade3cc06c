package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.LakeTable

/** A lake snapshot's schema is the merge of its groups' footer schemas,
  * read on the driver: building a read starts no Spark job, no verb
  * starts a schema-merge job, and the merged schema equals what
  * Spark's own `mergeSchema` inference gives over the same dirs.
  */
class LakeSchemaSpec extends AnyFunSuite {
  import SharedSpark.spark

  private val root = s"${operators.Lakehouse.scratch}/lake_schema_spec"

  private def fresh(name: String): String = {
    val p = new Path(s"$root/$name")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    p.toString
  }

  /** `df` written to parquet and read back with no job: verb inputs
    * that scan files, so a job over them is never mistaken for a
    * schema merge (a local relation or `range` parallelizes a
    * collection).
    */
  private def src(name: String, df: DataFrame): DataFrame = {
    val p = fresh(s"src_$name")
    df.write.parquet(p)
    Tables.parquet(spark, p)
  }

  /** (jobs, schema-merge jobs) started while `body` runs. A schema-merge
    * job (Spark's `mergeSchemasInParallel`) is one whose stages read a
    * `ParallelCollectionRDD` and scan no file.
    */
  private def jobsDuring(body: => Any): (Int, Int) = {
    val jobs = SharedSpark.jobsDuring(body)
    (jobs.size, jobs.count { e =>
      val rdds = e.stageInfos.flatMap(_.rddInfos).map(_.name)
      rdds.contains("ParallelCollectionRDD") && !rdds.contains("FileScanRDD")
    })
  }

  private def noSchemaMerge(what: String)(body: => Any): Unit =
    assert(jobsDuring(body)._2 == 0, s"$what started a schema-merge job")

  private def dirsOf(p: String): Seq[String] =
    LakeTable.readCommit(spark, p, LakeTable.currentVersion(spark, p).get).dirs
      .map(d => new Path(p, d).toString)

  /** Spark's own inference over the snapshot's dirs (flat layouts). */
  private def sparkMerged(p: String): StructType =
    spark.read.option("mergeSchema", "true").parquet(dirsOf(p): _*).schema

  private def rows(df: DataFrame): Set[String] = df.collect().map(_.toString).toSet

  private def kv(lo: Long, hi: Long, extra: String*) =
    spark.range(lo, hi).selectExpr(Seq("id AS k", "cast(id % 7 AS string) AS v",
      "cast(id % 3 AS string) AS g") ++ extra: _*)

  /** One table of each shape the read path distinguishes. */
  private lazy val shapes: Seq[(String, String)] = {
    val flat = fresh("flat")
    LakeTable.create(spark, flat, src("flat0", kv(0, 20)))
    LakeTable.append(spark, flat, src("flat1", kv(20, 40)))
    val part = fresh("part")
    LakeTable.create(spark, part, src("part0", kv(0, 20)), partitionBy = Seq("g"))
    LakeTable.append(spark, part, src("part1", kv(20, 40)))
    val renamed = fresh("renamed")
    LakeTable.create(spark, renamed, src("ren0", kv(0, 20)))
    LakeTable.renameColumn(spark, renamed, "v", "w")
    LakeTable.append(spark, renamed, src("ren1", kv(20, 40).withColumnRenamed("v", "w")))
    val dv = fresh("dv")
    LakeTable.create(spark, dv, src("dv0", kv(0, 20)))
    LakeTable.setDvMode(spark, dv, on = true)
    LakeTable.deleteMor(spark, dv, col("k") === 3L)
    val empty = fresh("empty")
    LakeTable.create(spark, empty, src("empty0", kv(0, 20)).limit(0), partitionBy = Seq("g"))
    val added = fresh("added")
    LakeTable.create(spark, added, src("add0", kv(0, 20)))
    LakeTable.append(spark, added, src("add1", kv(20, 40, "id * 2 AS extra")))
    Seq("flat" -> flat, "partitioned" -> part, "renamed" -> renamed, "dv" -> dv,
      "schema-only" -> empty, "added column" -> added)
  }

  test("building read, readRange, readPoint and a catalog SELECT starts 0 jobs") {
    for ((shape, p) <- shapes) {
      assert(jobsDuring(LakeTable.read(spark, p))._1 == 0, shape)
      assert(jobsDuring(LakeTable.readRange(spark, p, "k", 5L, 25L))._1 == 0, shape)
      assert(jobsDuring(LakeTable.readPoint(spark, p, "k", 7L))._1 == 0, shape)
      // the reads still answer as a full read plus a filter
      val all = LakeTable.read(spark, p)
      assert(rows(LakeTable.readRange(spark, p, "k", 5L, 25L)) ==
        rows(all.where(col("k").between(5L, 25L))), shape)
      assert(rows(LakeTable.readPoint(spark, p, "k", 7L)) == rows(all.where(col("k") === 7L)),
        shape)
    }
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.lschema")
    spark.sql("DROP TABLE IF EXISTS graft_cat.lschema.sel")
    spark.sql("CREATE TABLE graft_cat.lschema.sel (k BIGINT, v STRING, g STRING) USING graft " +
      "PARTITIONED BY (g)")
    src("sel", kv(0, 20)).createOrReplaceTempView("lschema_sel_src")
    spark.sql("INSERT INTO graft_cat.lschema.sel SELECT * FROM lschema_sel_src")
    val (jobs, _) = jobsDuring(
      spark.sql("SELECT k, v FROM graft_cat.lschema.sel WHERE k = 4").queryExecution.executedPlan)
    assert(jobs == 0)
    assert(spark.sql("SELECT k FROM graft_cat.lschema.sel WHERE k = 4").collect().map(_.getLong(0))
      .toSeq == Seq(4L))
  }

  test("read schema and tableSchema equal Spark's mergeSchema over the same dirs") {
    val bySchema = shapes.toMap
    for (shape <- Seq("flat", "dv", "added column")) {
      val p = bySchema(shape)
      assert(LakeTable.read(spark, p).schema == sparkMerged(p), shape)
      assert(LakeTable.tableSchema(spark, p) == sparkMerged(p), shape)
    }
    assert(LakeTable.read(spark, bySchema("added column")).schema.fieldNames.toSeq ==
      Seq("k", "v", "g", "extra"))
    // partitioned: Spark's merge of the files' data columns, then the
    // partition column under its recorded type
    val part = bySchema("partitioned")
    val data = spark.read.option("mergeSchema", "true").option("recursiveFileLookup", "true")
      .parquet(dirsOf(part): _*).schema
    assert(LakeTable.read(spark, part).schema.map(f => f.name -> f.dataType) ==
      (data.fields :+ StructField("g", StringType)).toSeq.map(f => f.name -> f.dataType))
    // renamed: one logical schema over old- and new-name groups
    assert(LakeTable.read(spark, bySchema("renamed")).schema.fieldNames.toSeq == Seq("k", "w", "g"))
    assert(LakeTable.read(spark, bySchema("renamed")).count() == 40)
    // schema-only create: no footer at all, so the recorded schema
    val empty = bySchema("schema-only")
    assert(LakeTable.read(spark, empty).schema.fieldNames.toSet == Set("k", "v", "g"))
    assert(LakeTable.read(spark, empty).count() == 0)
  }

  test("column order and field metadata follow Spark's path-ordered merge past d9") {
    val p = fresh("ordered")
    def commented(c: String) = new MetadataBuilder().putString("comment", c).build()
    LakeTable.create(spark, p, src("ord0", spark.range(2).selectExpr("id AS k")
      .withColumn("k", col("k").as("k", commented("from d0")))))
    for (i <- 1 to 10) {
      val extra = i match {
        case 2 => Seq("id AS a")  // d2 adds a
        case 10 => Seq("id AS b") // d10 adds b and sorts before d2
        case _ => Nil
      }
      val df = spark.range(2).selectExpr("id AS k" +: extra: _*)
        .withColumn("k", col("k").as("k", commented(s"from d$i")))
      LakeTable.append(spark, p, src(s"ord$i", df))
    }
    val merged = sparkMerged(p)
    assert(merged.fieldNames.toSeq == Seq("k", "b", "a"))
    assert(LakeTable.read(spark, p).schema == merged)
    assert(LakeTable.tableSchema(spark, p) == merged)
    assert(merged("k").getComment().contains("from d0"))
  }

  test("a legacy INT/BIGINT skewed table reads through the per-root union") {
    val p = fresh("skew")
    LakeTable.create(spark, p, src("skew0", spark.range(2).selectExpr("id AS k", "id * 10 AS v")))
    val dir = "d1-legacy00"
    spark.range(2, 4).selectExpr("cast(id AS int) AS k", "cast(id * 10 AS int) AS v")
      .write.parquet(s"$p/$dir")
    val c0 = LakeTable.readCommit(spark, p, 0L)
    LakeTable.writeCommit(spark, p, LakeTable.Commit(1L, "append", c0.dirs :+ dir))
    assert(jobsDuring(LakeTable.read(spark, p))._1 == 0)
    val r = LakeTable.read(spark, p)
    assert(r.schema("k").dataType == LongType)
    assert(rows(r) == rows(spark.range(4).selectExpr("id AS k", "id * 10 AS v")))
  }

  test("no verb starts a schema-merge job") {
    def verbs(p: String, partitionBy: Seq[String]): Unit = {
      // inputs are written before the counted calls
      val Seq(s0, s1, s2, s3) = Seq(kv(0, 20), kv(20, 40), kv(10, 30), kv(35, 45))
        .zipWithIndex.map { case (df, i) => src(s"v$i", df) }
      noSchemaMerge("create")(LakeTable.create(spark, p, s0, partitionBy))
      noSchemaMerge("append")(LakeTable.append(spark, p, s1))
      noSchemaMerge("merge")(LakeTable.merge(spark, p, s2, "k"))
      noSchemaMerge("mergeInto")(LakeTable.mergeInto(spark, p, s3,
        col("t.k") === col("s.k"),
        Seq(LakeTable.MergeUpdate(None, Map("v" -> col("s.v")))),
        Seq(LakeTable.MergeInsert(None, Map("k" -> col("s.k"), "v" -> col("s.v"),
          "g" -> col("s.g"))))))
      noSchemaMerge("delete")(LakeTable.delete(spark, p, col("k") === 1L))
      LakeTable.setDvMode(spark, p, on = true)
      noSchemaMerge("deleteMor")(LakeTable.deleteMor(spark, p, col("k") === 2L))
      noSchemaMerge("updateMor")(LakeTable.updateMor(spark, p, col("k") === 5L,
        Map("v" -> lit("five"))))
      noSchemaMerge("compact")(LakeTable.compact(spark, p, 1))
      val expected = (0L until 45L).filterNot(Set(1L, 2L)).toSet
      assert(LakeTable.read(spark, p).select("k").collect().map(_.getLong(0)).toSet == expected)
      assert(LakeTable.read(spark, p).where(col("k") === 5L).select("v").head().getString(0) ==
        "five")
    }
    verbs(fresh("verbs_flat"), Nil)
    verbs(fresh("verbs_part"), Seq("g"))

    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.lschema")
    spark.sql("DROP TABLE IF EXISTS graft_cat.lschema.dml")
    spark.sql("CREATE TABLE graft_cat.lschema.dml (k BIGINT, v STRING, g STRING) USING graft")
    src("dml_ins", kv(0, 20)).createOrReplaceTempView("lschema_ins")
    src("dml_mrg", kv(10, 30)).createOrReplaceTempView("lschema_mrg")
    noSchemaMerge("INSERT")(spark.sql("INSERT INTO graft_cat.lschema.dml SELECT * FROM lschema_ins"))
    noSchemaMerge("MERGE")(spark.sql("""MERGE INTO graft_cat.lschema.dml t USING lschema_mrg s
      ON t.k = s.k WHEN MATCHED THEN UPDATE SET v = 'm' WHEN NOT MATCHED THEN INSERT *"""))
    noSchemaMerge("UPDATE")(spark.sql("UPDATE graft_cat.lschema.dml SET v = 'u' WHERE k < 5"))
    val out = spark.table("graft_cat.lschema.dml")
    assert(out.count() == 30)
    assert(out.where(col("v") === "m").count() == 10)
    assert(out.where(col("v") === "u").count() == 5)
  }

  test("TIMESTAMP_MILLIS files prune a timestamp column as a full read plus a filter") {
    val child = spark.newSession()
    child.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MILLIS")
    def events(lo: Long, hi: Long) = child.range(lo, hi)
      .selectExpr("id AS k", "timestamp_millis(1700000000000 + id * 1000 + 123) AS ts")
    val p = fresh("ts_millis")
    LakeTable.create(child, p, events(0, 10))
    LakeTable.append(child, p, events(10, 20))
    val file = new java.io.File(new Path(dirsOf(p).head).toUri.getPath).listFiles()
      .find(_.getName.endsWith(".parquet")).get
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(file.toURI),
        spark.sparkContext.hadoopConfiguration))
    val tsType = try reader.getFileMetaData.getSchema.getType(Seq("ts"): _*)
      .getLogicalTypeAnnotation.toString finally reader.close()
    assert(tsType.contains("MILLIS"), tsType)
    assert(child.conf.get("spark.sql.parquet.outputTimestampType") == "TIMESTAMP_MILLIS")
    assert(spark.conf.get("spark.sql.parquet.outputTimestampType") != "TIMESTAMP_MILLIS")

    val at = new java.sql.Timestamp(1700000000000L + 13 * 1000 + 123)
    val (lo, hi) = (new java.sql.Timestamp(1700000000000L + 4 * 1000),
      new java.sql.Timestamp(1700000000000L + 12 * 1000))
    val all = LakeTable.read(spark, p)
    assert(rows(LakeTable.readPoint(spark, p, "ts", at)) == rows(all.where(col("ts") === at)))
    assert(rows(LakeTable.readPoint(spark, p, "ts", at)).size == 1)
    assert(rows(LakeTable.readRange(spark, p, "ts", lo, hi)) ==
      rows(all.where(col("ts").between(lo, hi))))
    assert(rows(LakeTable.readRange(spark, p, "ts", lo, hi)).size == 8)

    child.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.lschema")
    child.sql("DROP TABLE IF EXISTS graft_cat.lschema.ts_millis")
    child.sql("CREATE TABLE graft_cat.lschema.ts_millis (k BIGINT, ts TIMESTAMP) USING graft")
    events(0, 10).writeTo("graft_cat.lschema.ts_millis").append()
    events(10, 20).writeTo("graft_cat.lschema.ts_millis").append()
    val full = spark.table("graft_cat.lschema.ts_millis").collect()
    val want = full.filter(_.getTimestamp(1) == at).map(_.toString).toSet
    assert(want.size == 1)
    assert(spark.sql(
      "SELECT * FROM graft_cat.lschema.ts_millis WHERE ts = timestamp_millis(1700000013123)")
      .collect().map(_.toString).toSet == want)
  }
}
