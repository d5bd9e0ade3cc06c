package graft

import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.LakeTable
import graft.sources.LakeTable.{ColumnNdv, RenameRec, TableMeta, WidenRec}

/** The table meta as one parsed value, published through the commit
  * log: format compatibility with bodies already on disk, names that
  * carry JSON syntax, rename-aware partition typing, stats write-backs
  * keyed by a column a DDL already renamed, the number of meta reads
  * each verb pays, and tables laid out before meta objects existed.
  */
class TableMetaSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  private def freshPath(name: String): String = {
    val p = s"${operators.Lakehouse.scratch}/tmeta_$name"
    val hp = new org.apache.hadoop.fs.Path(p)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(hp)) fs.delete(hp, true)
    p
  }

  test("a body with every key, as earlier writers laid it out, parses and renders back") {
    val body = """{"partitionBy":["p"],"ndvB64":["awk1CS0xCS0xLjAJMw=="],""" +
      """"pndvB64":["Y0QxaAlrCTIJLTEJLTEuMAkz"],""" +
      """"mappingsB64":["cglhbW91bnQJdmFsdWUJNA==","dwlrCWJpZ2ludAk1"],""" +
      """"mixedLayouts":true,"dvMode":true,"sortBy":["k"],"checksB64":["cG9zCWsgPiAw"],""" +
      """"schemaB64":"eyJ0eXBlIjoic3RydWN0IiwiZmllbGRzIjpbeyJuYW1lIjoiayIsInR5cGUiOiJsb25nIiw""" +
      """ibnVsbGFibGUiOnRydWUsIm1ldGFkYXRhIjp7fX0seyJuYW1lIjoicCIsInR5cGUiOiJzdHJpbmciLCJudW""" +
      """xsYWJsZSI6dHJ1ZSwibWV0YWRhdGEiOnt9fV19","metaVer":7}"""
    val m = TableMeta.parse(body)
    val expected = TableMeta(ver = 7L, partitionBy = Seq("p"), sortBy = Seq("k"),
      schema = Some(new org.apache.spark.sql.types.StructType()
        .add("k", "long").add("p", "string")),
      checks = Seq("pos" -> "k > 0"), dvMode = true, mixedLayouts = true,
      mappings = Seq(RenameRec("amount", "value", 4L), WidenRec("k", "bigint", 5L)),
      ndv = Map("k" -> ColumnNdv(5L, -1L, -1.0, 3L)),
      pndv = Map("p=a" -> Map("k" -> ColumnNdv(2L, -1L, -1.0, 3L))))
    assert(m == expected)
    assert(TableMeta.render(m) == body, "plain names render byte-identically")
    assert(TableMeta.parse(TableMeta.render(m)) == m)
    // a body from before meta versioning, and the empty value
    assert(TableMeta.parse("""{"partitionBy":["a"]}""") == TableMeta(partitionBy = Seq("a")))
    assert(TableMeta.parse(TableMeta.render(TableMeta.empty)) == TableMeta.empty)
  }

  test("partition and sort column names holding ',' and '\"' survive the meta") {
    val p = freshPath("names")
    val (part, sort) = ("a,b", "q\"x")
    LakeTable.create(spark, p, Seq((1L, "x", 10L)).toDF("k", part, sort),
      partitionBy = Seq(part))
    LakeTable.setSortBy(spark, p, Seq(sort))
    LakeTable.append(spark, p, Seq((2L, "y", 20L)).toDF("k", part, sort))
    val m = LakeTable.meta(spark, p)
    assert(m.partitionBy == Seq(part) && m.sortBy == Seq(sort))
    assert(TableMeta.parse(TableMeta.render(m)) == m)
    val rows = LakeTable.read(spark, p)
      .select(col("k"), col(s"`$part`"), col(s"`$sort`"))
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
    assert(rows == Seq((1L, "x", 10L), (2L, "y", 20L)))
  }

  test("a renamed STRING partition column keeps its recorded type in old groups") {
    val p = freshPath("renpart")
    LakeTable.create(spark, p, Seq((1L, "01")).toDF("k", "p"), partitionBy = Seq("p"))
    LakeTable.renameColumn(spark, p, "p", "q")
    LakeTable.append(spark, p, Seq((2L, "02")).toDF("k", "q"))
    val df = LakeTable.read(spark, p)
    assert(df.schema("q").dataType == org.apache.spark.sql.types.StringType)
    assert(df.select("q").as[String].collect().sorted.toSeq == Seq("01", "02"))
  }

  test("a stats write-back naming a column the table no longer has fails the CAS") {
    val p = freshPath("stale_stats")
    LakeTable.create(spark, p, Seq((1L, 10L)).toDF("k", "amount"))
    LakeTable.renameColumn(spark, p, "amount", "value")
    val stale = Map("amount" -> ColumnNdv(1L, -1L, -1.0, 0L))
    intercept[LakeTable.ConcurrentWriteException](LakeTable.recordNdv(spark, p, stale))
    intercept[LakeTable.ConcurrentWriteException](
      LakeTable.recordPartitionNdv(spark, p, "p=a", stale))
    val m = LakeTable.meta(spark, p)
    assert(m.ndv.isEmpty && m.pndv.isEmpty)
    assert(LakeTable.recordNdv(spark, p, Map("value" -> ColumnNdv(1L, -1L, -1.0, 0L)))
      .keySet == Set("value"))
  }

  test("each verb opens at most one meta object: the state it resolves") {
    val p = freshPath("reads")
    LakeTable.create(spark, p, Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "g", "v"),
      partitionBy = Seq("g"))
    def reads(verb: => Any): Long = {
      val before = LakeTable.metaReads.sum()
      verb
      LakeTable.metaReads.sum() - before
    }
    val counts = Seq(
      "setSortBy" -> reads(LakeTable.setSortBy(spark, p, Seq("k"))),
      "renameColumn" -> reads(LakeTable.renameColumn(spark, p, "v", "w")),
      "analyze" -> reads(LakeTable.analyze(spark, p)),
      "addCheck" -> reads(LakeTable.addCheck(spark, p, "pos", "k > 0")),
      "merge" -> reads(LakeTable.merge(spark, p,
        Seq((2L, "b", 21L), (3L, "c", 30L)).toDF("k", "g", "w"), "k")))
    counts.foreach { case (verb, n) => assert(n == 1, s"$verb read the meta $n times") }
    assert(LakeTable.read(spark, p).select("k", "w").as[(Long, Long)].collect().toSet ==
      Set((1L, 10L), (2L, 21L), (3L, 30L)))
  }

  test("a legacy layout reads through _table.json and migrates on its first commit") {
    val p = freshPath("legacy")
    // the group as an earlier writer left it: partitioned by g, column
    // `amount` since renamed to `value` at stamp 1
    Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("k", "g", "amount")
      .write.partitionBy("g").parquet(s"$p/d0-0000beef")
    def put(name: String, body: String): Unit = {
      val f = new org.apache.hadoop.fs.Path(s"$p/_graft_log", name)
      val out = f.getFileSystem(spark.sparkContext.hadoopConfiguration).create(f, true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    put("v00000.json",
      """{"version":0,"action":"create","dirs":["d0-0000beef"],"ts":1700000000000}""")
    put("_table.json", """{"partitionBy":["g"],"mappingsB64":["cglhbW91bnQJdmFsdWUJMQ=="],""" +
      """"mixedLayouts":true,"schemaB64":"eyJ0eXBlIjoic3RydWN0IiwiZmllbGRzIjpbeyJuYW1lIjoiayIs""" +
      """InR5cGUiOiJsb25nIiwibnVsbGFibGUiOnRydWUsIm1ldGFkYXRhIjp7fX0seyJuYW1lIjoidmFsdWUiLCJ0eXBl""" +
      """IjoibG9uZyIsIm51bGxhYmxlIjp0cnVlLCJtZXRhZGF0YSI6e319LHsibmFtZSI6ImciLCJ0eXBlIjoic3RyaW5n""" +
      """IiwibnVsbGFibGUiOnRydWUsIm1ldGFkYXRhIjp7fX1dfQ==","metaVer":2}""")
    def rows(): Set[(Long, String, Long)] = LakeTable.read(spark, p)
      .select("k", "g", "value").as[(Long, String, Long)].collect().toSet
    val legacy = LakeTable.meta(spark, p)
    assert(legacy.ver == 2L && legacy.partitionBy == Seq("g"))
    assert(legacy.renames == Seq(RenameRec("amount", "value", 1L)))
    assert(rows() == Set((1L, "a", 10L), (2L, "b", 20L)))
    assert(LakeTable.readRange(spark, p, "g", "b", "b").count() == 1L)
    // the first commit this code writes names a meta object holding
    // the legacy value
    LakeTable.append(spark, p, Seq((3L, "c", 30L)).toDF("k", "g", "value"))
    val head = LakeTable.readCommit(spark, p, 1L)
    assert(head.meta.exists(_.startsWith("meta-")), head)
    assert(LakeTable.meta(spark, p) == legacy)
    assert(rows() == Set((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)))
    // once no retained commit reads it, vacuum reclaims the legacy file
    LakeTable.vacuum(spark, p, 1L)
    val legacyFile = new org.apache.hadoop.fs.Path(s"$p/_graft_log/_table.json")
    assert(!legacyFile.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(legacyFile))
    assert(LakeTable.meta(spark, p) == legacy)
    assert(rows() == Set((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)))
  }

  test("create, clones and each DDL publish exactly one commit") {
    val p = freshPath("onecommit")
    LakeTable.create(spark, p, Seq((1L, "a", 10L)).toDF("k", "g", "v"), partitionBy = Seq("g"))
    LakeTable.setSortBy(spark, p, Seq("k"))
    LakeTable.addCheck(spark, p, "pos", "v > 0")
    LakeTable.analyze(spark, p)
    assert(LakeTable.currentVersion(spark, p).contains(3L))
    assert(LakeTable.history(spark, p).select("action").as[String].collect().toSeq ==
      Seq("meta", "meta", "meta", "create"))
    val src = LakeTable.meta(spark, p)
    val deep = freshPath("onecommit_deep")
    LakeTable.deepClone(spark, p, deep)
    assert(LakeTable.currentVersion(spark, deep).contains(0L))
    val dm = LakeTable.meta(spark, deep)
    assert(dm.partitionBy == Seq("g") && dm.sortBy == Seq("k") && dm.checks == src.checks)
    assert(dm.ndv.keySet == src.ndv.keySet && dm.ndv.values.forall(_.asOf == 0L))
    val shallow = freshPath("onecommit_shallow")
    val base = LakeTable.shallowClone(spark, p, shallow)
    assert(LakeTable.currentVersion(spark, shallow).contains(base))
    assert(LakeTable.readCommit(spark, shallow, base).action == "clone")
    assert(LakeTable.meta(spark, shallow) == src)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.tmetadb")
    spark.sql("DROP TABLE IF EXISTS graft_cat.tmetadb.dflt")
    spark.sql("CREATE TABLE graft_cat.tmetadb.dflt (k BIGINT, s STRING DEFAULT 'x') USING graft")
    val loc = s"${GraftSession.catalogRoot}/tmetadb/dflt"
    assert(LakeTable.currentVersion(spark, loc).contains(0L))
    assert(LakeTable.meta(spark, loc).schema.exists(_("s").metadata.contains("CURRENT_DEFAULT")))
  }

  test("a rename landing between an append's staging and its commit stays in force") {
    val p = freshPath("ddl_mid_append")
    LakeTable.create(spark, p, Seq((1L, 10L)).toDF("k", "a"))
    LakeTable.tableSchema(spark, p) // cached: the rename below runs no job
    AppendGate.reset()
    val gate = udf((v: Long) => { AppendGate.pass(); v }).asNondeterministic()
    val ec = scala.concurrent.ExecutionContext.global
    val appended = scala.concurrent.Future(LakeTable.append(spark, p,
      spark.range(2, 3).select(col("id").as("k"), gate(col("id") * 10).as("a"))))(ec)
    try {
      assert(AppendGate.started.await(120, java.util.concurrent.TimeUnit.SECONDS),
        "the append's write job never started")
      LakeTable.renameColumn(spark, p, "a", "a2") // publishes v1 mid-append
    } finally AppendGate.release.countDown()
    val v = scala.concurrent.Await.result(appended, scala.concurrent.duration.Duration(120, "s"))
    assert(v == 2L, "the append lost v1 to the rename and rebased")
    assert(LakeTable.meta(spark, p).renames.map(_.to) == Seq("a2"),
      "the append's commit must carry the rename, not revert it")
    val df = LakeTable.read(spark, p)
    assert(df.columns.toSeq == Seq("k", "a2"))
    assert(df.as[(Long, Long)].collect().toSet == Set((1L, 10L), (2L, 20L)))
  }

  test("a DDL between two micro-batches does not stop a commit-log stream reader") {
    val p = freshPath("stream_ddl")
    LakeTable.create(spark, p, spark.range(0, 10).toDF("k"))
    val q = spark.readStream.format("graft").load(p)
      .writeStream.format("memory").queryName("tmeta_stream_ddl").start()
    try {
      q.processAllAvailable()
      LakeTable.setSortBy(spark, p, Seq("k"))
      LakeTable.append(spark, p, spark.range(10, 25).toDF("k"))
      q.processAllAvailable()
      assert(q.exception.isEmpty, q.exception)
      assert(spark.table("tmeta_stream_ddl").as[Long].collect().sorted.toSeq == (0L until 25L))
    } finally q.stop()
  }
}

/** Holds a write task until the test thread releases it (tasks run in
  * the driver JVM under a local master, so they share this object).
  */
object AppendGate {
  @volatile var started = new java.util.concurrent.CountDownLatch(1)
  @volatile var release = new java.util.concurrent.CountDownLatch(1)
  def reset(): Unit = {
    started = new java.util.concurrent.CountDownLatch(1)
    release = new java.util.concurrent.CountDownLatch(1)
  }
  def pass(): Unit = {
    started.countDown()
    release.await(120, java.util.concurrent.TimeUnit.SECONDS)
  }
}
