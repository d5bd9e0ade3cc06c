package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.LakeTable
import graft.sources.LakeTable.{ColumnNdv, RenameRec, TableMeta, WidenRec}

/** The table meta (`_graft_log/_table.json`) as one parsed value:
  * format compatibility with bodies already on disk, names that carry
  * JSON syntax, rename-aware partition typing, stats write-backs keyed
  * by a column a DDL already renamed, and the number of meta reads each
  * verb pays.
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

  test("each meta verb reads _table.json at most twice: its base and the CAS re-verify") {
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
    counts.foreach { case (verb, n) => assert(n >= 1 && n <= 2, s"$verb read the meta $n times") }
    assert(LakeTable.read(spark, p).select("k", "w").as[(Long, Long)].collect().toSet ==
      Set((1L, 10L), (2L, 21L), (3L, 30L)))
  }
}
