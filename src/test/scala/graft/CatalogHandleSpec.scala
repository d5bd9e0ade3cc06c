package graft

import java.util.concurrent.atomic.LongAdder

import org.apache.spark.sql.connector.catalog.{Identifier, Table}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.{GraftCatalog, LakeTable}

/** A catalog that counts the `loadTable` calls Spark makes. */
class LoadCountingCatalog extends GraftCatalog {
  override def loadTable(ident: Identifier): Table = {
    LoadCountingCatalog.loads.increment()
    super.loadTable(ident)
  }
}

object LoadCountingCatalog {
  val loads = new LongAdder
}

/** A catalog table handle reads the one table state its loader
  * resolved: the log and meta reads a statement pays, and the scans
  * of a re-executed Dataset, which advance an unpinned handle to the
  * head but never a pinned one.
  */
class CatalogHandleSpec extends AnyFunSuite {
  import SharedSpark.spark

  spark.conf.set("spark.sql.catalog.counting_cat", classOf[LoadCountingCatalog].getName)
  spark.conf.set("spark.sql.catalog.counting_cat.root", GraftSession.catalogRoot)
  spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.hdl")

  private def fresh(name: String): String = {
    spark.sql(s"DROP TABLE IF EXISTS graft_cat.hdl.$name")
    spark.sql(s"CREATE TABLE graft_cat.hdl.$name AS SELECT id AS k, id * 2 AS v FROM range(100)")
    s"${GraftSession.catalogRoot}/hdl/$name"
  }

  test("a catalog point read resolves the head once per load and probes it once per scan") {
    val p = fresh("point")
    LakeTable.setSortBy(spark, p, Seq("k")) // a head with a meta object to open
    (1 to 3).foreach(i => spark.sql(s"INSERT INTO graft_cat.hdl.point VALUES (${100 + i}, $i)"))
    LakeTable.logOps.reset()
    LakeTable.head(spark, p)
    val headOps = LakeTable.logOps.sum()

    LoadCountingCatalog.loads.reset()
    LakeTable.logOps.reset()
    val metaBefore = LakeTable.metaReads.sum()
    val rows = spark.sql("SELECT v FROM counting_cat.hdl.point WHERE k = 42").collect()
    val loads = LoadCountingCatalog.loads.sum()
    val metaReads = LakeTable.metaReads.sum() - metaBefore
    val logOps = LakeTable.logOps.sum()
    assert(rows.map(_.getLong(0)).toSeq == Seq(84L))
    assert(loads >= 1L)
    assert(metaReads == loads, s"$metaReads meta opens for $loads loads")
    assert(logOps <= loads * headOps + 2,
      s"$logOps log ops for $loads loads of $headOps each plus the scan's 2-stat probe")
  }

  test("re-executed Datasets see rows an INSERT committed after they were planned") {
    val p = fresh("reexec")
    val byName = spark.table("graft_cat.hdl.reexec")
    val byPath = spark.read.format("graft").load(p)
    val v = LakeTable.currentVersion(spark, p).get
    val pinned = spark.sql(s"SELECT * FROM graft_cat.hdl.reexec VERSION AS OF $v")
    assert(byName.count() == 100L && byPath.count() == 100L && pinned.count() == 100L)
    spark.sql("INSERT INTO graft_cat.hdl.reexec VALUES (1000, 1), (1001, 2)")
    assert(byName.count() == 102L && byPath.count() == 102L)
    assert(byName.where("k >= 1000").count() == 2L && byPath.where("k >= 1000").count() == 2L)
    assert(pinned.count() == 100L, "a pinned handle moved")
  }

  test("a Dataset re-executed after DROP and CREATE of its table at the same version reads the new table") {
    val p = fresh("recreate")
    val byName = spark.table("graft_cat.hdl.recreate")
    val byPath = spark.read.format("graft").load(p)
    assert(byName.count() == 100L && byPath.count() == 100L)
    val v = LakeTable.currentVersion(spark, p)
    Thread.sleep(5) // a new commit file, not only new content
    spark.sql("DROP TABLE graft_cat.hdl.recreate")
    spark.sql("CREATE TABLE graft_cat.hdl.recreate AS SELECT id AS k, id AS v FROM range(7)")
    assert(LakeTable.currentVersion(spark, p) == v)
    assert(byName.count() == 7L && byPath.count() == 7L)
    assert(byName.agg(org.apache.spark.sql.functions.sum("v")).head().getLong(0) == 21L)
  }
}
