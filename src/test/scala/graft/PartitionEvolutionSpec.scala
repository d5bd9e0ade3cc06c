package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Partition evolution (B53): changing a table's partition spec is a
  * METADATA commit — no data rewrite. New groups lay out under the
  * new spec, existing groups keep theirs, reads union both, pruning
  * follows each file's OWN layout, old snapshots are untouched, and
  * the next COW rewrite migrates data to the current spec.
  */
class PartitionEvolutionSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  private def freshPath(name: String): String = {
    val p = s"${operators.Lakehouse.scratch}/evo_$name"
    val hp = new org.apache.hadoop.fs.Path(p)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(hp)) fs.delete(hp, true)
    p
  }

  private def leafDirs(path: String): Set[String] = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = Set.newBuilder[String]
    val it = fs.listFiles(hp, true)
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet"))
        out += f.getPath.getParent.getName
    }
    out.result()
  }

  test("spec change is metadata-only; mixed layouts read and prune per file") {
    val p = freshPath("mixed")
    val batch1 = Seq((1L, "en", 10L), (2L, "de", 20L), (3L, "en", 30L))
      .toDF("k", "lang", "v")
    sources.LakeTable.create(spark, p, batch1)
    val v1 = sources.LakeTable.currentVersion(spark, p).get

    sources.LakeTable.setPartitioning(spark, p, Seq("lang"))
    assert(sources.LakeTable.meta(spark, p).partitionBy == Seq("lang"))

    val batch2 = Seq((4L, "en", 40L), (5L, "de", 50L), (6L, "fr", 60L))
      .toDF("k", "lang", "v")
    sources.LakeTable.append(spark, p, batch2)

    // new group hive-partitioned, old group flat — and NOTHING rewritten
    val leaves = leafDirs(p)
    assert(leaves.exists(_.startsWith("lang=")), s"new group must be partitioned: $leaves")
    assert(leaves.exists(_.startsWith("d0-")), s"old group must stay flat: $leaves")

    // full read unions both layouts
    val all = sources.LakeTable.read(spark, p)
      .select("k", "lang", "v").as[(Long, String, Long)].collect().toSet
    assert(all == Set((1L, "en", 10L), (2L, "de", 20L), (3L, "en", 30L),
      (4L, "en", 40L), (5L, "de", 50L), (6L, "fr", 60L)))

    // old snapshot unaffected by the spec change
    val before = sources.LakeTable.read(spark, p, Some(v1))
      .select("k").as[Long].collect().toSet
    assert(before == Set(1L, 2L, 3L))

    // pruning follows each file's own layout: in the NEW group only the
    // lang=en leaf survives a lang=en bound; old-group files are judged
    // by their sidecar stats instead of paths
    val c = sources.LakeTable.readCommit(spark, p,
      sources.LakeTable.currentVersion(spark, p).get)
    val (pruned, _) = sources.LakeTable.pruneFilesByDir(spark, p,
      sources.LakeTable.meta(spark, p).renames, c.dirs,
      Map("lang" -> sources.LakeTable.ColumnBounds(Some("en"), Some("en"))))
    val files = pruned.flatMap(_.files)
    val newSpecFiles = files.filter(_.file.contains("lang="))
    assert(newSpecFiles.nonEmpty)
    newSpecFiles.foreach { f =>
      assert(f.kept == f.file.contains("lang=en"),
        s"partition-path pruning wrong for ${f.file}: kept=${f.kept}") }
  }

  test("COW rewrite migrates data to the current spec; reverting works too") {
    val p = freshPath("rewrite")
    sources.LakeTable.create(spark, p,
      Seq((1L, "en", 10L), (2L, "de", 20L)).toDF("k", "lang", "v"))
    sources.LakeTable.setPartitioning(spark, p, Seq("lang"))
    // compaction is a COW rewrite of every group → adopts the new spec
    sources.LakeTable.compact(spark, p, 1)
    val leaves = leafDirs(p)
    assert(leaves.count(_.startsWith("lang=")) >= 2,
      s"compacted groups must be partitioned: $leaves")
    assert(sources.LakeTable.read(spark, p).count() == 2)

    // evolve BACK to flat: next append is flat, reads still union
    sources.LakeTable.setPartitioning(spark, p, Nil)
    sources.LakeTable.append(spark, p, Seq((3L, "fr", 30L)).toDF("k", "lang", "v"))
    assert(sources.LakeTable.read(spark, p).count() == 3)
  }

  test("CALL system.set_partitioning + SQL INSERT write under the new spec") {
    val cat = "evo_cat"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root",
      s"${operators.Lakehouse.scratch}/evo_wh")
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    spark.sql(s"DROP TABLE IF EXISTS $cat.db.evt")
    spark.sql(s"CREATE TABLE $cat.db.evt (k BIGINT, lang STRING, v BIGINT) USING graft")
    spark.sql(s"INSERT INTO $cat.db.evt VALUES (1, 'en', 10)")
    val out = spark.sql(s"CALL $cat.system.set_partitioning('db.evt', 'lang')")
      .collect()(0).getString(0)
    assert(out == "lang")
    spark.sql(s"INSERT INTO $cat.db.evt VALUES (2, 'de', 20), (3, 'en', 30)")
    assert(spark.sql(s"SELECT sum(v) FROM $cat.db.evt").collect()(0).getLong(0) == 60L)
    val whLeaves = leafDirs(s"${operators.Lakehouse.scratch}/evo_wh")
    assert(whLeaves.exists(_.startsWith("lang=")),
      s"SQL INSERT after evolution must use the new spec: $whLeaves")
  }
}
