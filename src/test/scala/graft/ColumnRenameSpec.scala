package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** RENAME COLUMN as metadata (B58, the Delta column-mapping analogue):
  * no file rewrite; old-physical-name groups map to the logical name
  * at scan assembly; new writes carry the new name; sidecar-stats
  * pruning consults both names; COW rewrites migrate.
  */
class ColumnRenameSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  private def freshPath(name: String): String = {
    val p = s"${operators.Lakehouse.scratch}/ren_$name"
    val hp = new org.apache.hadoop.fs.Path(p)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(hp)) fs.delete(hp, true)
    p
  }

  test("rename maps old groups, new writes use the new name, chain re-renames") {
    val p = freshPath("basic")
    sources.LakeTable.create(spark, p,
      Seq((1L, 10L), (2L, 20L)).toDF("k", "amount"))
    sources.LakeTable.renameColumn(spark, p, "amount", "value")
    // logical schema shows the new name only
    assert(sources.LakeTable.read(spark, p).columns.toSeq == Seq("k", "value"))
    // appends after the rename write the new physical name
    sources.LakeTable.append(spark, p, Seq((3L, 30L)).toDF("k", "value"))
    val all = sources.LakeTable.read(spark, p)
      .select("k", "value").as[(Long, Long)].collect().toSet
    assert(all == Set((1L, 10L), (2L, 20L), (3L, 30L)))
    // second rename chains over both old-name generations
    sources.LakeTable.renameColumn(spark, p, "value", "v2")
    val again = sources.LakeTable.read(spark, p)
      .select("k", "v2").as[(Long, Long)].collect().toSet
    assert(again == Set((1L, 10L), (2L, 20L), (3L, 30L)))
    // old physical files untouched (no rewrite happened)
    val hp = new org.apache.hadoop.fs.Path(p)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(hp).map(_.getPath.getName).count(_.startsWith("d0-")) == 1)
  }

  test("ANALYZE stats follow renames and die with drops (no stale NDV on re-add)") {
    val p = freshPath("ndv")
    sources.LakeTable.create(spark, p,
      Seq((1L, 10L, "a"), (2L, 20L, "b"), (3L, 20L, "c")).toDF("k", "amount", "tag"))
    sources.LakeTable.analyze(spark, p)
    assert(sources.LakeTable.meta(spark, p).ndv("amount").ndv == 2L)
    // rename: the stats ride to the new name, nothing under the old
    sources.LakeTable.renameColumn(spark, p, "amount", "value")
    val afterRename = sources.LakeTable.meta(spark, p).ndv
    assert(afterRename("value").ndv == 2L, afterRename)
    assert(!afterRename.contains("amount"), afterRename)
    // drop then re-ADD the same name: the dead column's NDV must NOT
    // be inherited by the new column (stats for a different column
    // under a reused name are worse than none)
    sources.LakeTable.dropColumn(spark, p, "value")
    assert(!sources.LakeTable.meta(spark, p).ndv.contains("value"))
    sources.LakeTable.append(spark, p,
      Seq((4L, 99L, "d")).toDF("k", "value", "tag"))
    assert(!sources.LakeTable.meta(spark, p).ndv.contains("value"))
    // untouched columns keep their entries throughout
    assert(sources.LakeTable.meta(spark, p).ndv("tag").ndv == 3L)
  }

  test("stats pruning on the renamed column still skips old-name files") {
    val p = freshPath("prune")
    // two well-separated files so bounds can discriminate
    sources.LakeTable.create(spark, p,
      spark.range(0, 100).select(col("id").as("k"), col("id").as("amount"))
        .repartitionByRange(2, col("amount")))
    sources.LakeTable.renameColumn(spark, p, "amount", "value")
    val c = sources.LakeTable.readCommit(spark, p,
      sources.LakeTable.currentVersion(spark, p).get)
    val (pruned, _) = sources.LakeTable.pruneFilesByDir(spark, p,
      sources.LakeTable.meta(spark, p).renames, c.dirs,
      Map("value" -> sources.LakeTable.ColumnBounds(Some(Long.box(90L)), None)))
    val files = pruned.flatMap(_.files)
    assert(files.nonEmpty)
    assert(files.exists(!_.kept),
      s"stats recorded under the OLD name must still prune: $files")
    assert(files.exists(_.kept))
  }

  test("SQL ALTER TABLE RENAME COLUMN end-to-end through the catalog") {
    val cat = "ren_cat"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root",
      s"${operators.Lakehouse.scratch}/ren_wh")
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    spark.sql(s"DROP TABLE IF EXISTS $cat.db.rt")
    spark.sql(s"CREATE TABLE $cat.db.rt (k BIGINT, amount BIGINT) USING graft")
    spark.sql(s"INSERT INTO $cat.db.rt VALUES (1, 10), (2, 20)")
    spark.sql(s"ALTER TABLE $cat.db.rt RENAME COLUMN amount TO value")
    spark.sql(s"INSERT INTO $cat.db.rt VALUES (3, 30)")
    // reads resolve both generations under the logical name; filters work
    assert(spark.sql(s"SELECT sum(value) FROM $cat.db.rt").collect()(0).getLong(0) == 60L)
    assert(spark.sql(s"SELECT k FROM $cat.db.rt WHERE value >= 20 ORDER BY k")
      .collect().map(_.getLong(0)).toSeq == Seq(2L, 3L))
    // DML over the logical name rewrites (and thereby migrates) groups
    spark.sql(s"UPDATE $cat.db.rt SET value = value + 1 WHERE k = 1")
    assert(spark.sql(s"SELECT value FROM $cat.db.rt WHERE k = 1")
      .collect()(0).getLong(0) == 11L)
  }

  test("multi-change ALTER is atomic: all-or-nothing, later clauses see earlier ones") {
    import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog, TableChange}
    val cat = "atomic_cat"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root",
      s"${operators.Lakehouse.scratch}/atomic_wh")
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    spark.sql(s"DROP TABLE IF EXISTS $cat.db.at")
    spark.sql(s"CREATE TABLE $cat.db.at (k BIGINT, a INT) USING graft")
    spark.sql(s"INSERT INTO $cat.db.at VALUES (1, 10)")
    val tc = spark.sessionState.catalogManager.catalog(cat).asInstanceOf[TableCatalog]
    val id = Identifier.of(Array("db"), "at")
    // ADD COLUMN x + RENAME x→y in ONE statement: the rename validates
    // against the fold, not the (not-yet-persisted) disk schema
    tc.alterTable(id,
      TableChange.addColumn(Array("x"), org.apache.spark.sql.types.LongType),
      TableChange.renameColumn(Array("x"), "y"))
    assert(spark.sql(s"SELECT * FROM $cat.db.at").columns.toSeq == Seq("k", "a", "y"))
    // a failing LATER clause rolls back the whole statement: the valid
    // rename a→a2 must NOT persist when the narrowing widen rejects
    intercept[IllegalArgumentException] {
      tc.alterTable(id,
        TableChange.renameColumn(Array("a"), "a2"),
        TableChange.updateColumnType(Array("k"), org.apache.spark.sql.types.IntegerType))
    }
    assert(spark.sql(s"SELECT * FROM $cat.db.at").columns.toSeq == Seq("k", "a", "y"),
      "a partially-failed ALTER must persist nothing")
    // rename + widen of the SAME column in one statement both land
    tc.alterTable(id,
      TableChange.renameColumn(Array("a"), "a2"),
      TableChange.updateColumnType(Array("a2"), org.apache.spark.sql.types.LongType))
    spark.sql(s"INSERT INTO $cat.db.at VALUES (2, 25, 7)")
    val rows = spark.sql(s"SELECT k, a2, y FROM $cat.db.at ORDER BY k").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 10L), (2L, 25L)), rows.mkString(","))
  }

  test("drop column is metadata-only; re-adding the same name never resurrects old data") {
    val p = freshPath("drop")
    sources.LakeTable.create(spark, p,
      Seq((1L, 10L, "a"), (2L, 20L, "b")).toDF("k", "x", "note"))
    sources.LakeTable.dropColumn(spark, p, "x")
    assert(sources.LakeTable.read(spark, p).columns.toSeq == Seq("k", "note"))
    // no file was rewritten
    val hp = new org.apache.hadoop.fs.Path(p)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(hp).map(_.getPath.getName).count(_.startsWith("d0-")) == 1)
    // re-ADD the same name: pre-drop groups must read NULL (the stamp
    // confines the tombstone mapping to them), post-add groups real data
    sources.LakeTable.updateSchemaMeta(spark, p,
      sources.LakeTable.read(spark, p).schema.add("x", "bigint"))
    sources.LakeTable.append(spark, p, Seq((3L, "c", 333L)).toDF("k", "note", "x"))
    val rows = sources.LakeTable.read(spark, p)
      .select("k", "x").collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    assert(rows == Set((1L, -1L), (2L, -1L), (3L, 333L)),
      s"stale pre-drop x values must not resurrect: $rows")
  }

  test("drop composes with rename on the chain; guards reject structural deps") {
    val p = freshPath("dropchain")
    sources.LakeTable.create(spark, p, Seq((1L, 10L), (2L, 20L)).toDF("k", "amount"))
    sources.LakeTable.renameColumn(spark, p, "amount", "value")
    sources.LakeTable.dropColumn(spark, p, "value")
    assert(sources.LakeTable.read(spark, p).columns.toSeq == Seq("k"))
    intercept[IllegalArgumentException] {
      sources.LakeTable.dropColumn(spark, p, "k") // the only column
    }
    // partition-column drop rejects
    val pp = freshPath("droppart")
    sources.LakeTable.create(spark, pp,
      Seq((1L, "en", 10L), (2L, "de", 20L)).toDF("k", "lang", "v"),
      partitionBy = Seq("lang"))
    intercept[IllegalArgumentException] {
      sources.LakeTable.dropColumn(spark, pp, "lang")
    }
  }

  test("SQL ALTER TABLE DROP COLUMN end-to-end; compaction sheds the bytes") {
    val cat = "ren_cat"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root",
      s"${operators.Lakehouse.scratch}/ren_wh")
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    spark.sql(s"DROP TABLE IF EXISTS $cat.db.dt")
    spark.sql(s"CREATE TABLE $cat.db.dt (k BIGINT, x BIGINT, note STRING) USING graft")
    spark.sql(s"INSERT INTO $cat.db.dt VALUES (1, 10, 'a'), (2, 20, 'b')")
    spark.sql(s"ALTER TABLE $cat.db.dt DROP COLUMN x")
    assert(spark.table(s"$cat.db.dt").columns.toSeq == Seq("k", "note"))
    spark.sql(s"INSERT INTO $cat.db.dt VALUES (3, 'c')")
    assert(spark.sql(s"SELECT count(*) FROM $cat.db.dt WHERE note >= 'a'")
      .head().getLong(0) == 3L)
    // compaction physically sheds the dropped column
    val loc = s"${operators.Lakehouse.scratch}/ren_wh/db/dt"
    sources.LakeTable.compact(spark, loc, 1)
    val c = sources.LakeTable.readCommit(spark, loc,
      sources.LakeTable.currentVersion(spark, loc).get)
    c.dirs.foreach { d =>
      val dp = new org.apache.hadoop.fs.Path(loc, d)
      val fs = dp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.listStatus(dp).filter(_.getPath.getName.endsWith(".parquet")).foreach { f =>
        val cols = spark.read.parquet(f.getPath.toString).columns.toSeq
        assert(!cols.contains("x") && !cols.exists(_.startsWith("__graft_dropped_")),
          s"${f.getPath}: $cols")
      }
    }
    assert(spark.sql(s"SELECT sum(k) FROM $cat.db.dt").head().getLong(0) == 6L)
  }

  test("type widening is metadata-only: old groups cast per group, new writes are wide") {
    val p = freshPath("widen")
    sources.LakeTable.create(spark, p, Seq((1, 10), (2, 20)).toDF("k", "v")) // int, int
    sources.LakeTable.widenColumn(spark, p, "v", org.apache.spark.sql.types.LongType)
    assert(sources.LakeTable.read(spark, p).schema("v").dataType ==
      org.apache.spark.sql.types.LongType)
    // no file rewritten
    val hp = new org.apache.hadoop.fs.Path(p)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.listStatus(hp).map(_.getPath.getName).count(_.startsWith("d0-")) == 1)
    // post-widen appends carry the wide type natively; values beyond
    // int range coexist with the cast old group
    sources.LakeTable.append(spark, p, Seq((3, 5000000000L)).toDF("k", "v"))
    assert(sources.LakeTable.read(spark, p).agg(sum("v")).head().getLong(0) == 5000000030L)
    // narrowing and lossy conversions reject
    intercept[IllegalArgumentException] {
      sources.LakeTable.widenColumn(spark, p, "v", org.apache.spark.sql.types.IntegerType)
    }
    intercept[IllegalArgumentException] {
      sources.LakeTable.widenColumn(spark, p, "v", org.apache.spark.sql.types.DoubleType)
    }
    // widen composes with a later rename on the chain
    sources.LakeTable.renameColumn(spark, p, "v", "amount")
    assert(sources.LakeTable.read(spark, p)
      .agg(sum("amount")).head().getLong(0) == 5000000030L)
  }

  test("SQL widening ALTER COLUMN TYPE end-to-end; filters stay correct across generations") {
    val cat = "ren_cat"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root",
      s"${operators.Lakehouse.scratch}/ren_wh")
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    spark.sql(s"DROP TABLE IF EXISTS $cat.db.wt")
    spark.sql(s"CREATE TABLE $cat.db.wt (k BIGINT, v INT) USING graft")
    spark.sql(s"INSERT INTO $cat.db.wt VALUES (1, 10), (2, 20)")
    spark.sql(s"ALTER TABLE $cat.db.wt ALTER COLUMN v TYPE BIGINT")
    spark.sql(s"INSERT INTO $cat.db.wt VALUES (3, 5000000000)")
    assert(spark.table(s"$cat.db.wt").schema("v").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(spark.sql(s"SELECT sum(v) FROM $cat.db.wt").head().getLong(0) == 5000000030L)
    assert(spark.sql(s"SELECT k FROM $cat.db.wt WHERE v >= 20 ORDER BY k")
      .collect().map(_.getLong(0)).toSeq == Seq(2L, 3L))
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.db.wt ALTER COLUMN v TYPE INT")
    }
  }

  test("shallow clone carries the mapping chain; clone-side changes map source-named dirs") {
    val src = freshPath("clsrc")
    val dst = freshPath("cldst")
    sources.LakeTable.create(spark, src, Seq((1L, 10L), (2L, 20L)).toDF("k", "amount"))
    sources.LakeTable.renameColumn(spark, src, "amount", "value")
    sources.LakeTable.append(spark, src, Seq((3L, 30L)).toDF("k", "value"))
    sources.LakeTable.shallowClone(spark, src, dst)
    // the clone serves the source's LOGICAL schema, both generations
    assert(sources.LakeTable.read(spark, dst).columns.toSeq == Seq("k", "value"))
    assert(sources.LakeTable.read(spark, dst).agg(sum("value")).head().getLong(0) == 60L)
    // a clone-side rename must postdate the SOURCE-named dirs it references
    sources.LakeTable.renameColumn(spark, dst, "value", "v2")
    assert(sources.LakeTable.read(spark, dst)
      .select("k", "v2").as[(Long, Long)].collect().toSet ==
      Set((1L, 10L), (2L, 20L), (3L, 30L)))
    // the source never sees the clone's chain
    assert(sources.LakeTable.read(spark, src).columns.toSeq == Seq("k", "value"))
  }

  test("DROP then re-ADD then clone: the copied tombstone stamp confines to pre-drop groups") {
    // Regression: groupVersionOf used to collapse the clone's
    // absolute-URI dirs to MinValue, so the copied DROP tombstone
    // (stamped after the re-add's data) captured the RE-ADDED column
    // in every referenced group and the clone served NULL where the
    // source serves real data.
    val src = freshPath("dropreaddclone_src")
    val dst = freshPath("dropreaddclone_dst")
    sources.LakeTable.create(spark, src, Seq((1L, 10L), (2L, 20L)).toDF("k", "x"))
    sources.LakeTable.dropColumn(spark, src, "x")
    sources.LakeTable.updateSchemaMeta(spark, src,
      sources.LakeTable.read(spark, src).schema.add("x", "bigint"))
    sources.LakeTable.append(spark, src, Seq((3L, 333L)).toDF("k", "x"))
    val want = Set((1L, -1L), (2L, -1L), (3L, 333L))
    def got(path: String) = sources.LakeTable.read(spark, path).select("k", "x")
      .collect().map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1))).toSet
    assert(got(src) == want)
    sources.LakeTable.shallowClone(spark, src, dst)
    assert(got(dst) == want, "clone must serve the re-added column's data, not NULL")
    // clone-side writes postdate the copied chain: appended x survives
    sources.LakeTable.append(spark, dst, Seq((4L, 444L)).toDF("k", "x"))
    assert(got(dst) == want + ((4L, 444L)))
    // and a clone of the clone still composes
    val dst2 = freshPath("dropreaddclone_dst2")
    sources.LakeTable.shallowClone(spark, dst, dst2)
    assert(got(dst2) == want + ((4L, 444L)))
  }

  test("table-meta CAS: a held claim rejects the DDL loudly instead of last-writer-wins") {
    val p = freshPath("metacas")
    sources.LakeTable.create(spark, p, Seq((1L, 10L, 20L)).toDF("k", "a", "b"))
    // simulate a concurrent writer that claimed the next log version
    val claim = new org.apache.hadoop.fs.Path(s"$p/_graft_log", ".claim-v00001")
    val fs = claim.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(claim.getParent)
    fs.create(claim, false).close()
    intercept[sources.LakeTable.ConcurrentWriteException] {
      sources.LakeTable.renameColumn(spark, p, "a", "a2")
    }
    // the chain is untouched; releasing the claim lets the DDL through
    assert(sources.LakeTable.read(spark, p).columns.toSeq == Seq("k", "a", "b"))
    fs.delete(claim, false)
    sources.LakeTable.renameColumn(spark, p, "a", "a2")
    assert(sources.LakeTable.read(spark, p).columns.toSeq == Seq("k", "a2", "b"))
  }

  test("two racing DDLs: neither chain entry is silently dropped") {
    import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
    val p = freshPath("metarace")
    sources.LakeTable.create(spark, p, Seq((1L, 10L, 20L)).toDF("k", "a", "b"))
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    def racer(from: String, to: String): java.util.concurrent.Future[Boolean] =
      pool.submit(() => {
        start.await(10, TimeUnit.SECONDS)
        var done = false; var tries = 0
        while (!done && tries < 20) {
          tries += 1
          try { sources.LakeTable.renameColumn(spark, p, from, to); done = true }
          catch { case _: sources.LakeTable.ConcurrentWriteException => Thread.sleep(10) }
        }
        done
      }: Boolean)
    val (fa, fb) = (racer("a", "a2"), racer("b", "b2"))
    start.countDown()
    assert(fa.get(60, TimeUnit.SECONDS) && fb.get(60, TimeUnit.SECONDS),
      "both DDLs must eventually publish")
    pool.shutdown()
    // BOTH renames survive on the chain — last-writer-wins would have
    // kept only one
    assert(sources.LakeTable.read(spark, p).columns.toSeq == Seq("k", "a2", "b2"))
    assert(sources.LakeTable.read(spark, p).select("a2", "b2")
      .as[(Long, Long)].head() == ((10L, 20L)))
  }

  test("corrupt table meta fails loudly instead of serving an empty chain") {
    val p = freshPath("metacorrupt")
    sources.LakeTable.create(spark, p, Seq((1L, 10L)).toDF("k", "a"))
    sources.LakeTable.renameColumn(spark, p, "a", "a2")
    val head = sources.LakeTable.state(spark, p).commit
    val meta = new org.apache.hadoop.fs.Path(s"$p/_graft_log", head.meta.get)
    val fs = meta.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(meta, true)
    try out.write("{\"partitionBy\":[".getBytes("UTF-8")) finally out.close() // torn tail
    val e = intercept[IllegalStateException] {
      sources.LakeTable.read(spark, p).collect()
    }
    assert(e.getMessage.contains("corrupt table meta"), e.getMessage)
  }

  test("renaming a PARTITION column: old col=value dirs map, pruning and new appends follow") {
    val p = freshPath("renpart")
    sources.LakeTable.create(spark, p,
      Seq((1L, "en", 10L), (2L, "de", 20L), (3L, "en", 30L)).toDF("k", "lang", "v"),
      partitionBy = Seq("lang"))
    sources.LakeTable.renameColumn(spark, p, "lang", "language")
    // logical schema + partition spec follow the new name
    assert(sources.LakeTable.read(spark, p).columns.contains("language"))
    assert(sources.LakeTable.meta(spark, p).partitionBy == Seq("language"))
    // new appends lay out under the new name; both generations serve
    sources.LakeTable.append(spark, p, Seq((4L, "de", 40L)).toDF("k", "language", "v"))
    val by = sources.LakeTable.read(spark, p).groupBy("language")
      .agg(sum("v").as("sv")).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(by == Map("en" -> 40L, "de" -> 60L), by.toString)
    // filters on the renamed partition column stay correct across generations
    assert(sources.LakeTable.read(spark, p).where(col("language") === "de")
      .agg(sum("v")).head().getLong(0) == 60L)
  }

  test("deletion vectors compose with the mapping chain: MOR delete then rename, both apply") {
    val p = freshPath("dvmap")
    sources.LakeTable.create(spark, p,
      spark.range(0, 100).select(col("id").as("k"), (col("id") * 2).as("amount")))
    // MOR delete marks rows in vectors (no rewrite), then a rename
    // chains on top — the read must apply BOTH: vectors filter rows,
    // the chain maps the physical name.
    sources.LakeTable.deleteMor(spark, p, col("amount") >= 100)
    sources.LakeTable.renameColumn(spark, p, "amount", "value")
    val r = sources.LakeTable.read(spark, p)
    assert(r.columns.toSeq == Seq("k", "value"))
    assert(r.count() == 50L)
    assert(r.agg(sum("value")).head().getLong(0) == (0 until 50).map(_ * 2).sum)
    // catalog-SQL serving path (the DV/mapping V1 builder) agrees
    val cat = "ren_cat"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root",
      s"${operators.Lakehouse.scratch}/ren_wh")
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    spark.sql(s"DROP TABLE IF EXISTS $cat.db.dvm")
    spark.sql(s"CREATE TABLE $cat.db.dvm (k BIGINT, amount BIGINT) USING graft")
    spark.sql(s"INSERT INTO $cat.db.dvm SELECT id, id * 2 FROM range(100)")
    val loc = s"${operators.Lakehouse.scratch}/ren_wh/db/dvm"
    sources.LakeTable.deleteMor(spark, loc, col("amount") >= 100)
    spark.sql(s"ALTER TABLE $cat.db.dvm RENAME COLUMN amount TO value")
    assert(spark.sql(s"SELECT count(*), sum(value) FROM $cat.db.dvm WHERE value < 60")
      .collect()(0).toSeq == Seq(30L, (0 until 30).map(_ * 2).sum.toLong))
  }

  test("property: random rename/drop/widen/append/delete/compact sequences equal the model") {
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.Row
    for (seed <- Seq(7L, 23L)) {
      val rnd = new scala.util.Random(seed)
      val p = freshPath(s"fuzz$seed")
      // model: ordered (name, kind) columns; rows as name->value maps.
      // kinds: long / int / string; widen promotes int -> long.
      var cols = Vector(("k", "long"), ("a", "int"), ("s", "string"))
      var nextKey = 0L
      var nextCol = 0
      def freshRows(n: Int): Seq[Map[String, Any]] = (1 to n).map { _ =>
        nextKey += 1
        cols.map { case (c, t) => c -> (t match {
          case "long"   => nextKey * 10
          case "int"    => (nextKey % 100).toInt
          case "string" => s"v$nextKey"
        }) }.toMap
      }
      def toDf(rows: Seq[Map[String, Any]]) = {
        val schema = StructType(cols.map { case (c, t) => StructField(c, t match {
          case "long" => LongType; case "int" => IntegerType; case "string" => StringType
        }) })
        spark.createDataFrame(
          spark.sparkContext.parallelize(rows.map(m => Row(cols.map(c => m(c._1)): _*)), 2),
          schema)
      }
      var model = freshRows(5)
      sources.LakeTable.create(spark, p, toDf(model))
      (1 to 14).foreach { _ =>
        rnd.nextInt(6) match {
          case 0 =>
            val r = freshRows(1 + rnd.nextInt(3))
            model ++= r
            sources.LakeTable.append(spark, p, toDf(r))
          case 1 if cols.size > 1 =>
            val i = rnd.nextInt(cols.size)
            val (old, t) = cols(i)
            val fresh = s"c$nextCol"; nextCol += 1
            sources.LakeTable.renameColumn(spark, p, old, fresh)
            model = model.map(m => m - old + (fresh -> m(old)))
            cols = cols.updated(i, (fresh, t))
          case 2 if cols.size > 1 =>
            val i = rnd.nextInt(cols.size)
            val (old, _) = cols(i)
            sources.LakeTable.dropColumn(spark, p, old)
            model = model.map(_ - old)
            cols = cols.patch(i, Nil, 1)
          case 3 =>
            cols.zipWithIndex.find(_._1._2 == "int").foreach { case ((c, _), i) =>
              sources.LakeTable.widenColumn(spark, p, c, LongType)
              model = model.map(m => m + (c -> m(c).asInstanceOf[Int].toLong))
              cols = cols.updated(i, (c, "long"))
            }
          case 4 =>
            cols.find(t => t._2 == "long" || t._2 == "int").foreach { case (c, _) =>
              sources.LakeTable.delete(spark, p,
                org.apache.spark.sql.functions.col(c) % 3 === 0)
              model = model.filterNot { m =>
                val v = m(c) match { case i: Int => i.toLong; case l: Long => l }
                v % 3 == 0
              }
            }
          case _ =>
            sources.LakeTable.compact(spark, p, 1 + rnd.nextInt(2))
        }
      }
      val got = sources.LakeTable.read(spark, p)
        .select(cols.map(c => org.apache.spark.sql.functions.col(c._1)): _*)
        .collect().map(r => cols.indices.map(i => r.get(i)).toVector).toSeq
        .sortBy(_.mkString("|"))
      val want = model.map(m => cols.map { case (c, t) => (m(c), t) match {
        case (i: Int, "long") => i.toLong // widened after this row's write
        case (v, _) => v
      } }.toVector).sortBy(_.mkString("|"))
      assert(got == want, s"seed $seed: mapped table diverged from model\n got=$got\nwant=$want")
    }
  }

  test("compaction migrates old groups to the current physical names") {
    val p = freshPath("compact")
    sources.LakeTable.create(spark, p, Seq((1L, 10L)).toDF("k", "amount"))
    sources.LakeTable.renameColumn(spark, p, "amount", "value")
    sources.LakeTable.compact(spark, p, 1)
    // after compaction every live file carries the new physical name
    val c = sources.LakeTable.readCommit(spark, p,
      sources.LakeTable.currentVersion(spark, p).get)
    val dirs = c.dirs.map(d => new org.apache.hadoop.fs.Path(p, d))
    val fs = dirs.head.getFileSystem(spark.sparkContext.hadoopConfiguration)
    dirs.foreach { d =>
      fs.listStatus(d).filter(_.getPath.getName.endsWith(".parquet")).foreach { f =>
        val cols = spark.read.parquet(f.getPath.toString).columns.toSeq
        assert(cols == Seq("k", "value"), s"${f.getPath}: $cols")
      }
    }
    assert(sources.LakeTable.read(spark, p).select("value").as[Long].collect().toSeq == Seq(10L))
  }

  test("readRange and readPoint assemble renamed groups under the logical names") {
    val p = freshPath("lookups")
    sources.LakeTable.create(spark, p,
      spark.range(0, 100).select(col("id").as("k"), (col("id") * 10).as("amount"))
        .repartitionByRange(2, col("k")))
    sources.LakeTable.renameColumn(spark, p, "amount", "value")
    val ranged = sources.LakeTable.readRange(spark, p, "value", 100L, 120L)
    assert(ranged.columns.toSeq == Seq("k", "value"))
    assert(ranged.select("k").as[Long].collect().sorted.toSeq == Seq(10L, 11L, 12L))
    val point = sources.LakeTable.readPoint(spark, p, "value", 500L)
    assert(point.columns.toSeq == Seq("k", "value"))
    assert(point.as[(Long, Long)].collect().toSeq == Seq((50L, 500L)))
    // lookups on an unrenamed column show the logical name too
    assert(sources.LakeTable.readRange(spark, p, "k", 7L, 7L).columns.toSeq == Seq("k", "value"))
    assert(sources.LakeTable.readPoint(spark, p, "k", 7L).as[(Long, Long)].collect().toSeq ==
      Seq((7L, 70L)))
  }

  test("readRange and readPoint never return a dropped column") {
    val p = freshPath("lookups_drop")
    sources.LakeTable.create(spark, p,
      Seq((1L, 10L, 100L), (2L, 20L, 200L)).toDF("k", "a", "b"))
    sources.LakeTable.dropColumn(spark, p, "b")
    val ranged = sources.LakeTable.readRange(spark, p, "k", 1L, 1L)
    assert(ranged.columns.toSeq == Seq("k", "a"))
    assert(ranged.as[(Long, Long)].collect().toSeq == Seq((1L, 10L)))
    val point = sources.LakeTable.readPoint(spark, p, "k", 2L)
    assert(point.columns.toSeq == Seq("k", "a"))
    assert(point.as[(Long, Long)].collect().toSeq == Seq((2L, 20L)))
  }
}
