package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.LakeTable

/** SQL UPDATE / MERGE INTO over graft catalog tables — the row-level
  * DML a Kyuubi SQL tenant runs (reference:
  * internal/controller/kyuubi.go exposes full Spark SQL). Routed by
  * GraftRowLevelSql into the file-group-granular COW path, so the
  * statements get the same untouched-dir carry-forward and CDC
  * capture as the API verbs.
  */
class SqlDmlSpec extends AnyFunSuite {

  private lazy val spark = SharedSpark.spark
  import spark.implicits._

  private def freshTable(name: String): String = {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.dml")
    spark.sql(s"DROP TABLE IF EXISTS graft_cat.dml.$name")
    s"graft_cat.dml.$name"
  }

  test("SQL UPDATE applies assignments to matching rows only") {
    val t = freshTable("upd")
    Seq((1, "a", 10.0), (2, "b", 20.0), (3, "a", 30.0))
      .toDF("id", "tag", "amt").writeTo(t).create()
    spark.sql(s"UPDATE $t SET amt = amt * 2, tag = upper(tag) WHERE id >= 2")
    val rows = spark.table(t).orderBy("id")
      .as[(Int, String, Double)].collect().toSeq
    assert(rows === Seq((1, "a", 10.0), (2, "B", 40.0), (3, "A", 60.0)))
  }

  test("SQL UPDATE without WHERE touches every row") {
    val t = freshTable("updall")
    Seq((1, 5L), (2, 6L)).toDF("id", "v").writeTo(t).create()
    spark.sql(s"UPDATE $t SET v = v + 100")
    assert(spark.table(t).agg(sum("v")).as[Long].head() === 211L)
  }

  test("SQL MERGE INTO: matched update + not matched insert (upsert)") {
    val t = freshTable("mrg")
    Seq((1, 100.0, "old"), (2, 200.0, "old"))
      .toDF("k", "v", "src").writeTo(t).create()
    Seq((2, 222.0), (3, 333.0)).toDF("k", "v")
      .createOrReplaceTempView("mrg_src")
    spark.sql(s"""
      MERGE INTO $t AS tgt USING mrg_src AS s ON tgt.k = s.k
      WHEN MATCHED THEN UPDATE SET v = s.v, src = 'merged'
      WHEN NOT MATCHED THEN INSERT (k, v, src) VALUES (s.k, s.v, 'inserted')
    """)
    val rows = spark.table(t).orderBy("k")
      .as[(Int, Double, String)].collect().toSeq
    assert(rows === Seq((1, 100.0, "old"), (2, 222.0, "merged"), (3, 333.0, "inserted")))
  }

  test("SQL MERGE INTO: conditional clauses, DELETE, and star actions") {
    val t = freshTable("mrg2")
    Seq((1, 10.0), (2, 20.0), (3, 30.0), (4, 40.0))
      .toDF("k", "v").writeTo(t).create()
    Seq((1, 11.0), (2, -1.0), (5, 50.0)).toDF("k", "v")
      .createOrReplaceTempView("mrg2_src")
    spark.sql(s"""
      MERGE INTO $t AS tgt USING mrg2_src AS s ON tgt.k = s.k
      WHEN MATCHED AND s.v < 0 THEN DELETE
      WHEN MATCHED THEN UPDATE SET *
      WHEN NOT MATCHED THEN INSERT *
    """)
    val rows = spark.table(t).orderBy("k").as[(Int, Double)].collect().toSeq
    assert(rows === Seq((1, 11.0), (3, 30.0), (4, 40.0), (5, 50.0)))
  }

  test("SQL MERGE INTO: NOT MATCHED BY SOURCE clauses see unreferenced rows") {
    val t = freshTable("mrg3")
    Seq((1, 10.0), (2, 20.0), (3, 30.0)).toDF("k", "v").writeTo(t).create()
    Seq((1, 11.0)).toDF("k", "v").createOrReplaceTempView("mrg3_src")
    spark.sql(s"""
      MERGE INTO $t AS tgt USING mrg3_src AS s ON tgt.k = s.k
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED BY SOURCE AND tgt.k = 3 THEN DELETE
      WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = tgt.v + 0.5
    """)
    val rows = spark.table(t).orderBy("k").as[(Int, Double)].collect().toSeq
    assert(rows === Seq((1, 11.0), (2, 20.5)))
  }

  test("MERGE with duplicate source keys and a MATCHED clause throws") {
    val t = freshTable("mrgdup")
    Seq((1, 10.0)).toDF("k", "v").writeTo(t).create()
    Seq((1, 1.0), (1, 2.0)).toDF("k", "v").createOrReplaceTempView("mrgdup_src")
    val e = intercept[Exception] {
      spark.sql(s"""
        MERGE INTO $t AS tgt USING mrgdup_src AS s ON tgt.k = s.k
        WHEN MATCHED THEN UPDATE SET v = s.v
      """)
    }
    assert(e.getMessage.contains("duplicate"))
  }

  test("first-write DML on an empty PARTITIONED DDL table works (no files yet)") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.dml")
    spark.sql("DROP TABLE IF EXISTS graft_cat.dml.fresh")
    // A partitioned create writes NO files (partitionBy of an empty
    // frame emits nothing) — DML must still see the recorded schema.
    spark.sql("CREATE TABLE graft_cat.dml.fresh (k BIGINT, g STRING) PARTITIONED BY (g)")
    spark.sql("""MERGE INTO graft_cat.dml.fresh t
                |USING (SELECT 1L AS k, '1' AS g) s ON t.k = s.k
                |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.table("graft_cat.dml.fresh").count() === 1L)
    spark.sql("UPDATE graft_cat.dml.fresh SET k = k + 1")
    assert(spark.sql("SELECT sum(k) FROM graft_cat.dml.fresh").as[Long].head() === 2L)
  }

  test("UPDATE/MERGE on non-graft tables keep Spark's standard unsupported error") {
    // The interception rule must not swallow statements aimed at
    // tables it doesn't own — Spark's capability error stays intact.
    val dir = s"${operators.Lakehouse.scratch}/plain_parquet_dml"
    spark.range(3).toDF("id").write.mode("overwrite").parquet(dir)
    spark.sql(s"CREATE OR REPLACE TEMP VIEW plain_dml AS SELECT * FROM parquet.`$dir`")
    val e = intercept[Exception] {
      spark.sql(s"UPDATE parquet.`$dir` SET id = 0 WHERE id = 1")
    }
    assert(e.getMessage.contains("UPDATE") || e.getMessage.contains("not support")
      || e.getMessage.contains("UNSUPPORTED"), e.getMessage)
  }

  test("SQL MERGE is file-group granular: untouched dirs carry forward") {
    val root = GraftSession.catalogRoot + "/dml/mrggran"
    val t = freshTable("mrggran")
    // Two disjoint-key groups: create (1..100), append (1001..1100).
    spark.range(1, 101).select($"id".as("k"), lit(1.0).as("v")).writeTo(t).create()
    spark.range(1001, 1101).select($"id".as("k"), lit(2.0).as("v")).writeTo(t).append()
    val before = LakeTable.readCommit(spark, root,
      LakeTable.currentVersion(spark, root).get)
    // Merge touches only the low-key group.
    Seq((50L, 5.0), (200L, 9.0)).toDF("k", "v").createOrReplaceTempView("mrggran_src")
    spark.sql(s"""
      MERGE INTO $t AS tgt USING mrggran_src AS s ON tgt.k = s.k
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.v)
    """)
    val after = LakeTable.readCommit(spark, root,
      LakeTable.currentVersion(spark, root).get)
    // The high-key group's dir must survive verbatim (not rewritten).
    val highDir = before.dirs.last
    assert(after.dirs.contains(highDir),
      s"untouched dir $highDir was rewritten: ${after.dirs}")
    assert(spark.table(t).where($"k" === 50).select("v").as[Double].head() === 5.0)
    assert(spark.table(t).where($"k" === 200).select("v").as[Double].head() === 9.0)
    assert(spark.table(t).count() === 201)
  }

  test("CALL system procedures: compact / set_sort_by / cluster_by / vacuum through text SQL") {
    val t = freshTable("proc")
    val root = s"${GraftSession.catalogRoot}/dml/proc"
    // 3 appends = 3 file groups, each multi-file
    Seq((1L, 1.0)).toDF("k", "v").writeTo(t).create()
    spark.range(2, 1000).selectExpr("id AS k", "cast(id AS DOUBLE) AS v").writeTo(t).append()
    spark.range(1000, 2000).selectExpr("id AS k", "cast(id AS DOUBLE) AS v").writeTo(t).append()
    val preVer = LakeTable.currentVersion(spark, root).get
    assert(LakeTable.readCommit(spark, root, preVer).dirs.length >= 3)

    // compact: one group, exact row preservation, returns the version
    val compacted = spark.sql(s"CALL graft_cat.system.compact('dml.proc', 2)")
      .as[Long].head()
    assert(compacted === preVer + 1)
    assert(LakeTable.readCommit(spark, root, compacted).dirs.length === 1)
    assert(spark.table(t).count() === 1999)

    // set_sort_by records the order (echoed back), compact now sorts
    val sb = spark.sql(s"CALL graft_cat.system.set_sort_by('dml.proc', 'k')")
      .as[String].head()
    assert(sb === "k")
    assert(LakeTable.meta(spark, root).sortBy === Seq("k"))

    // cluster_by commits a layout rewrite version (after set_sort_by's)
    val zv = spark.sql(s"CALL graft_cat.system.cluster_by('dml.proc', 'k,v', 2)")
      .as[Long].head()
    assert(zv === compacted + 2)
    assert(spark.table(t).count() === 1999)

    // cluster_incremental: append new data, only the delta is rewritten
    spark.range(2000, 2500).selectExpr("id AS k", "cast(id AS DOUBLE) AS v").writeTo(t).append()
    val clusteredDirs = LakeTable.readCommit(spark, root, zv).dirs
    val iv = spark.sql(s"CALL graft_cat.system.cluster_incremental('dml.proc', 'k,v', 2)")
      .as[Long].head()
    val ic = LakeTable.readCommit(spark, root, iv)
    assert(clusteredDirs.forall(ic.dirs.contains), s"${ic.dirs} vs $clusteredDirs")
    assert(ic.dirs.length === clusteredDirs.length + 1)
    assert(spark.table(t).count() === 2499)

    // vacuum retains only recent versions; time travel to dropped fails
    val kept = spark.sql(s"CALL graft_cat.system.vacuum('dml.proc', $iv)").as[Long].head()
    assert(kept >= 1)
    intercept[Exception] { LakeTable.read(spark, root, Some(0L)).count() }
    assert(spark.table(t).count() === 2499)

    // discoverable + misuse rejected
    val procs = spark.sql("SHOW PROCEDURES IN graft_cat.system")
      .select("procedure_name").as[String].collect().toSet
    assert(Set("compact", "vacuum", "set_sort_by", "cluster_by").subsetOf(procs), procs)
    intercept[Exception] { spark.sql("CALL graft_cat.system.no_such_proc('x')") }
    intercept[Exception] { spark.sql("CALL graft_cat.system.compact('dml.missing', 2)") }
  }

  test("DESCRIBE EXTENDED surfaces version, sort order, checks, DV mode, tags") {
    val t = freshTable("props")
    Seq((1L, 1.0)).toDF("k", "v").writeTo(t).create()
    spark.sql("CALL graft_cat.system.set_sort_by('dml.props', 'k')")
    spark.sql("CALL graft_cat.system.add_check('dml.props', 'v_pos', 'v > 0')")
    spark.sql("CALL graft_cat.system.enable_dv('dml.props', true)")
    spark.sql("CALL graft_cat.system.tag('dml.props', 'init', 0)")
    spark.sql("CALL graft_cat.system.analyze('dml.props', 'k')").collect()
    val props = spark.sql(s"SHOW TBLPROPERTIES $t")
      .as[(String, String)].collect().toMap
    assert(props.contains("current-version")) // "provider" is display-reserved
    assert(props.get("write.sort.by").contains("k"))
    assert(props.get("check.v_pos").contains("v > 0"))
    assert(props.get("deletion-vectors").contains("enabled"))
    assert(props.get("tags").contains("init=0"))
    assert(props.get("stats.analyzed").exists(_.matches("k=1@v\\d+")),
      props.get("stats.analyzed"))
    assert(spark.sql(s"DESCRIBE TABLE EXTENDED $t").count() > 0)
    // SHOW CREATE TABLE (the BI-tool introspection path) renders the
    // schema and the graft provider from the V2 surface
    val ct = spark.sql(s"SHOW CREATE TABLE $t").head().getString(0)
    assert(ct.contains("USING graft") && ct.contains("k BIGINT"), ct)
  }

  test("persistent MV: SQL aggregates over a CATALOG table route to the rollup durably") {
    val t = freshTable("mvbase")
    val root = s"${GraftSession.catalogRoot}/dml/mvbase"
    spark.sql("DROP TABLE IF EXISTS graft_cat.dml.mv1")
    spark.range(0, 10000)
      .selectExpr("id % 7 AS g", "id % 3 AS h", "cast(id AS DOUBLE) AS m")
      .writeTo(t).create()
    spark.sql(s"CALL graft_cat.system.create_mv('dml.mv1', 'dml.mvbase', 'g,h', 'm')")
    def agg = spark.sql(s"SELECT g, count(*) AS cnt, sum(m) AS s FROM $t GROUP BY g")
    val direct = spark.range(0, 10000)
      .selectExpr("id % 7 AS g", "cast(id AS DOUBLE) AS m")
      .groupBy("g").agg(count(lit(1)).as("cnt"), sum("m").as("s"))
      .orderBy("g").as[(Long, Long, Double)].collect().toSeq
    assert(agg.orderBy("g").as[(Long, Long, Double)].collect().toSeq === direct)
    // routed: the physical plan scans the MV, never the base's groups
    val plan = agg.queryExecution.executedPlan.toString
    assert(plan.contains("mv1"), plan.take(2000))
    assert(!plan.contains("mvbase"), plan.take(2000))
    // durable: a cold registry reloads from the persisted descriptor
    graft.plans.MvRegistry.clear()
    val plan2 = agg.queryExecution.executedPlan.toString
    assert(plan2.contains("mv1"), plan2.take(2000))
    // a time-traveled read must NOT route (the MV is current-state)
    val tt = spark.sql(s"SELECT g, count(*) AS cnt FROM $t VERSION AS OF 0 GROUP BY g")
    assert(!tt.queryExecution.executedPlan.toString.contains("mv1"))
    // drop: straight back to the base scan
    spark.sql("CALL graft_cat.system.drop_mv('dml.mvbase')")
    graft.plans.MvRegistry.clear()
    val plan3 = agg.queryExecution.executedPlan.toString
    assert(!plan3.contains("mv1"), plan3.take(2000))
    assert(agg.orderBy("g").as[(Long, Long, Double)].collect().toSeq === direct)
  }

  test("named tags pin snapshots: VERSION AS OF 'tag' through text SQL") {
    val t = freshTable("tags")
    val root = s"${GraftSession.catalogRoot}/dml/tags"
    spark.range(0, 100).selectExpr("id AS k").writeTo(t).create()
    val v0 = LakeTable.currentVersion(spark, root).get
    spark.sql(s"CALL graft_cat.system.tag('dml.tags', 'stable', $v0)")
    spark.range(100, 250).selectExpr("id AS k").writeTo(t).append()
    // the tag keeps resolving the pinned snapshot as the table moves
    assert(spark.table(t).count() === 250)
    assert(spark.sql(s"SELECT count(*) FROM $t VERSION AS OF 'stable'")
      .as[Long].head() === 100L)
    // numeric specs still resolve as raw versions
    assert(spark.sql(s"SELECT count(*) FROM $t VERSION AS OF $v0")
      .as[Long].head() === 100L)
    // re-pointing and dropping (the tag itself is the meta commit v0 + 1)
    spark.sql(s"CALL graft_cat.system.tag('dml.tags', 'stable', ${v0 + 2})")
    assert(spark.sql(s"SELECT count(*) FROM $t VERSION AS OF 'stable'")
      .as[Long].head() === 250L)
    spark.sql(s"CALL graft_cat.system.drop_tag('dml.tags', 'stable')")
    intercept[Exception] {
      spark.sql(s"SELECT count(*) FROM $t VERSION AS OF 'stable'").collect()
    }
    // a tag cannot point at a version that does not exist, nor be numeric
    intercept[Exception] {
      spark.sql(s"CALL graft_cat.system.tag('dml.tags', 'future', 999)")
    }
    intercept[Exception] {
      spark.sql(s"CALL graft_cat.system.tag('dml.tags', '42', $v0)")
    }
  }

  test("catalog views: stored SQL served as virtual tables across tenant sessions") {
    val t = freshTable("vbase")
    spark.sql("DROP TABLE IF EXISTS graft_cat.dml.v1")
    Seq((1L, 10.0), (2L, 20.0), (3L, 30.0)).toDF("k", "v").writeTo(t).create()
    val cols = spark.sql(
      s"CALL graft_cat.system.create_view('dml.v1', 'SELECT k, v * 2 AS v2 FROM $t WHERE k >= 2', false)")
      .as[String].head()
    assert(cols === "k,v2")
    assert(spark.table("graft_cat.dml.v1").orderBy("k")
      .as[(Long, Double)].collect().toSeq === Seq((2L, 40.0), (3L, 60.0)))
    // a view is a stored QUERY: base-table changes show through
    spark.sql(s"INSERT INTO $t VALUES (4, 40.0)")
    assert(spark.table("graft_cat.dml.v1").count() === 3)
    // listed with the tables (the Hive model); other tenants resolve it
    assert(spark.sql("SHOW TABLES IN graft_cat.dml")
      .select("tableName").as[String].collect().contains("v1"))
    assert(spark.newSession().table("graft_cat.dml.v1").count() === 3)
    // composable: SQL over the view, joins included
    assert(spark.sql(s"SELECT sum(v2) FROM graft_cat.dml.v1 WHERE k >= 3")
      .as[Double].head() === 60.0 + 80.0)
    // duplicate create rejects; replace=true redefines
    intercept[Exception] {
      spark.sql(s"CALL graft_cat.system.create_view('dml.v1', 'SELECT 1 AS one', false)")
    }
    spark.sql(s"CALL graft_cat.system.create_view('dml.v1', 'SELECT count(*) AS n FROM $t', true)")
    assert(spark.table("graft_cat.dml.v1").as[Long].head() === 4L)
    // broken SQL rejects at create
    intercept[Exception] {
      spark.sql("CALL graft_cat.system.create_view('dml.vbad', 'SELECT * FROM no_such', false)")
    }
    // DROP TABLE drops the view object, never touching the base table
    spark.sql("DROP TABLE graft_cat.dml.v1")
    intercept[Exception] { spark.table("graft_cat.dml.v1").count() }
    assert(spark.table(t).count() === 4)
    // a cycle closed by a REPLACE (validation can't see it) errors
    // with the nesting bound instead of recursing forever
    spark.sql(s"CALL graft_cat.system.create_view('dml.va', 'SELECT count(*) AS n FROM $t', true)")
    spark.sql("CALL graft_cat.system.create_view('dml.vb', 'SELECT n FROM graft_cat.dml.va', true)")
    spark.sql("CALL graft_cat.system.create_view('dml.va', 'SELECT n FROM graft_cat.dml.vb', true)")
    val e = intercept[Exception] { spark.table("graft_cat.dml.va").count() }
    def messages(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ messages(t.getCause)
    assert(messages(e).exists(_.contains("nesting")), e.toString.take(500))
    spark.sql("DROP TABLE graft_cat.dml.va")
    spark.sql("DROP TABLE graft_cat.dml.vb")
  }

  test("DV-mode tables route SQL DELETE/UPDATE through merge-on-read") {
    val t = freshTable("mordml")
    val root = s"${GraftSession.catalogRoot}/dml/mordml"
    spark.range(0, 500).selectExpr("id AS k", "cast(id AS DOUBLE) AS v").writeTo(t).create()
    val dv0 = spark.sql("CALL graft_cat.system.enable_dv('dml.mordml', true)")
      .as[Boolean].head()
    assert(dv0)
    val d0 = LakeTable.readCommit(spark, root,
      LakeTable.currentVersion(spark, root).get).dirs

    // SQL DELETE: merge-on-read — same dirs, vectors recorded
    spark.sql(s"DELETE FROM $t WHERE k < 100")
    val c1 = LakeTable.readCommit(spark, root,
      LakeTable.currentVersion(spark, root).get)
    assert(c1.dirs === d0, c1.dirs.toString)
    assert(c1.dvFiles.nonEmpty)
    assert(spark.table(t).count() === 400)

    // SQL UPDATE: vectors + one appended image group
    spark.sql(s"UPDATE $t SET v = v + 1000 WHERE k >= 400")
    val c2 = LakeTable.readCommit(spark, root,
      LakeTable.currentVersion(spark, root).get)
    assert(c2.dirs.take(d0.length) === d0 && c2.dirs.length === d0.length + 1, c2.dirs)
    assert(spark.table(t).count() === 400)
    assert(spark.table(t).where($"v" >= 1000.0).count() === 100)

    // SQL MERGE in DV mode: matched update + delete + insert — every
    // existing dir carried + ONE appended image/insert group
    val dBefore = LakeTable.readCommit(spark, root,
      LakeTable.currentVersion(spark, root).get).dirs
    Seq((150L, 7.0), (250L, -1.0), (9999L, 5.0)).toDF("k", "nv")
      .createOrReplaceTempView("mor_src")
    spark.sql(s"""
      MERGE INTO $t AS tgt USING mor_src AS s ON tgt.k = s.k
      WHEN MATCHED AND s.nv < 0 THEN DELETE
      WHEN MATCHED THEN UPDATE SET v = s.nv
      WHEN NOT MATCHED THEN INSERT (k, v) VALUES (s.k, s.nv)
    """)
    val cm = LakeTable.readCommit(spark, root,
      LakeTable.currentVersion(spark, root).get)
    assert(cm.action === "merge-mor")
    assert(cm.dirs.take(dBefore.length) === dBefore &&
      cm.dirs.length === dBefore.length + 1, cm.dirs)
    assert(cm.dvFiles.nonEmpty)
    assert(spark.table(t).count() === 400) // -1 delete (k=250) +1 insert
    assert(spark.table(t).where($"k" === 150).select("v").as[Double].head() === 7.0)
    assert(spark.table(t).where($"k" === 250).count() === 0)
    assert(spark.table(t).where($"k" === 9999).select("v").as[Double].head() === 5.0)
    assert(spark.table(t).groupBy("k").count().where($"count" =!= 1).count() === 0)

    // switch DV mode off: DML is copy-on-write again
    spark.sql("CALL graft_cat.system.enable_dv('dml.mordml', false)")
    spark.sql(s"DELETE FROM $t WHERE k = 200")
    val c3 = LakeTable.readCommit(spark, root,
      LakeTable.currentVersion(spark, root).get)
    assert(c3.dvFiles.isEmpty)
    assert(spark.table(t).count() === 399)
  }

  test("CHECK constraints: validated at ADD, enforced on native + API + DML writes, NULL passes") {
    val t = freshTable("chk")
    val root = s"${GraftSession.catalogRoot}/dml/chk"
    Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v").writeTo(t).create()

    // ADD validates existing data: a violated constraint is rejected
    val bad = intercept[Exception] {
      spark.sql("CALL graft_cat.system.add_check('dml.chk', 'v_small', 'v < 15')")
    }
    assert(bad.getMessage.contains("existing rows violate"), bad.getMessage)
    assert(LakeTable.meta(spark, root).checks.isEmpty)

    // a satisfiable one records and echoes back
    val checks = spark.sql(
      "CALL graft_cat.system.add_check('dml.chk', 'v_pos', 'v > 0')").as[String].head()
    assert(checks === "v_pos")

    // native DSv2 write: violating append fails, NO new version lands
    val preVer = LakeTable.currentVersion(spark, root).get
    val e1 = intercept[Exception] {
      Seq((3L, -1.0)).toDF("k", "v").writeTo(t).append()
    }
    assert(e1.getMessage.contains("v_pos") ||
      Option(e1.getCause).exists(_.getMessage.contains("v_pos")), e1.getMessage)
    assert(LakeTable.currentVersion(spark, root).get === preVer)
    assert(spark.table(t).count() === 2)

    // API-verb write (writeGroup guard): violating merge fails too
    val e2 = intercept[Exception] {
      LakeTable.merge(spark, root, Seq((9L, -5.0)).toDF("k", "v"), "k")
    }
    assert(e2.getMessage.contains("v_pos") ||
      Option(e2.getCause).exists(_.getMessage.contains("v_pos")), e2.toString)

    // SQL UPDATE driving a value out of range fails as well
    intercept[Exception] { spark.sql(s"UPDATE $t SET v = -v WHERE k = 1") }
    assert(spark.table(t).where($"v" < 0).count() === 0)

    // valid writes still flow on every path; NULL passes (SQL semantics)
    Seq((3L, 30.0)).toDF("k", "v").writeTo(t).append()
    spark.sql(s"INSERT INTO $t VALUES (4, NULL)")
    assert(spark.table(t).count() === 4)

    // drop_check lifts the guard
    spark.sql("CALL graft_cat.system.drop_check('dml.chk', 'v_pos')")
    Seq((5L, -50.0)).toDF("k", "v").writeTo(t).append()
    assert(spark.table(t).count() === 5)
  }
}
