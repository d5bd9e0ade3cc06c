package graft

import org.scalatest.funsuite.AnyFunSuite

/** Metadata-integrity regressions: vacuum must fail loudly (never
  * delete) when a RETAINED commit can't be read for any reason other
  * than a genuinely missing file; the schema cache must not serve a
  * dropped generation after re-create at the same path; multi-clause
  * ALTER follows chained renames through the partition spec; a meta
  * change fails when another published after the state it read; and
  * meta changes publish through the commit log's version claim.
  */
class MetaIntegritySpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._

  private def freshPath(name: String): String = {
    val p = s"${operators.Lakehouse.scratch}/meta_$name"
    val hp = new org.apache.hadoop.fs.Path(p)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(hp)) fs.delete(hp, true)
    p
  }

  private def fsOf(p: String) =
    new org.apache.hadoop.fs.Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def logFile(path: String, name: String) =
    new org.apache.hadoop.fs.Path(new org.apache.hadoop.fs.Path(path, "_graft_log"), name)

  private def overwrite(p: org.apache.hadoop.fs.Path, body: String): Unit = {
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(body.getBytes("UTF-8")) finally out.close()
  }

  private def slurp(p: org.apache.hadoop.fs.Path): String = {
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  test("vacuum aborts on an unreadable retained commit instead of deleting its data") {
    val p = freshPath("vac_corrupt")
    sources.LakeTable.create(spark, p, Seq((1L, "a")).toDF("k", "s"))
    sources.LakeTable.append(spark, p, Seq((2L, "b")).toDF("k", "s"))
    sources.LakeTable.append(spark, p, Seq((3L, "c")).toDF("k", "s"))
    val v1 = logFile(p, "v00001.json")
    val saved = slurp(v1)
    overwrite(v1, "{ definitely not a commit }")
    // A corrupt body inside the retention window must ABORT the vacuum
    // — treating it as "references nothing" would drop v1's dirs from
    // the keep-set and delete live data.
    intercept[Exception] { sources.LakeTable.vacuum(spark, p, 0L) }
    assert(sources.LakeTable.read(spark, p).count() == 3,
      "no data may be deleted when a retained commit is unreadable")
    overwrite(v1, saved)
    sources.LakeTable.vacuum(spark, p, 0L)
    assert(sources.LakeTable.read(spark, p).count() == 3)
  }

  test("vacuum still tolerates a genuinely missing commit file (clone base / pre-vacuumed)") {
    val p = freshPath("vac_missing")
    sources.LakeTable.create(spark, p, Seq((1L, "a")).toDF("k", "s"))
    sources.LakeTable.append(spark, p, Seq((2L, "b")).toDF("k", "s"))
    sources.LakeTable.append(spark, p, Seq((3L, "c")).toDF("k", "s"))
    fsOf(p).delete(logFile(p, "v00001.json"), false)
    sources.LakeTable.vacuum(spark, p, 0L)
    // the head commit references every appended dir, so all rows live
    assert(sources.LakeTable.read(spark, p).count() == 3)
  }

  test("re-create at the same path serves the NEW schema (cache generation)") {
    val p = freshPath("recreate")
    sources.LakeTable.create(spark, p, Seq((1L, 10L)).toDF("k", "a"))
    // warm the (path, v0, metaVer) cache entry
    assert(sources.LakeTable.tableSchema(spark, p).fieldNames.toSeq == Seq("k", "a"))
    // replace-create: same path, data version restarts at 0, same
    // metaVer — the old cache key would collide
    sources.LakeTable.create(spark, p, Seq((1L, "x", true)).toDF("k", "b", "c"))
    assert(sources.LakeTable.tableSchema(spark, p).fieldNames.toSeq == Seq("k", "b", "c"),
      "tableSchema must not serve the dropped generation's schema")
    assert(sources.LakeTable.read(spark, p).columns.toSeq == Seq("k", "b", "c"))
  }

  test("re-create of a PARTITIONED table purges the file-schema cache too") {
    // The partitioned single-scan read once cached its footer-merged
    // file schema under a path-prefixed key that a re-create had to
    // purge. Group footer schemas are now keyed by group root, which a
    // new generation never reuses; the re-create must still read the
    // new generation's schema.
    val p = freshPath("recreate_part")
    sources.LakeTable.create(spark, p,
      Seq((1L, 10L, "p1"), (2L, 20L, "p2")).toDF("k", "a", "pt"), Seq("pt"))
    // warm the schema caches via the single-scan read
    assert(sources.LakeTable.read(spark, p).columns.sorted.toSeq == Seq("a", "k", "pt"))
    sources.LakeTable.create(spark, p,
      Seq((1L, "x", "p1")).toDF("k", "b", "pt"), Seq("pt"))
    assert(sources.LakeTable.read(spark, p).columns.sorted.toSeq == Seq("b", "k", "pt"),
      "a partitioned re-create must not serve the dropped generation's file schema")
    assert(sources.LakeTable.tableSchema(spark, p).fieldNames.toSeq.sorted
      == Seq("b", "k", "pt"))
  }

  test("catalog DROP TABLE + CREATE TABLE at the same location serves the new schema") {
    val cat = "meta_cat"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root",
      s"${operators.Lakehouse.scratch}/meta_cat_wh")
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    spark.sql(s"DROP TABLE IF EXISTS $cat.db.rc")
    spark.sql(s"CREATE TABLE $cat.db.rc (k BIGINT, a BIGINT) USING graft")
    spark.sql(s"INSERT INTO $cat.db.rc VALUES (1, 10)")
    assert(spark.sql(s"SELECT * FROM $cat.db.rc").columns.toSeq == Seq("k", "a"))
    spark.sql(s"DROP TABLE $cat.db.rc")
    spark.sql(s"CREATE TABLE $cat.db.rc (k BIGINT, b STRING, c BOOLEAN) USING graft")
    spark.sql(s"INSERT INTO $cat.db.rc VALUES (2, 'x', true)")
    assert(spark.sql(s"SELECT * FROM $cat.db.rc").columns.toSeq == Seq("k", "b", "c"))
  }

  test("three chained renames of a partition column in ONE statement keep the spec coherent") {
    import org.apache.spark.sql.connector.catalog.{Identifier, TableCatalog, TableChange}
    val cat = "chain_cat"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root",
      s"${operators.Lakehouse.scratch}/chain_wh")
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    spark.sql(s"DROP TABLE IF EXISTS $cat.db.ch")
    spark.sql(s"CREATE TABLE $cat.db.ch (k BIGINT, a STRING) USING graft PARTITIONED BY (a)")
    spark.sql(s"INSERT INTO $cat.db.ch VALUES (1, 'p1'), (2, 'p2')")
    val tc = spark.sessionState.catalogManager.catalog(cat).asInstanceOf[TableCatalog]
    // a→b→c→d in one statement: the published partition spec must be
    // the FOLD's result (d), never a mis-followed intermediate name
    tc.alterTable(Identifier.of(Array("db"), "ch"),
      TableChange.renameColumn(Array("a"), "b"),
      TableChange.renameColumn(Array("b"), "c"),
      TableChange.renameColumn(Array("c"), "d"))
    val loc = s"${operators.Lakehouse.scratch}/chain_wh/db/ch"
    assert(sources.LakeTable.meta(spark, loc).partitionBy == Seq("d"),
      "partition spec must carry the final chained name")
    spark.sql(s"INSERT INTO $cat.db.ch VALUES (3, 'p3')")
    assert(spark.sql(s"SELECT k, d FROM $cat.db.ch WHERE d = 'p3'").count() == 1)
    assert(spark.sql(s"SELECT k FROM $cat.db.ch").count() == 3)
  }

  test("a DDL publishing inside the statement's read window fails the CAS (no lost update)") {
    val p = freshPath("cas_window")
    sources.LakeTable.create(spark, p, Seq((1L, 10L)).toDF("k", "a"))
    // the statement resolves its state, then a concurrent DDL publishes
    val base = sources.LakeTable.state(spark, p)
    sources.LakeTable.setSortBy(spark, p, Seq("k"))
    intercept[sources.LakeTable.ConcurrentWriteException] {
      sources.LakeTable.alterColumnsAtomic(spark, p,
        Seq(sources.LakeTable.RenameRec("a", "a2", 0L)),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("a2", org.apache.spark.sql.types.LongType))),
        Nil, Seq("k"), base)
    }
    // the concurrent DDL's state survives untouched
    assert(sources.LakeTable.meta(spark, p).sortBy == Seq("k"))
    assert(sources.LakeTable.read(spark, p).columns.toSeq == Seq("k", "a"))
  }

  test("ANALYZE vs column rename: the meta CAS arbitrates, no stats/DDL lost") {
    val p = freshPath("anrace")
    sources.LakeTable.create(spark, p, Seq((1L, 10L), (2L, 20L)).toDF("k", "amount"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      for (i <- 1 to 4) {
        // re-resolve the current spelling before each round
        val cur = sources.LakeTable.tableSchema(spark, p).fieldNames
          .find(_.startsWith("amount")).get
        val start = new java.util.concurrent.CountDownLatch(1)
        val analyzeF = pool.submit(new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean = {
            start.await()
            try { sources.LakeTable.analyze(spark, p); true }
            catch { case _: sources.LakeTable.ConcurrentWriteException => false }
          }
        })
        val renameF = pool.submit(new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean = {
            start.await()
            try { sources.LakeTable.renameColumn(spark, p, cur, s"amount${i + 1}x"); true }
            catch { case _: sources.LakeTable.ConcurrentWriteException => false }
          }
        })
        start.countDown()
        val (aOk, rOk) = (analyzeF.get(), renameF.get())
        assert(aOk || rOk, s"round $i: both losers")
        // Whatever landed is coherent: the schema has exactly one
        // amount-column, and any stored stats entry is keyed by a
        // CURRENT column name (a rename that lost to analyze left the
        // old name; one that won carried/kept the entries consistent).
        val names = sources.LakeTable.tableSchema(spark, p).fieldNames.toSet
        assert(names.count(_.startsWith("amount")) == 1, names)
        val ndvKeys = sources.LakeTable.meta(spark, p).ndv.keySet
        assert(ndvKeys.subsetOf(names), s"round $i: stale stats keys " +
          s"${ndvKeys -- names} not in schema $names")
      }
    } finally pool.shutdown()
  }

  test("HMS stats write-back vs column rename: the meta CAS arbitrates") {
    // Same shape as the ANALYZE race: recordNdv (the HMS facade's
    // update_table_column_statistics leg) captures its token BEFORE
    // reading the merge base, so a rename publishing mid-verb fails
    // the write-back rather than resurrecting pre-rename stat keys.
    val p = freshPath("wbrace")
    sources.LakeTable.create(spark, p, Seq((1L, 10L), (2L, 20L)).toDF("k", "amount"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      for (i <- 1 to 4) {
        val cur = sources.LakeTable.tableSchema(spark, p).fieldNames
          .find(_.startsWith("amount")).get
        val start = new java.util.concurrent.CountDownLatch(1)
        val writeF = pool.submit(new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean = {
            start.await()
            try {
              sources.LakeTable.recordNdv(spark, p,
                Map(cur -> sources.LakeTable.ColumnNdv(2L + i, -1L, -1.0, 0L)))
              true
            } catch { case _: sources.LakeTable.ConcurrentWriteException => false }
          }
        })
        val renameF = pool.submit(new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean = {
            start.await()
            try { sources.LakeTable.renameColumn(spark, p, cur, s"amount${i + 1}w"); true }
            catch { case _: sources.LakeTable.ConcurrentWriteException => false }
          }
        })
        start.countDown()
        val (wOk, rOk) = (writeF.get(), renameF.get())
        assert(wOk || rOk, s"round $i: both losers")
        val names = sources.LakeTable.tableSchema(spark, p).fieldNames.toSet
        assert(names.count(_.startsWith("amount")) == 1, names)
        val ndvKeys = sources.LakeTable.meta(spark, p).ndv.keySet
        assert(ndvKeys.subsetOf(names), s"round $i: stale stats keys " +
          s"${ndvKeys -- names} not in schema $names")
      }
    } finally pool.shutdown()
  }

  test("partition stats follow rename/drop and null-colName drops all") {
    val p = freshPath("pndvddl")
    sources.LakeTable.create(spark, p, Seq((1L, 10L, 2L)).toDF("k", "amount", "extra"))
    sources.LakeTable.recordPartitionNdv(spark, p, "p=a",
      Map("amount" -> sources.LakeTable.ColumnNdv(7L, -1L, -1.0, 0L),
        "extra" -> sources.LakeTable.ColumnNdv(3L, -1L, -1.0, 0L)))
    // a SEQUENTIAL rename (no CAS conflict) must carry the record to
    // the new name — stale keys would be resurrected by a re-ADD
    sources.LakeTable.renameColumn(spark, p, "amount", "amount2")
    val afterRename = sources.LakeTable.meta(spark, p).pndv("p=a")
    assert(afterRename.get("amount2").exists(_.ndv == 7L), afterRename)
    assert(!afterRename.contains("amount"), afterRename)
    // a column drop sheds its partition records
    sources.LakeTable.dropColumn(spark, p, "amount2")
    val afterDrop = sources.LakeTable.meta(spark, p).pndv("p=a")
    assert(afterDrop.keySet == Set("extra"), afterDrop)
    // the Hive wire's null colName = drop every record for the partition
    sources.LakeTable.dropPartitionNdv(spark, p, "p=a", null)
    assert(!sources.LakeTable.meta(spark, p).pndv.contains("p=a"))
  }

  test("partition stats write-back vs column rename: the meta CAS arbitrates") {
    // recordPartitionNdv (the HMS facade's
    // update_partition_column_statistics leg) follows the same
    // token-before-read contract as recordNdv: a rename publishing
    // mid-verb fails the write-back rather than resurrecting
    // pre-rename stat keys under the partition.
    val p = freshPath("pwbrace")
    sources.LakeTable.create(spark, p, Seq((1L, 10L), (2L, 20L)).toDF("k", "amount"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      for (i <- 1 to 4) {
        val cur = sources.LakeTable.tableSchema(spark, p).fieldNames
          .find(_.startsWith("amount")).get
        val start = new java.util.concurrent.CountDownLatch(1)
        val writeF = pool.submit(new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean = {
            start.await()
            try {
              sources.LakeTable.recordPartitionNdv(spark, p, "p=a",
                Map(cur -> sources.LakeTable.ColumnNdv(2L + i, -1L, -1.0, 0L)))
              true
            } catch { case _: sources.LakeTable.ConcurrentWriteException => false }
          }
        })
        val renameF = pool.submit(new java.util.concurrent.Callable[Boolean] {
          def call(): Boolean = {
            start.await()
            try { sources.LakeTable.renameColumn(spark, p, cur, s"amount${i + 1}p"); true }
            catch { case _: sources.LakeTable.ConcurrentWriteException => false }
          }
        })
        start.countDown()
        val (wOk, rOk) = (writeF.get(), renameF.get())
        assert(wOk || rOk, s"round $i: both losers")
        val names = sources.LakeTable.tableSchema(spark, p).fieldNames.toSet
        assert(names.count(_.startsWith("amount")) == 1, names)
        val keys = sources.LakeTable.meta(spark, p).pndv
          .getOrElse("p=a", Map.empty).keySet
        assert(keys.subsetOf(names), s"round $i: stale partition stats keys " +
          s"${keys -- names} not in schema $names")
      }
    } finally pool.shutdown()
  }

  test("racing DDLs advance the head by exactly the number that reported success") {
    // Meta changes publish as commits under the log's version claim:
    // two DDLs racing from one head both claim head+1, one wins, and
    // the loser must not publish over it. The invariant: the head
    // advances by exactly the number of DDLs that REPORTED success,
    // and the meta holds the winner's change.
    val p = freshPath("ddl_race")
    sources.LakeTable.create(spark, p, Seq((1L, 10L)).toDF("k", "a"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      for (i <- 1 to 10) {
        val before = sources.LakeTable.currentVersion(spark, p).get
        val start = new java.util.concurrent.CountDownLatch(1)
        val futs = Seq(Seq("k"), Seq("a")).map { c =>
          pool.submit(new java.util.concurrent.Callable[Option[Seq[String]]] {
            def call(): Option[Seq[String]] = {
              start.await()
              try { sources.LakeTable.setSortBy(spark, p, c); Some(c) }
              catch { case _: sources.LakeTable.ConcurrentWriteException => None }
            }
          })
        }
        start.countDown()
        val won = futs.flatMap(_.get())
        val after = sources.LakeTable.currentVersion(spark, p).get
        assert(won.nonEmpty, s"iteration $i: both DDLs lost")
        assert(after == before + won.size,
          s"iteration $i: ${won.size} DDLs reported success but the head moved " +
          s"${after - before} — a publish was silently overwritten")
        assert(won.contains(sources.LakeTable.meta(spark, p).sortBy),
          s"iteration $i: the published sort order is no winner's")
      }
    } finally pool.shutdown()
  }

  test("a planted claim on the next version rejects a DDL until it is removed") {
    val p = freshPath("claim")
    sources.LakeTable.create(spark, p, Seq((1L, 10L)).toDF("k", "a"))
    // simulate a writer that crashed between claiming v1 and publishing
    val claim = logFile(p, ".claim-v00001")
    overwrite(claim, "")
    intercept[sources.LakeTable.ConcurrentWriteException] {
      sources.LakeTable.setSortBy(spark, p, Seq("k"))
    }
    assert(sources.LakeTable.currentVersion(spark, p).contains(0L))
    assert(sources.LakeTable.meta(spark, p).sortBy.isEmpty)
    // clearing the orphan (the operator's step) lets the DDL through
    fsOf(p).delete(claim, false)
    sources.LakeTable.setSortBy(spark, p, Seq("k"))
    assert(sources.LakeTable.meta(spark, p).sortBy == Seq("k"))
    assert(sources.LakeTable.currentVersion(spark, p).contains(1L))
  }

  test("a narrower-typed INSERT up-casts to the table's column type (catalog SQL + API)") {
    import org.apache.spark.sql.functions.col
    // catalog SQL: INT literal into a BIGINT column — the exact shape
    // an ACCEPT_ANY_SCHEMA table used to store as INT, poisoning every
    // later mergeSchema read
    val cat = "widen_cat"
    spark.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
    spark.conf.set(s"spark.sql.catalog.$cat.root",
      s"${operators.Lakehouse.scratch}/widen_wh")
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $cat.db")
    spark.sql(s"DROP TABLE IF EXISTS $cat.db.w")
    spark.sql(s"CREATE TABLE $cat.db.w AS SELECT id, id % 3 AS g FROM range(10)")
    spark.sql(s"INSERT INTO $cat.db.w SELECT id, 9 AS g FROM range(10, 15)")
    val out = spark.sql(s"SELECT g, count(*) AS c FROM $cat.db.w GROUP BY g")
    assert(out.schema("g").dataType == org.apache.spark.sql.types.LongType)
    assert(out.collect().map(_.getLong(1)).sum == 15)
    // API append with a narrower frame
    val p = freshPath("widen_api")
    sources.LakeTable.create(spark, p, Seq((1L, 10L)).toDF("k", "v"))
    sources.LakeTable.append(spark, p,
      Seq((2, 20)).toDF("k", "v")) // both columns INT
    val r = sources.LakeTable.read(spark, p)
    assert(r.schema("k").dataType == org.apache.spark.sql.types.LongType)
    assert(r.as[(Long, Long)].collect().toSet == Set((1L, 10L), (2L, 20L)))
  }

  test("a legacy type-skewed table (INT group beside BIGINT) stays readable via coercion") {
    import org.apache.spark.sql.functions.col
    val p = freshPath("skew_legacy")
    sources.LakeTable.create(spark, p, Seq((1L, 10L)).toDF("k", "v"))
    // simulate a pre-normalization writer: an INT-typed group on disk
    // referenced by a hand-written commit
    val dir = "d1-legacy00"
    spark.range(2, 4).select(col("id").cast("int").as("k"),
      (col("id") * 10).cast("int").as("v"))
      .write.parquet(s"$p/$dir")
    val c0 = sources.LakeTable.readCommit(spark, p, 0L)
    sources.LakeTable.writeCommit(spark, p,
      sources.LakeTable.Commit(1L, "append", c0.dirs :+ dir))
    val r = sources.LakeTable.read(spark, p)
    assert(r.schema("k").dataType == org.apache.spark.sql.types.LongType,
      "union fallback must coerce the narrow group up")
    assert(r.as[(Long, Long)].collect().toSet ==
      Set((1L, 10L), (2L, 20L), (3L, 30L)))
  }
}
