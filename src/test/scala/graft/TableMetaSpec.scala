package graft

import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.LakeTable
import graft.sources.LakeTable.{ColumnNdv, RenameRec, TableMeta, WidenRec}

/** The table meta as one parsed value, published through the commit
  * log: format compatibility with bodies already on disk, names that
  * carry JSON syntax, rename-aware partition typing, stats write-backs
  * keyed by a column a DDL already renamed, the number of meta reads
  * each verb pays, tables laid out before meta objects (or before tags
  * and the CDC key joined them) existed, and tag and CDC changes racing
  * other writers.
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
    LakeTable.setTag(spark, p, "kept", 0L)
    LakeTable.setTag(spark, p, "gone", 1L)
    LakeTable.dropTag(spark, p, "gone")
    LakeTable.enableCdc(spark, p, "k")
    assert(LakeTable.currentVersion(spark, p).contains(7L))
    assert(LakeTable.history(spark, p).select("action").as[String].collect().toSeq ==
      Seq.fill(7)("meta") :+ "create")
    val src = LakeTable.meta(spark, p)
    assert(src.tags == Map("kept" -> 0L) && src.cdcKey.contains("k"))
    // clones start untagged, with the change feed off
    val deep = freshPath("onecommit_deep")
    LakeTable.deepClone(spark, p, deep)
    assert(LakeTable.currentVersion(spark, deep).contains(0L))
    val dm = LakeTable.meta(spark, deep)
    assert(dm.partitionBy == Seq("g") && dm.sortBy == Seq("k") && dm.checks == src.checks)
    assert(dm.ndv.keySet == src.ndv.keySet && dm.ndv.values.forall(_.asOf == 0L))
    assert(dm.tags.isEmpty && dm.cdcKey.isEmpty)
    val shallow = freshPath("onecommit_shallow")
    val base = LakeTable.shallowClone(spark, p, shallow)
    assert(LakeTable.currentVersion(spark, shallow).contains(base))
    assert(LakeTable.readCommit(spark, shallow, base).action == "clone")
    assert(LakeTable.meta(spark, shallow) == src.copy(tags = Map.empty, cdcKey = None))
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

  test("a tag name holding '\"' or ',' round-trips, and tags survive restore") {
    val p = freshPath("tagnames")
    LakeTable.create(spark, p, Seq((1L, "a")).toDF("k", "v"))
    LakeTable.append(spark, p, Seq((2L, "b")).toDF("k", "v"))
    val (quoted, listed) = ("rel \"1\"", "a,b=c")
    LakeTable.setTag(spark, p, quoted, 0L)
    LakeTable.setTag(spark, p, listed, 1L)
    assert(LakeTable.resolveVersion(spark, p, quoted, LakeTable.state(spark, p)) == 0L)
    assert(LakeTable.resolveVersion(spark, p, listed, LakeTable.state(spark, p)) == 1L)
    val m = LakeTable.meta(spark, p)
    assert(m.tags == Map(quoted -> 0L, listed -> 1L))
    assert(TableMeta.parse(TableMeta.render(m)) == m)
    LakeTable.enableCdc(spark, p, "k")
    LakeTable.restore(spark, p, 0L)
    val restored = LakeTable.meta(spark, p)
    assert(restored.tags == m.tags && restored.cdcKey.contains("k"))
  }

  test("version specs: empty, past Long.MaxValue and unknown tags fail naming table and spec") {
    val p = freshPath("specs")
    LakeTable.create(spark, p, Seq(1L).toDF("k"))
    val h = LakeTable.state(spark, p)
    assert(LakeTable.resolveVersion(spark, p, "0", h) == 0L)
    Seq("", "99999999999999999999", "nope").foreach { spec =>
      val e = intercept[IllegalArgumentException](LakeTable.resolveVersion(spark, p, spec, h))
      assert(e.getMessage.contains(s"'$spec'") && e.getMessage.contains(p), e.getMessage)
    }
  }

  test("a corrupt meta object fails properties() instead of listing only the provider") {
    val p = freshPath("props_corrupt")
    LakeTable.create(spark, p, Seq(1L).toDF("k"))
    LakeTable.setSortBy(spark, p, Seq("k"))
    val fresh = new graft.sources.GraftTable(freshPath("props_none"), None, None, None)
    assert(fresh.properties().keySet().toArray.toSeq == Seq("provider"))
    val meta = new org.apache.hadoop.fs.Path(s"$p/_graft_log",
      LakeTable.state(spark, p).commit.meta.get)
    val fs = meta.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(meta, true)
    try out.write("{\"partitionBy\":[".getBytes("UTF-8")) finally out.close() // torn tail
    val e = intercept[IllegalStateException] {
      new graft.sources.GraftTable(p, None, None, LakeTable.head(spark, p)).properties()
    }
    assert(e.getMessage.contains("corrupt table meta"), e.getMessage)
    // through the catalog: the load fails, neither a read nor a write
    // is served under a guessed schema or capability set
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.tmeta")
    spark.sql("DROP TABLE IF EXISTS graft_cat.tmeta.corrupt")
    spark.sql("CREATE TABLE graft_cat.tmeta.corrupt (k BIGINT, v BIGINT)")
    spark.sql("ALTER TABLE graft_cat.tmeta.corrupt ALTER COLUMN v SET DEFAULT 7")
    val cp = s"${GraftSession.catalogRoot}/tmeta/corrupt"
    val cmeta = new org.apache.hadoop.fs.Path(s"$cp/_graft_log",
      LakeTable.state(spark, cp).commit.meta.get)
    val cout = fs.create(cmeta, true)
    try cout.write("{\"partitionBy\":[".getBytes("UTF-8")) finally cout.close()
    def corrupt(stmt: String): Unit = {
      val t = intercept[Exception](spark.sql(stmt).collect())
      val msgs = Iterator.iterate[Throwable](t)(_.getCause).takeWhile(_ != null).map(_.getMessage)
      assert(msgs.exists(m => m != null && m.contains("corrupt table meta")), s"$stmt: $t")
    }
    corrupt("SELECT * FROM graft_cat.tmeta.corrupt")
    corrupt("INSERT INTO graft_cat.tmeta.corrupt (k) VALUES (1)")
    assert(fs.listStatus(new org.apache.hadoop.fs.Path(cp, "_graft_log"))
      .count(_.getPath.getName.matches("""v\d{5}\.json""")) == 2, "the INSERT committed")
  }

  test("every meta verb leaves only write-once commits and meta objects in _graft_log") {
    val p = freshPath("listing")
    LakeTable.create(spark, p, Seq((1L, "a", 10), (2L, "b", 20)).toDF("k", "g", "v"))
    val stats = Map("k" -> ColumnNdv(2L, -1L, -1.0, 0L))
    LakeTable.setSortBy(spark, p, Seq("k"))
    LakeTable.addCheck(spark, p, "pos", "v > 0")
    LakeTable.dropCheck(spark, p, "pos")
    LakeTable.setDvMode(spark, p, true)
    LakeTable.analyze(spark, p)
    LakeTable.recordNdv(spark, p, stats)
    LakeTable.dropNdv(spark, p, "k")
    LakeTable.recordPartitionNdv(spark, p, "g=a", stats)
    LakeTable.dropPartitionNdv(spark, p, "g=a", null)
    LakeTable.setPartitioning(spark, p, Seq("g"))
    LakeTable.renameColumn(spark, p, "v", "w")
    LakeTable.widenColumn(spark, p, "w", org.apache.spark.sql.types.LongType)
    LakeTable.dropColumn(spark, p, "w")
    LakeTable.updateSchemaMeta(spark, p, LakeTable.tableSchema(spark, p).add("x", "string"))
    LakeTable.setTag(spark, p, "t", 0L)
    LakeTable.dropTag(spark, p, "t")
    LakeTable.enableCdc(spark, p, "k")
    LakeTable.append(spark, p, Seq((3L, "c")).toDF("k", "g"))
    assert(LakeTable.currentVersion(spark, p).contains(18L))
    val log = new org.apache.hadoop.fs.Path(s"$p/_graft_log")
    val names = log.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(log).map(_.getPath.getName).toSeq
    val writeOnce = """(v\d{5}\.json|meta-\d{5}-[0-9a-f]{8}\.json|_checkpoint\.json)""".r
    val transient = """\.claim-v\d{5}|\.tmp-v\d+-[0-9a-f]{8}\.json""".r
    val stray = names.filter {
      case writeOnce(_) | transient() => false
      case crc if crc.startsWith(".") && crc.endsWith(".crc") =>
        !writeOnce.matches(crc.stripPrefix(".").stripSuffix(".crc"))
      case _ => true
    }
    assert(stray.isEmpty, s"overwritable or unknown files under _graft_log: $stray")
    assert(names.count(_.startsWith("meta-")) == 17, names)
  }

  test("a legacy _tags.json/_cdc.json layout reads and migrates on its first commit") {
    val p = freshPath("legacy_side")
    Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.parquet(s"$p/d0-0000beef")
    def put(name: String, body: String): Unit = {
      val f = new org.apache.hadoop.fs.Path(s"$p/_graft_log", name)
      val out = f.getFileSystem(spark.sparkContext.hadoopConfiguration).create(f, true)
      try out.write(body.getBytes("UTF-8")) finally out.close()
    }
    // an earlier writer's empty meta, tags and CDC key in side files
    put("v00000.json", """{"version":0,"action":"create","dirs":["d0-0000beef"],""" +
      """"meta":"","ts":1700000000000}""")
    put("_tags.json", """{"first":0}""")
    put("_cdc.json", """{"key":"k"}""")
    val m0 = LakeTable.meta(spark, p)
    assert(m0.tags == Map("first" -> 0L) && m0.cdcKey.contains("k"), m0)
    // an earlier writer's meta object (no `tags` key) folds them in too
    put("meta-00001-0000cafe.json", """{"partitionBy":[],"sortBy":["k"],"metaVer":1}""")
    put("v00001.json", """{"version":1,"action":"meta","dirs":["d0-0000beef"],""" +
      """"meta":"meta-00001-0000cafe.json","ts":1700000000001}""")
    val legacy = LakeTable.meta(spark, p)
    assert(legacy == TableMeta(ver = 1L, sortBy = Seq("k"), tags = Map("first" -> 0L),
      cdcKey = Some("k")), legacy)
    assert(LakeTable.resolveVersion(spark, p, "first", LakeTable.state(spark, p)) == 0L)
    val props = new graft.sources.GraftTable(p, None, None, LakeTable.head(spark, p)).properties()
    assert(props.get("tags") == "first=0" && props.get("cdc.key") == "k", props)
    // the first commit carries the folded meta in a fresh object, and
    // its change records follow the legacy CDC key
    LakeTable.append(spark, p, Seq((3L, "c")).toDF("k", "v"))
    val head = LakeTable.readCommit(spark, p, 2L)
    assert(head.meta.exists(n => n.startsWith("meta-00002-")), head)
    assert(head.cdcDir.exists(_.startsWith("@")), head)
    assert(LakeTable.meta(spark, p) == legacy)
    // the side files no longer count: vacuum reclaims them
    LakeTable.vacuum(spark, p, 2L)
    Seq("_tags.json", "_cdc.json").foreach { n =>
      val f = new org.apache.hadoop.fs.Path(s"$p/_graft_log/$n")
      assert(!f.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(f), n)
    }
    assert(LakeTable.meta(spark, p) == legacy)
    assert(LakeTable.readChangeFeed(spark, p, 1L).select("k").as[Long].collect().toSeq ==
      Seq(3L))
  }

  test("two racing setTag calls keep both tags") {
    val p = s"${GateFs.root}/tmeta_tag_race"
    LakeTable.create(spark, p, Seq(1L).toDF("k"))
    LakeTable.append(spark, p, Seq(2L).toDF("k"))
    val first = GateFs.holding(LakeTable.setTag(spark, p, "first", 0L))
    LakeTable.setTag(spark, p, "second", 1L) // lands while the first is held
    GateFs.finish(first)
    assert(LakeTable.resolveVersion(spark, p, "first", LakeTable.state(spark, p)) == 0L)
    assert(LakeTable.resolveVersion(spark, p, "second", LakeTable.state(spark, p)) == 1L)
  }

  test("an enableCdc racing a merge never leaves a data commit without change records") {
    val p = s"${GateFs.root}/tmeta_cdc_race"
    LakeTable.create(spark, p, Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    // the merge is held after its data write, before its commit
    val merged = GateFs.holding(
      LakeTable.merge(spark, p, Seq((2L, "B"), (3L, "c")).toDF("k", "v"), "k"))
    LakeTable.enableCdc(spark, p, "k")
    scala.util.Try(GateFs.finish(merged)).foreach { v =>
      assert(LakeTable.readCommit(spark, p, v).cdcDir.isDefined,
        s"merge v$v published after enableCdc returned, without change records")
    }
    // re-run against the new state: the merge now records its changes
    val v = LakeTable.merge(spark, p, Seq((2L, "B"), (3L, "c")).toDF("k", "v"), "k")
    assert(LakeTable.readCommit(spark, p, v).cdcDir.isDefined)
    assert(LakeTable.read(spark, p).as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "B"), (3L, "c")))
  }
}

/** Local storage (scheme `graftgate`) whose first file create under a
  * `_graft_log` dir after [[GateFs.holding]] parks the creating thread
  * until [[GateFs.finish]]: a writer held between the state it
  * resolved and its commit, while the test runs a racer.
  */
class GateFs extends NoReplaceFs {
  override def getScheme: String = "graftgate"

  override def getUri: java.net.URI = java.net.URI.create("graftgate:///")

  private def gate(f: org.apache.hadoop.fs.Path): Unit =
    if (f.getParent.getName == "_graft_log" && GateFs.armed.compareAndSet(true, false)) {
      GateFs.held.countDown()
      GateFs.release.await(120, java.util.concurrent.TimeUnit.SECONDS)
    }

  // both create overloads RawLocalFileSystem implements
  override def create(f: org.apache.hadoop.fs.Path,
      permission: org.apache.hadoop.fs.permission.FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
    gate(f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(f: org.apache.hadoop.fs.Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
    gate(f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object GateFs {
  import java.util.concurrent.{CountDownLatch, TimeUnit}
  import scala.concurrent.{Await, ExecutionContext, Future}

  val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
  @volatile var held = new CountDownLatch(1)
  @volatile var release = new CountDownLatch(1)

  lazy val root: String = {
    SharedSpark.spark.sparkContext.hadoopConfiguration
      .set("fs.graftgate.impl", classOf[GateFs].getName)
    s"graftgate://${operators.Lakehouse.scratch}/gatefs"
  }

  /** Run `body` on another thread until its first log-file create. */
  def holding[T](body: => T): Future[T] = {
    held = new CountDownLatch(1)
    release = new CountDownLatch(1)
    armed.set(true)
    val f = Future(body)(ExecutionContext.global)
    if (!held.await(120, TimeUnit.SECONDS)) sys.error("the held writer never reached its commit")
    f
  }

  def finish[T](f: Future[T]): T = {
    release.countDown()
    Await.result(f, scala.concurrent.duration.Duration(120, "s"))
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
