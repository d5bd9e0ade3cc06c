package graft

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Hive Metastore Thrift facade (SURVEY §7.5.1 made real): the stock
  * HMS Thrift server runs over graft's own catalog registry
  * (GraftRawStore), and a REAL HiveMetaStoreClient — the library every
  * external engine's `hive.metastore.uris = thrift://…` integration
  * speaks — resolves graft namespaces, tables, schemas, partitions and
  * views over the wire; wire-side DDL lands in the shared registry and
  * is immediately visible to the engine's own catalog.
  */
class HmsFacadeSpec extends AnyFunSuite {
  import SharedSpark.spark

  private val port = 14998

  test("HiveMetaStoreClient resolves graft catalog state over Thrift; wire DDL round-trips") {
    val url = "jdbc:derby:memory:hmsmeta;create=true"
    val root = s"${operators.Lakehouse.scratch}/hms_wh"
    spark.conf.set("spark.sql.catalog.hms_cat", "graft.sources.GraftCatalog")
    spark.conf.set("spark.sql.catalog.hms_cat.root", root)
    spark.conf.set("spark.sql.catalog.hms_cat.store", "jdbc")
    spark.conf.set("spark.sql.catalog.hms_cat.jdbc.url", url)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS hms_cat.db")
    spark.sql("DROP TABLE IF EXISTS hms_cat.db.sales")
    spark.sql("CREATE TABLE hms_cat.db.sales (k BIGINT, amount DOUBLE, region STRING) " +
      "USING graft PARTITIONED BY (region)")
    spark.sql("INSERT INTO hms_cat.db.sales VALUES (1, 10.0, 'eu'), (2, 20.0, 'us')")
    spark.sql("CALL hms_cat.system.create_view('db.sales_eu', " +
      "'SELECT k, amount FROM hms_cat.db.sales WHERE region = ''eu''', true)")

    graft.sources.GraftHmsFacade.start(spark, port, root, jdbcUrl = Some(url))

    val conf = new org.apache.hadoop.hive.conf.HiveConf()
    conf.set("hive.metastore.uris", s"thrift://localhost:$port")
    val client = new org.apache.hadoop.hive.metastore.HiveMetaStoreClient(conf)
    try {
      // Catalog browse: namespaces and tables the engine created.
      assert(client.getAllDatabases.asScala.contains("db"))
      assert(client.getAllTables("db").asScala.toSet.contains("sales"))

      // Table resolution: real location, columns, partition keys, and
      // the datasource-provider marker external engines route on.
      val t = client.getTable("db", "sales")
      assert(t.getParameters.get("spark.sql.sources.provider") == "graft")
      assert(t.getTableType == "EXTERNAL_TABLE")
      assert(t.getPartitionKeys.asScala.map(_.getName) == Seq("region"))
      val cols = t.getSd.getCols.asScala.map(f => f.getName -> f.getType).toMap
      assert(cols == Map("k" -> "bigint", "amount" -> "double"))
      val loc = t.getSd.getLocation
      assert(graft.sources.LakeTable.currentVersion(spark, loc).isDefined,
        s"location $loc must be the live LakeTable")

      // Column statistics for external optimizers: exact low/high and
      // exact null counts from the stats sidecars; NDV is the sound
      // upper bound min(non-null rows, range width) — never a
      // fabricated zero an HMS CBO would treat as exact.
      val stats = client.getTableColumnStatistics("db", "sales",
        Seq("k", "amount").asJava).asScala.map(o => o.getColName -> o.getStatsData).toMap
      assert(stats("k").getLongStats.getLowValue == 1L &&
        stats("k").getLongStats.getHighValue == 2L, stats)
      assert(stats("k").getLongStats.getNumNulls == 0L &&
        stats("k").getLongStats.getNumDVs == 2L, stats)
      assert(stats("amount").getDoubleStats.getLowValue == 10.0 &&
        stats("amount").getDoubleStats.getHighValue == 20.0, stats)
      assert(stats("amount").getDoubleStats.getNumNulls == 0L &&
        stats("amount").getDoubleStats.getNumDVs == 2L, stats)

      // Partition enumeration from the current snapshot.
      val parts = client.listPartitionNames("db", "sales", -1).asScala.toSet
      assert(parts == Set("region=eu", "region=us"), parts)
      val p = client.getPartition("db", "sales", Seq("eu").asJava)
      assert(p.getValues.asScala == Seq("eu"))

      // Views carry their SQL text.
      val v = client.getTable("db", "sales_eu")
      assert(v.getTableType == "VIRTUAL_VIEW")
      assert(v.getViewOriginalText.toLowerCase.contains("region = 'eu'"))

      // Wire-side DDL: a database created over Thrift is visible to
      // the engine's catalog...
      client.createDatabase(
        new org.apache.hadoop.hive.metastore.api.Database(
          "wiredb", "created over thrift", null, null))
      assert(spark.sql("SHOW NAMESPACES IN hms_cat").collect()
        .map(_.getString(0)).contains("wiredb"))

      // ...and an external graft table registered over Thrift (second
      // name for the same location) reads through the engine.
      val reg = new org.apache.hadoop.hive.metastore.api.Table(t)
      reg.setDbName("wiredb")
      reg.setTableName("sales_alias")
      client.createTable(reg)
      val back = spark.sql("SELECT count(*) FROM hms_cat.wiredb.sales_alias").collect()
      assert(back(0).getLong(0) == 2L)

      // drop over the wire removes the NAME, never the data
      client.dropTable("wiredb", "sales_alias", false, false)
      assert(!client.getAllTables("wiredb").asScala.contains("sales_alias"))
      assert(spark.sql("SELECT count(*) FROM hms_cat.db.sales").collect()(0).getLong(0) == 2L)
    } finally client.close()
  }

  test("served stats: exact nulls, huge-bigint bounds, NDV is a sound positive bound") {
    val url = "jdbc:derby:memory:hmsmeta;create=true"
    val root = s"${operators.Lakehouse.scratch}/hms_wh"
    graft.sources.GraftHmsFacade.start(spark, port, root, jdbcUrl = Some(url))
    spark.sql("DROP TABLE IF EXISTS hms_cat.db.stats_t")
    // 2^53+1 and 2^53+3 are NOT double-representable: a double
    // round-trip anywhere in the stats path would corrupt the bounds
    spark.sql("CREATE TABLE hms_cat.db.stats_t (k BIGINT, v BIGINT) USING graft")
    spark.sql("INSERT INTO hms_cat.db.stats_t VALUES " +
      "(1, 9007199254740993), (2, NULL), (3, 9007199254740995)")
    val conf = new org.apache.hadoop.hive.conf.HiveConf()
    conf.set("hive.metastore.uris", s"thrift://localhost:$port")
    val client = new org.apache.hadoop.hive.metastore.HiveMetaStoreClient(conf)
    try {
      val stats = client.getTableColumnStatistics("db", "stats_t",
        Seq("k", "v").asJava).asScala.map(o => o.getColName -> o.getStatsData).toMap
      val v = stats("v").getLongStats
      assert(v.getLowValue == 9007199254740993L && v.getHighValue == 9007199254740995L,
        s"bounds must survive without a double round-trip: $v")
      assert(v.getNumNulls == 1L, s"null count is footer-exact: $v")
      // NDV: min(non-null rows = 2, range width = 3) = 2 — an upper
      // bound, never a fabricated zero
      assert(v.getNumDVs == 2L, v)
      val k = stats("k").getLongStats
      assert(k.getNumNulls == 0L && k.getNumDVs == 3L, k)
    } finally client.close()
  }

  test("ANALYZE upgrades served NDV to a real estimate and makes strings servable") {
    val url = "jdbc:derby:memory:hmsmeta;create=true"
    val root = s"${operators.Lakehouse.scratch}/hms_wh"
    graft.sources.GraftHmsFacade.start(spark, port, root, jdbcUrl = Some(url))
    spark.sql("DROP TABLE IF EXISTS hms_cat.db.an_t")
    spark.sql("CREATE TABLE hms_cat.db.an_t (k BIGINT, s STRING) USING graft")
    spark.sql("INSERT INTO hms_cat.db.an_t SELECT id, " +
      "CASE WHEN id % 10 = 0 THEN NULL ELSE 'grp' || (id % 7) END FROM range(1000)")
    // before ANALYZE: k's NDV is the width/row bound, s is unserved
    // (no length stats exist)
    val conf = new org.apache.hadoop.hive.conf.HiveConf()
    conf.set("hive.metastore.uris", s"thrift://localhost:$port")
    val client = new org.apache.hadoop.hive.metastore.HiveMetaStoreClient(conf)
    try {
      val before = client.getTableColumnStatistics("db", "an_t",
        Seq("k", "s").asJava).asScala.map(o => o.getColName -> o.getStatsData).toMap
      assert(before.contains("k") && !before.contains("s"), before.keySet)
      spark.sql("CALL hms_cat.system.analyze('db.an_t', '')").collect()
      val after = client.getTableColumnStatistics("db", "an_t",
        Seq("k", "s").asJava).asScala.map(o => o.getColName -> o.getStatsData).toMap
      // k (1000 distinct) is an HLL ESTIMATE — assert the honest
      // band, not equality; s (7 distinct) sits in linear-counting
      // territory where the estimate IS exact; NULLs stay footer-exact
      val kNdv = after("k").getLongStats.getNumDVs
      assert(kNdv > 900L && kNdv < 1100L, s"k NDV estimate off: $kNdv")
      val s = after("s").getStringStats
      assert(s.getNumDVs == 7L, s)
      assert(s.getNumNulls == 100L, s)
      assert(s.getMaxColLen == 4L, s) // 'grpN'
      assert(s.getAvgColLen > 3.9 && s.getAvgColLen < 4.1, s)
    } finally client.close()
  }

  test("external ANALYZE write-back round-trips; exact sidecar stats stay authoritative") {
    import org.apache.hadoop.hive.metastore.api.{ColumnStatistics, ColumnStatisticsData, ColumnStatisticsDesc, ColumnStatisticsObj, LongColumnStatsData, StringColumnStatsData}
    val url = "jdbc:derby:memory:hmsmeta;create=true"
    val root = s"${operators.Lakehouse.scratch}/hms_wh"
    graft.sources.GraftHmsFacade.start(spark, port, root, jdbcUrl = Some(url))
    spark.sql("DROP TABLE IF EXISTS hms_cat.db.wb_t")
    spark.sql("CREATE TABLE hms_cat.db.wb_t (k BIGINT, s STRING) USING graft")
    spark.sql("INSERT INTO hms_cat.db.wb_t SELECT id, 'x' || (id % 5) FROM range(100)")
    val conf = new org.apache.hadoop.hive.conf.HiveConf()
    conf.set("hive.metastore.uris", s"thrift://localhost:$port")
    val client = new org.apache.hadoop.hive.metastore.HiveMetaStoreClient(conf)
    try {
      // before: k's NDV is the metadata bound (100 non-null, width 100);
      // s is unserved (no ANALYZE, no length stats)
      val before = client.getTableColumnStatistics("db", "wb_t",
        Seq("k", "s").asJava).asScala.map(o => o.getColName -> o.getStatsData).toMap
      assert(before("k").getLongStats.getNumDVs == 100L, before("k"))
      assert(!before.contains("s"), before.keySet)

      // an external engine's ANALYZE lands over the wire: NDV for k,
      // NDV + lengths for s. The wire's numNulls (deliberately WRONG:
      // 77) must NOT displace the footer-exact sidecar null count.
      val kData = new LongColumnStatsData(77L, 42L)
      kData.setLowValue(0L); kData.setHighValue(99L)
      val sData = new StringColumnStatsData(9L, 4.5, 77L, 5L)
      val desc = new ColumnStatisticsDesc(true, "db", "wb_t")
      val cs = new ColumnStatistics(desc, Seq(
        new ColumnStatisticsObj("k", "bigint", ColumnStatisticsData.longStats(kData)),
        new ColumnStatisticsObj("s", "string", ColumnStatisticsData.stringStats(sData))
      ).asJava)
      client.updateTableColumnStatistics(cs)

      val after = client.getTableColumnStatistics("db", "wb_t",
        Seq("k", "s").asJava).asScala.map(o => o.getColName -> o.getStatsData).toMap
      val k = after("k").getLongStats
      assert(k.getNumDVs == 42L, s"written-back NDV must be served: $k")
      assert(k.getNumNulls == 0L, s"nulls stay footer-exact, wire's 77 ignored: $k")
      assert(k.getLowValue == 0L && k.getHighValue == 99L,
        s"bounds stay sidecar-exact: $k")
      val sStats = after("s").getStringStats
      assert(sStats.getNumDVs == 5L && sStats.getMaxColLen == 9L, sStats)
      assert(sStats.getNumNulls == 0L, s"string nulls stay footer-exact: $sStats")

      // engine-side visibility: the written-back stats are the SAME
      // store graft's ANALYZE fills, so the engine's catalog sees them
      val loc = client.getTable("db", "wb_t").getSd.getLocation
      assert(graft.sources.LakeTable.meta(spark, loc).ndv("k").ndv == 42L)

      // delete one column's record: k reverts to the bound, s stays
      client.deleteTableColumnStatistics("db", "wb_t", "k")
      val reverted = client.getTableColumnStatistics("db", "wb_t",
        Seq("k", "s").asJava).asScala.map(o => o.getColName -> o.getStatsData).toMap
      assert(reverted("k").getLongStats.getNumDVs == 100L, reverted("k"))
      assert(reverted("s").getStringStats.getNumDVs == 5L, reverted("s"))
    } finally client.close()
  }

  test("partition-level stats write-back round-trips per partition") {
    import org.apache.hadoop.hive.metastore.api.{ColumnStatistics, ColumnStatisticsData, ColumnStatisticsDesc, ColumnStatisticsObj, LongColumnStatsData, StringColumnStatsData}
    val url = "jdbc:derby:memory:hmsmeta;create=true"
    val root = s"${operators.Lakehouse.scratch}/hms_wh"
    graft.sources.GraftHmsFacade.start(spark, port, root, jdbcUrl = Some(url))
    spark.sql("DROP TABLE IF EXISTS hms_cat.db.pwb")
    spark.sql("CREATE TABLE hms_cat.db.pwb (k BIGINT, s STRING, p STRING) " +
      "USING graft PARTITIONED BY (p)")
    spark.sql("INSERT INTO hms_cat.db.pwb " +
      "SELECT id, 'v' || (id % 4), CASE WHEN id < 50 THEN 'a' ELSE 'b' END FROM range(100)")
    val conf = new org.apache.hadoop.hive.conf.HiveConf()
    conf.set("hive.metastore.uris", s"thrift://localhost:$port")
    val client = new org.apache.hadoop.hive.metastore.HiveMetaStoreClient(conf)
    try {
      // before: k's NDV per partition is the metadata bound (50 rows,
      // width 50); s is unserved at partition level (no lengths)
      val before = client.getPartitionColumnStatistics("db", "pwb",
        Seq("p=a", "p=b").asJava, Seq("k", "s").asJava)
      def statsOf(m: java.util.Map[String, java.util.List[ColumnStatisticsObj]],
          pn: String) = m.get(pn).asScala.map(o => o.getColName -> o.getStatsData).toMap
      assert(statsOf(before, "p=a")("k").getLongStats.getNumDVs == 50L)
      assert(!statsOf(before, "p=a").contains("s"))

      // an external engine ANALYZEs partition p=a only: NDV for k,
      // NDV + lengths for s; its (wrong: 7) null count must not
      // displace the footer-exact one
      val kData = new LongColumnStatsData(7L, 33L)
      kData.setLowValue(0L); kData.setHighValue(49L)
      val sData = new StringColumnStatsData(6L, 2.0, 7L, 4L)
      val desc = new ColumnStatisticsDesc(false, "db", "pwb")
      desc.setPartName("p=a")
      val cs = new ColumnStatistics(desc, Seq(
        new ColumnStatisticsObj("k", "bigint", ColumnStatisticsData.longStats(kData)),
        new ColumnStatisticsObj("s", "string", ColumnStatisticsData.stringStats(sData))
      ).asJava)
      client.updatePartitionColumnStatistics(cs)

      val after = client.getPartitionColumnStatistics("db", "pwb",
        Seq("p=a", "p=b").asJava, Seq("k", "s").asJava)
      val ka = statsOf(after, "p=a")("k").getLongStats
      assert(ka.getNumDVs == 33L, s"written-back partition NDV must be served: $ka")
      assert(ka.getNumNulls == 0L, s"nulls stay footer-exact: $ka")
      assert(ka.getLowValue == 0L && ka.getHighValue == 49L, ka)
      val sa = statsOf(after, "p=a")("s").getStringStats
      assert(sa.getNumDVs == 4L && sa.getMaxColLen == 6L, sa)
      // the OTHER partition is untouched: bound NDV, s still unserved
      assert(statsOf(after, "p=b")("k").getLongStats.getNumDVs == 50L)
      assert(!statsOf(after, "p=b").contains("s"))

      // engine-side visibility: same store, readable by path
      val loc = client.getTable("db", "pwb").getSd.getLocation
      assert(graft.sources.LakeTable.meta(spark, loc).pndv("p=a")("k").ndv == 33L)

      // per-partition delete: k reverts to the bound, s stays
      client.deletePartitionColumnStatistics("db", "pwb", "p=a", "k")
      val reverted = client.getPartitionColumnStatistics("db", "pwb",
        Seq("p=a").asJava, Seq("k", "s").asJava)
      assert(statsOf(reverted, "p=a")("k").getLongStats.getNumDVs == 50L)
      assert(statsOf(reverted, "p=a")("s").getStringStats.getNumDVs == 4L)
    } finally client.close()
  }

  test("server-side partition filtering: get_partitions_by_filter prunes on the server") {
    val url = "jdbc:derby:memory:hmsmeta;create=true"
    val root = s"${operators.Lakehouse.scratch}/hms_wh"
    graft.sources.GraftHmsFacade.start(spark, port, root, jdbcUrl = Some(url))
    spark.sql("DROP TABLE IF EXISTS hms_cat.db.pf")
    // numeric year partitions include 9 vs 10 ON PURPOSE: 'year > 9'
    // must match 10 — a lexicographic compare ("10" < "9") would not
    spark.sql("CREATE TABLE hms_cat.db.pf (k BIGINT, region STRING, yr BIGINT) " +
      "USING graft PARTITIONED BY (region, yr)")
    spark.sql("INSERT INTO hms_cat.db.pf VALUES " +
      "(1,'eu',9), (2,'eu',10), (3,'us',9), (4,'us',10), (5,'ap',9)")
    val conf = new org.apache.hadoop.hive.conf.HiveConf()
    conf.set("hive.metastore.uris", s"thrift://localhost:$port")
    val client = new org.apache.hadoop.hive.metastore.HiveMetaStoreClient(conf)
    try {
      def names(filter: String): Set[String] =
        client.listPartitionsByFilter("db", "pf", filter, (-1).toShort)
          .asScala.map(p => p.getValues.asScala.mkString("/")).toSet
      // string equality
      assert(names("region = \"eu\"") == Set("eu/9", "eu/10"))
      // numeric comparison (not lexicographic)
      assert(names("yr > 9") == Set("eu/10", "us/10"))
      // AND / OR composition
      assert(names("region = \"us\" and yr <= 9") == Set("us/9"))
      assert(names("region = \"ap\" or yr = 10") == Set("ap/9", "eu/10", "us/10"))
      // LIKE
      assert(names("region like \"e%\"") == Set("eu/9", "eu/10"))
      // unknown key fails loudly, like the stock store
      val bad = intercept[Exception] { names("nope = \"x\"") }
      assert(bad.getMessage.contains("not a partitioning key"), bad.getMessage)
      // partial-spec listing (SHOW PARTITIONS ... PARTITION(region='eu'))
      val ps = client.listPartitionNames("db", "pf",
        Seq("eu").asJava, (-1).toShort).asScala.toSet
      assert(ps == Set("region=eu/yr=9", "region=eu/yr=10"), ps)
      // per-partition column statistics: the partition's OWN file
      // slice, not the table aggregate (k=1 in eu/9, k=2 in eu/10)
      val pstats = client.getPartitionColumnStatistics("db", "pf",
        Seq("region=eu/yr=9", "region=eu/yr=10").asJava, Seq("k").asJava)
      def kOf(pn: String) = pstats.get(pn).asScala
        .find(_.getColName == "k").get.getStatsData.getLongStats
      assert(kOf("region=eu/yr=9").getLowValue == 1L &&
        kOf("region=eu/yr=9").getHighValue == 1L, pstats)
      assert(kOf("region=eu/yr=10").getLowValue == 2L &&
        kOf("region=eu/yr=10").getHighValue == 2L, pstats)
      assert(kOf("region=eu/yr=9").getNumNulls == 0L &&
        kOf("region=eu/yr=9").getNumDVs == 1L, pstats)
    } finally client.close()
  }

  test("partition-drop marks die with the table generation (engine-side re-create)") {
    val url = "jdbc:derby:memory:hmsmeta;create=true"
    val root = s"${operators.Lakehouse.scratch}/hms_wh"
    graft.sources.GraftHmsFacade.start(spark, port, root, jdbcUrl = Some(url))
    spark.sql("DROP TABLE IF EXISTS hms_cat.db.marks")
    spark.sql("CREATE TABLE hms_cat.db.marks (k BIGINT, region STRING) " +
      "USING graft PARTITIONED BY (region)")
    spark.sql("INSERT INTO hms_cat.db.marks VALUES (1, 'eu'), (2, 'us')")
    val conf = new org.apache.hadoop.hive.conf.HiveConf()
    conf.set("hive.metastore.uris", s"thrift://localhost:$port")
    val client = new org.apache.hadoop.hive.metastore.HiveMetaStoreClient(conf)
    try {
      // wire-side drop_table paginates partitions → visibility marks
      // are taken for region=eu / region=us, then the name unregisters
      client.dropTable("db", "marks", false, false)
      assert(!client.getAllTables("db").asScala.contains("marks"))
      Thread.sleep(20) // distinct mtime for the new generation's v00000
      // engine-side re-create under the SAME name (and location): the
      // facade's own clear hooks never run, so only generation-scoped
      // keys keep the stale marks from hiding the new partitions
      spark.sql("CREATE TABLE hms_cat.db.marks (k BIGINT, region STRING) " +
        "USING graft PARTITIONED BY (region)")
      spark.sql("INSERT INTO hms_cat.db.marks VALUES (3, 'eu'), (4, 'us')")
      val parts = client.listPartitionNames("db", "marks", -1).asScala.toSet
      assert(parts == Set("region=eu", "region=us"),
        s"stale marks from the dropped generation must not hide partitions: $parts")
    } finally client.close()
  }
}
