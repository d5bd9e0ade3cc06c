package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.LakeTable

/** The shared-gateway usage of the reference platform (Kyuubi is a
  * long-running multi-tenant SQL gateway, reference
  * internal/controller/kyuubi.go): several sessions over one engine,
  * isolated per-tenant state, one shared catalog, safe concurrent
  * commits — plus the unbounded-source streaming and JDBC-federation
  * surfaces.
  */
class GatewaySpec extends AnyFunSuite {
  import SharedSpark.spark

  test("tenants get isolated temp views over one engine") {
    val t1 = spark.newSession()
    val t2 = spark.newSession()
    t1.range(5).toDF("id").createOrReplaceTempView("v_tenant")
    t2.range(50).toDF("id").createOrReplaceTempView("v_tenant")
    assert(t1.sql("SELECT count(*) FROM v_tenant").head().getLong(0) == 5)
    assert(t2.sql("SELECT count(*) FROM v_tenant").head().getLong(0) == 50)
    val t3 = spark.newSession()
    intercept[Exception] { t3.sql("SELECT * FROM v_tenant").collect() }
  }

  test("tenants get isolated session config") {
    val t1 = spark.newSession()
    val t2 = spark.newSession()
    t1.conf.set("spark.sql.shuffle.partitions", "7")
    assert(t2.conf.get("spark.sql.shuffle.partitions") != "7")
  }

  test("a gateway child session carries the parent's runtime settings and pins the wire identity") {
    val parent = spark.newSession()
    parent.conf.set("spark.sql.shuffle.partitions", "13")
    parent.conf.set("spark.sql.catalog.child_cat", "graft.sources.GraftCatalog")
    parent.conf.set("spark.graft.approxQuantiles", "true")
    // a core key in the session conf, as builder().config(..).getOrCreate()
    // leaves one on an existing session: not copied, and no failure
    parent.sessionState.conf.setConfString("spark.task.maxFailures", "9")
    val child = GraftSession.childSession(parent, "alice", Seq(
      "spark.sql.ansi.enabled" -> "false",
      "spark.sql.shuffle.partitions" -> "not-a-number", // rejected value: skipped
      "spark.sql.warehouse.dir" -> "/elsewhere",        // static: skipped
      "spark.graft.sql.user" -> "mallory"))             // identity: dropped
    assert(child.conf.get("spark.sql.shuffle.partitions") == "13")
    assert(child.conf.get("spark.sql.catalog.child_cat") == "graft.sources.GraftCatalog")
    assert(child.conf.get("spark.graft.approxQuantiles") == "true")
    assert(child.conf.getOption("spark.task.maxFailures") != Some("9"))
    assert(child.conf.get("spark.sql.ansi.enabled") == "false")
    assert(child.conf.get("spark.sql.warehouse.dir") == parent.conf.get("spark.sql.warehouse.dir"))
    assert(child.conf.get("spark.graft.sql.user") == "alice")
    assert(parent.conf.getOption("spark.graft.sql.user").isEmpty)
    assert(parent.conf.get("spark.sql.ansi.enabled") != "false")
  }

  test("one shared catalog: tenant A's CTAS is visible to tenant B by name") {
    val t1 = spark.newSession()
    val t2 = spark.newSession()
    t1.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.shared")
    t1.sql("DROP TABLE IF EXISTS graft_cat.shared.dim")
    t1.range(30).toDF("id").createOrReplaceTempView("src")
    t1.sql("CREATE TABLE graft_cat.shared.dim AS SELECT id, id % 3 AS g FROM src")
    // t2 resolves the same name with no registration of its own.
    assert(t2.sql("SELECT count(*) AS c FROM graft_cat.shared.dim").head().getLong(0) == 30)
    t2.sql("INSERT INTO graft_cat.shared.dim SELECT id + 100, id % 3 FROM graft_cat.shared.dim")
    assert(t1.sql("SELECT count(*) AS c FROM graft_cat.shared.dim").head().getLong(0) == 60)
  }

  test("concurrent tenant commits to one LakeTable stay consistent") {
    val p = s"${operators.Lakehouse.scratch}/gateway_race"
    LakeTable.create(spark, p, spark.range(10).toDF("id"))
    val sessions = (1 to 4).map(_ => spark.newSession())
    val ok = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = sessions.zipWithIndex.map { case (s, i) =>
      new Thread(() => {
        // Retry-on-conflict: optimistic committers re-read the head
        // version and try again — the claim file arbitrates each round.
        var attempts = 0
        var done = false
        while (!done && attempts < 10) {
          try { LakeTable.append(s, p, s.range(i * 100, i * 100 + 10).toDF("id")); done = true }
          catch { case _: IllegalStateException => attempts += 1 }
        }
        if (done) ok.incrementAndGet()
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(ok.get() == 4, s"only ${ok.get()} of 4 writers landed")
    // All four appends (plus create) present exactly once.
    assert(LakeTable.currentVersion(spark, p).contains(4L))
    assert(LakeTable.read(spark, p).count() == 50)
  }

  test("unbounded rate-micro-batch source streams through the windowed pipeline") {
    // rate-micro-batch emits exactly rowsPerBatch rows per trigger with
    // deterministic timestamps — the unbounded-source semantics (no
    // files, no end) that a broker-backed deployment would exercise.
    // Each batch advances event time a full minute, so with a 0s
    // watermark every trigger closes the previous 1-minute window.
    val stream = spark.readStream.format("rate-micro-batch")
      .option("rowsPerBatch", "100")
      .option("startTimestamp", "0")
      .option("advanceMillisPerBatch", "60000")
      .load()
      .withColumn("bucket", col("value") % 10)
      .withWatermark("timestamp", "0 seconds")
      .groupBy(window(col("timestamp"), "1 minute"), col("bucket"))
      .agg(count(lit(1)).as("cnt"))
    val q = stream.writeStream.format("memory").queryName("rate_agg")
      .outputMode("append").trigger(Trigger.ProcessingTime(0)).start()
    try {
      // run until at least one full window (10 buckets) has closed
      var waited = 0
      while (spark.table("rate_agg").count() < 10 && waited < 600) {
        Thread.sleep(100); waited += 1
      }
    } finally q.stop()
    val out = spark.table("rate_agg")
    assert(out.count() >= 10, "no windows closed")
    // 100 rows/batch over buckets 0-9 → every closed window holds 10.
    assert(out.select("cnt").distinct().collect().map(_.getLong(0)).toSeq == Seq(10L))
  }

  test("JDBC federation pushes predicates into the remote database") {
    val q = Registry.byName("q_jdbc_federation")
    assert(q.run(spark, SharedSpark.sf).count() > 0)
    // The dim-side filter must reach the JDBC scan, not Spark.
    val url = s"jdbc:derby:${operators.Lakehouse.scratch}/derby_fed"
    val props = new java.util.Properties()
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val dim = spark.read.jdbc(url, "NATION_DIM", props).where(col("n_regionkey") <= 2)
    val plan = dim.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("n_regionkey"), plan)
  }
}
