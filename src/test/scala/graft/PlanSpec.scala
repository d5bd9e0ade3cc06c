package graft

import org.apache.spark.sql.catalyst.expressions.{ArrayTransform, LambdaFunction}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.plans.NgramHashes
import graft.sources.LakeTable

/** Plan-shape assertions: the properties that make queries survive a
  * 100× scale-up — pushdown, pruning, broadcast, bucketing — hold in
  * the actual physical plans, not just in intent.
  */
class PlanSpec extends AnyFunSuite {
  import SharedSpark.{sf, spark}

  private def planOf(name: String): String =
    Registry.byName(name).run(spark, sf).queryExecution.executedPlan.toString

  test("q_scan_project prunes to exactly the two selected columns") {
    val p = planOf("q_scan_project")
    assert(p.contains("ReadSchema: struct<o_orderkey:bigint,o_totalprice:double>"), p)
  }

  test("q_filter_pushdown reaches the parquet scan") {
    val p = planOf("q_filter_pushdown")
    assert(p.contains("PushedFilters: [") && p.contains("EqualTo(l_returnflag,R)"), p)
  }

  test("q_join_broadcast uses a broadcast hash join") {
    assert(planOf("q_join_broadcast").contains("BroadcastHashJoin"))
  }

  test("q_join_multi broadcasts every dim (single fact-fact shuffle join)") {
    val p = planOf("q_join_multi")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 4, p)
    assert("SortMergeJoin|ShuffledHashJoin".r.findAllIn(p).size <= 1, p)
  }

  test("version-pinned scans do not claim head-snapshot CBO stats") {
    // The sidecar/ANALYZE aggregates describe currentVersion; a
    // VERSION AS OF scan of an older snapshot must not report them as
    // its own row count — the CBO would plan the old snapshot with the
    // new table's shape (plans only; results were always correct).
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.statdb")
    spark.sql("DROP TABLE IF EXISTS graft_cat.statdb.pin_t")
    spark.sql("CREATE TABLE graft_cat.statdb.pin_t AS " +
      "SELECT id AS k, id * 2 AS v FROM range(100)")
    spark.sql("INSERT INTO graft_cat.statdb.pin_t " +
      "SELECT id + 100 AS k, id * 3 AS v FROM range(100)")
    val head = spark.table("graft_cat.statdb.pin_t")
    assert(head.queryExecution.optimizedPlan.stats.rowCount.contains(BigInt(200)),
      s"head scan reports exact sidecar rows: ${head.queryExecution.optimizedPlan.stats}")
    val pinned = spark.sql("SELECT * FROM graft_cat.statdb.pin_t VERSION AS OF 0")
    val rc = pinned.queryExecution.optimizedPlan.stats.rowCount
    assert(!rc.contains(BigInt(200)),
      s"pinned v0 scan must not claim the head's 200-row count: $rc")
  }

  test("LakeTable partitioned read prunes partitions at the scan") {
    val lake = s"${operators.Lakehouse.scratch}/spec_part"
    LakeTable.create(spark, lake,
      Tables(spark, sf, "orders").select("o_orderkey", "o_totalprice", "o_orderpriority"),
      partitionBy = Seq("o_orderpriority"))
    val df = LakeTable.read(spark, lake).where(col("o_orderpriority") === "1-URGENT")
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters:") && scan.contains("o_orderpriority"), scan)
    // Pruned scan must read strictly fewer files than the table holds.
    val pruned = df.select(input_file_name()).distinct().count()
    val all = LakeTable.read(spark, lake).select(input_file_name()).distinct().count()
    assert(pruned < all, s"pruned=$pruned all=$all")
  }

  test("bucketed tables join without any exchange") {
    Registry.byName("q_bucketed_join").run(spark, sf).collect() // creates the tables
    val joined = spark.table("g_lineitem_buck").hint("merge")
      .join(spark.table("g_orders_buck").hint("merge"),
        col("l_orderkey") === col("o_orderkey"))
    val p = joined.queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), p)
    assert(!p.contains("Exchange"), s"bucketed join should not shuffle:\n$p")
  }

  test("runtime bloom filter injects on selective fact-fact joins at scan sizes that warrant it") {
    // Thresholds emulate the 100 TB condition locally (application
    // side normally requires a 10 GB scan); the assertion is that the
    // optimizer CAN inject row-level pruning into our join shapes.
    val confs = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val olds = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val li = Tables(spark, sf, "lineitem")
      val ord = Tables(spark, sf, "orders").where(col("o_orderpriority") === "1-URGENT")
      val j = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus").agg(sum("l_quantity"))
      assert(j.queryExecution.optimizedPlan.toString.toLowerCase.contains("bloom"))
    } finally olds.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("custom TopKPerGroup plans as two-phase heaps with one shuffle, no sort before it") {
    val df = graft.plans.TopK.perGroup(
      Tables(spark, sf, "orders").select("o_orderpriority", "o_orderkey", "o_totalprice"),
      Seq("o_orderpriority"), "o_totalprice", "o_orderkey", 3)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("LocalTopK") && p.contains("FinalTopK"), p.take(1500))
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p.take(1500))
    assert(!p.contains("Sort "), s"bounded heaps must not sort:\n${p.take(1500)}")
    assert(df.count() == 15) // 5 priorities × 3
  }

  test("ANN top-k plans contain no Window node (bounded heaps, never a per-query reducer)") {
    // row_number().over(Window.partitionBy(qid)) routes every scored
    // candidate row of a query to ONE reducer and sorts it — fatal when
    // the candidate set is the corpus. All five ANN operators must
    // select through the two-phase TopK heaps instead.
    for (name <- Seq("q_knn_brute", "q_knn_lsh", "q_knn_ivf", "q_knn_pq", "q_ann_persisted")) {
      val p = Registry.byName(name).run(spark, sf).queryExecution.executedPlan.toString
      assert(!p.contains("Window"), s"$name plans a Window:\n${p.take(2000)}")
      assert(p.contains("FinalTopK"), s"$name does not use TopK heaps:\n${p.take(2000)}")
    }
  }

  test("dynamic partition pruning: a filtered dim join prunes graft fact files at runtime") {
    import org.apache.spark.sql.connector.expressions.Expressions
    import org.apache.spark.sql.connector.expressions.filter.Predicate
    import org.apache.spark.sql.execution.datasources.FilePartition
    import org.apache.spark.sql.types.StringType
    import org.apache.spark.unsafe.types.UTF8String
    import graft.sources.{GraftStreamableScan, GraftTable}

    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.pdb")
    spark.sql("DROP TABLE IF EXISTS graft_cat.pdb.dppf")
    spark.sql("CREATE TABLE graft_cat.pdb.dppf (id BIGINT, g STRING) PARTITIONED BY (g)")
    spark.range(400).selectExpr("id", "CAST(id % 8 AS STRING) AS g")
      .createOrReplaceTempView("dpp_src")
    spark.sql("INSERT INTO graft_cat.pdb.dppf SELECT id, g FROM dpp_src")

    // Unit level: a runtime IN('3') must drop every other partition's files.
    val path = s"${GraftSession.catalogRoot}/pdb/dppf"
    def files(scan: GraftStreamableScan): Int =
      scan.toBatch.planInputPartitions().map {
        case f: FilePartition => f.files.length
        case _ => 0
      }.sum
    val scan = new GraftTable(path, None, None)
      .newScanBuilder(new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Collections.emptyMap())).build().asInstanceOf[GraftStreamableScan]
    val before = files(scan)
    assert(scan.filterAttributes().map(_.fieldNames().head).toSeq == Seq("g"))
    scan.filter(Array(new Predicate("IN", Array(Expressions.column("g"),
      org.apache.spark.sql.graftglue.Glue.connectorLiteral(
        UTF8String.fromString("3"), StringType)))))
    val after = files(scan)
    assert(after >= 1 && after < before, s"runtime filter kept $after of $before files")

    // End to end: the optimizer injects the DPP subquery against the
    // graft scan (build side broadcast, filter on a non-join column)
    // and the joined result stays correct.
    spark.range(8).selectExpr("CAST(id AS STRING) AS dg", "id AS attr")
      .createOrReplaceTempView("dpp_dim")
    val q = spark.sql("""SELECT count(*) AS c FROM graft_cat.pdb.dppf f
      JOIN dpp_dim d ON f.g = d.dg WHERE d.attr = 3""")
    assert(q.head().getLong(0) == 50L)
    val p = q.queryExecution.executedPlan.toString
    assert(p.contains("dynamicpruning"), s"no DPP subquery injected:\n${p.take(3000)}")
  }

  test("q_tpch_q1 pushes the shipdate filter and combines map-side") {
    val p = planOf("q_tpch_q1")
    assert(p.contains("PushedFilters: [") && p.contains("LessThanOrEqual(l_shipdate"), p)
    assert(p.contains("partial_sum") || p.contains("HashAggregate"), p)
    // One shuffle for the 6-group agg, one for the output sort.
    val n = "Exchange".r.findAllIn(p).size - "BroadcastExchange".r.findAllIn(p).size
    assert(n <= 2, s"q_tpch_q1 shuffles $n > 2:\n${p.take(2000)}")
    val rows = Registry.byName("q_tpch_q1").run(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 9, rows.length) // |returnflag| x |linestatus|
  }

  test("q_tpch_q5 broadcasts region+nation and returns one row per nation") {
    val p = planOf("q_tpch_q5")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 1, p)
    val rows = Registry.byName("q_tpch_q5").run(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 25, rows.length)
    val revs = rows.map(_.getDouble(1))
    assert(revs.sameElements(revs.sorted.reverse), "revenue must be desc-sorted")
  }

  test("shuffle budgets: key operators stay within their exchange counts") {
    // Each entry: query -> max allowed "Exchange" occurrences in the
    // physical plan (a regression here means a new unplanned shuffle —
    // the thing that silently kills a 100 TB run).
    val budgets = Map(
      "q_agg_groupby" -> 2,      // partial->final agg + sort
      "q_asof_join" -> 3,        // union shuffle on uid + window sort + output sort
      "q_join_multi" -> 3,       // fact join + agg + sort (dims broadcast)
      "q_dedup_exact" -> 2,      // hash agg + sort
      "q_skew_agg" -> 3,         // salt-phase shuffle + per-key combine + sort
      "q_knn_brute" -> 2,        // window on qid + sort (queries broadcast)
      "q_dedup_ngram" -> 9,      // PPJoin: df agg + per-doc prefix window + candidate
                                 // join/agg + verify join + pair agg + size joins + sort
                                 // (more stages than the direct join, every one linear)
      "q_text_repetition" -> 1,  // pure map over the corpus + final sort
      "q_seq_pack" -> 2,         // one (lang,shard) exchange shared by window AND agg + sort
      "q_window_range" -> 3,     // day agg + ordered frame + sort
      "q_collation" -> 3,        // collated agg + sort
      "q_jdbc_federation" -> 3)  // agg + sort (dim broadcast from JDBC)
    budgets.foreach { case (name, budget) =>
      val p = Registry.byName(name).run(spark, sf).queryExecution.executedPlan.toString
      val n = "Exchange".r.findAllIn(p).size -
        "BroadcastExchange".r.findAllIn(p).size // broadcasts are fine
      assert(n <= budget, s"$name shuffles $n > budget $budget:\n${p.take(2000)}")
    }
  }

  test("salted skew agg produces two-phase aggregation without a hot single key") {
    val p = planOf("q_skew_agg")
    assert("HashAggregate".r.findAllIn(p).size >= 4, p) // partial+final × two phases
  }

  test("q_window_firstlast is a partial aggregate, not a 3-partition window") {
    val p = planOf("q_window_firstlast")
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("Window"), s"first/last per group must not plan a window:\n$p")
  }

  test("q_dedup_ngram shuffles only scalar hash rows, never shingle arrays") {
    val p = Registry.byName("q_dedup_ngram").run(spark, sf)
      .queryExecution.optimizedPlan.toString
    // The inverted-index formulation computes |A∩B| as a count over the
    // exploded (doc_id, hash) table — the shingle ARRAY must be fully
    // consumed by the generator below any exchange; array set-ops on
    // carried arrays would mean text-sized rows in the shuffle again.
    assert(p.contains("Generate explode"), p.take(3000))
    assert(!p.contains("array_intersect") && !p.contains("array_union"),
      s"shingle arrays resurfaced in the join:\n${p.take(3000)}")
  }

  test("dedup shingles hash natively: no interpreted lambda in the shingle or MinHash plans") {
    // The n-gram hashes were a transform(sequence(…), i -> xxhash64(…))
    // lambda — a CodegenFallback interpreted per shingle on the
    // hottest dedup path. The kernel replaced it; this keeps it out.
    val helper = new AdaptiveSparkPlanHelper {}
    Seq("shingleTable" -> operators.DedupOps.shingleTable(spark, sf),
        "minhashSignatures" -> operators.DedupOps.minhashSignatures(spark, sf)).foreach {
      case (name, df) =>
        val plan = df.queryExecution.executedPlan
        val exprs = helper.collectWithSubqueries(plan) { case p => p.expressions }.flatten
        val lambdas = exprs.flatMap(_.collect {
          case e @ (_: ArrayTransform | _: LambdaFunction) => e
        })
        assert(lambdas.isEmpty, s"$name evaluates a lambda:\n$plan")
        assert(exprs.exists(_.exists(_.isInstanceOf[NgramHashes])), s"$name:\n$plan")
    }
  }

  test("q_lateral pushes the customer-range filter into the orders window") {
    val p = Registry.byName("q_lateral").run(spark, sf)
      .queryExecution.optimizedPlan.toString
    // The correlated-side o_custkey <= 200 must sit BELOW the window
    // group-limit (on the orders scan), not only on the customer side.
    val windowIdx = p.indexOf("Window")
    assert(windowIdx >= 0, p.take(2000))
    assert(p.substring(windowIdx).contains("<= 200"),
      s"orders-side filter not below the window:\n${p.take(3000)}")
  }

  test("registered rollup MV transparently serves base aggregates (and only matching ones)") {
    val base = s"$sf/orders.parquet"
    val mvPath = s"${operators.Lakehouse.scratch}/spec_mv_auto"
    try {
      graft.sources.Rollup.createAndRegister(spark, base, mvPath,
        dims = Seq("o_orderpriority", "o_orderstatus"), measures = Seq("o_totalprice"))
      val routed = Tables(spark, sf, "orders")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 2).as("rev"))
      val plan = routed.queryExecution.optimizedPlan.toString
      assert(plan.contains("sum_o_totalprice"), s"aggregate not routed to the MV:\n$plan")
      val files = routed.queryExecution.executedPlan.toString
      assert(files.contains("spec_mv_auto") && !files.contains("orders.parquet"),
        s"scan is not the MV:\n${files.take(2000)}")
      // routed answer == direct answer
      val direct = Tables(spark, sf, "orders")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice"), 2).as("rev"))
        .orderBy("o_orderpriority")
      graft.plans.MvRegistry.deregister(base)
      assert(routed.orderBy("o_orderpriority").collect().toSeq ==
        direct.collect().toSeq)
      // non-matching shapes must NOT route: avg is not a stored partial,
      // and a filtered base invalidates the partials
      graft.sources.Rollup.createAndRegister(spark, base, mvPath,
        Seq("o_orderpriority", "o_orderstatus"), Seq("o_totalprice"))
      val avgPlan = Tables(spark, sf, "orders").groupBy("o_orderpriority")
        .agg(avg("o_totalprice")).queryExecution.optimizedPlan.toString
      assert(!avgPlan.contains("spec_mv_auto"), avgPlan)
      val filteredPlan = Tables(spark, sf, "orders")
        .where(col("o_orderkey") > 100).groupBy("o_orderpriority")
        .agg(sum("o_totalprice")).queryExecution.optimizedPlan.toString
      assert(!filteredPlan.contains("spec_mv_auto"), filteredPlan)
    } finally graft.plans.MvRegistry.deregister(base)
  }

  test("MV rewrite: decimal sums keep their type; count(*) over empty base stays 0") {
    import org.apache.spark.sql.types.DecimalType
    val scratchDir = operators.Lakehouse.scratch
    val basePath = s"$scratchDir/spec_mv_dec_base"
    val mvPath = s"$scratchDir/spec_mv_dec_mv"
    val df = spark.range(10).select(
      (col("id") % 2).cast("string").as("g"),
      col("id").cast(DecimalType(12, 2)).as("price"))
    df.write.mode("overwrite").parquet(basePath)
    try {
      graft.sources.Rollup.createAndRegister(spark, basePath, mvPath, Seq("g"), Seq("price"))
      val routed = spark.read.parquet(basePath).groupBy("g").agg(sum("price").as("s"))
      assert(routed.queryExecution.optimizedPlan.toString.contains("sum_price"),
        s"not routed:\n${routed.queryExecution.optimizedPlan}")
      // sum over DECIMAL(12,2) is DECIMAL(22,2); re-aggregating the MV
      // partial natively yields DECIMAL(32,2), so without the cast-back
      // the executed rows would not match the parent plan's layout.
      assert(routed.schema("s").dataType == DecimalType(22, 2))
      val got = routed.orderBy("g").collect().map(r => (r.getString(0), r.getDecimal(1)))
      graft.plans.MvRegistry.deregister(basePath)
      val want = spark.read.parquet(basePath).groupBy("g").agg(sum("price").as("s"))
        .orderBy("g").collect().map(r => (r.getString(0), r.getDecimal(1)))
      assert(got.sameElements(want), s"${got.toSeq} vs ${want.toSeq}")

      val emptyBase = s"$scratchDir/spec_mv_empty_base"
      val emptyMv = s"$scratchDir/spec_mv_empty_mv"
      df.where(lit(false)).write.mode("overwrite").parquet(emptyBase)
      graft.sources.Rollup.createAndRegister(spark, emptyBase, emptyMv, Seq("g"), Seq("price"))
      try {
        val cnt = spark.read.parquet(emptyBase).agg(count(lit(1)).as("c"))
        assert(cnt.queryExecution.executedPlan.toString.contains("spec_mv_empty_mv"),
          s"not routed:\n${cnt.queryExecution.executedPlan.toString.take(2000)}")
        assert(cnt.collect()(0).getLong(0) == 0L, "count(*) over empty routed base must be 0, not NULL")
      } finally graft.plans.MvRegistry.deregister(emptyBase)
    } finally graft.plans.MvRegistry.deregister(basePath)
  }

  test("q_corpus_mix broadcasts the rates dim and keeps the hash filter before any shuffle") {
    val p = planOf("q_corpus_mix")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    // the sample filter is arithmetic over scan columns — it must sit
    // in the scan stage, not after the aggregate exchange
    val filterIdx = p.indexOf("pmod")
    val exchIdx = p.indexOf("Exchange hashpartitioning")
    assert(filterIdx >= 0 && (exchIdx < 0 || filterIdx > exchIdx),
      s"hash filter not below the shuffle (plan prints bottom-up):\n${p.take(3000)}")
  }

  test("q_text_lmscore broadcasts the bigram model — the corpus never shuffles for the join") {
    val p = planOf("q_text_lmscore")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
  }

  test("q_skew_join replicates the small side and joins on (key, salt)") {
    val p = planOf("q_skew_join")
    assert(p.contains("Generate explode"), s"no replication generator:\n${p.take(2000)}")
    assert(p.contains("salt"), p.take(2000))
    // the big (lineitem) side must NOT be broadcast
    assert(!p.contains("BroadcastHashJoin") ||
      p.indexOf("lineitem") > p.indexOf("SortMergeJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"),
      p.take(2000))
  }

  test("q_funnel stages aggregate per user with partial aggregation, no cartesian blowup") {
    val p = planOf("q_funnel")
    // 3 stage aggregates + 3 one-row count aggregates; the only
    // cross joins are over single-row relations (the final combine)
    assert(p.contains("HashAggregate"), p.take(2000))
    val cartesians = "CartesianProduct".r.findAllIn(p).length +
      "BroadcastNestedLoopJoin".r.findAllIn(p).length
    assert(cartesians <= 2, s"unexpected join blowup ($cartesians):\n${p.take(3000)}")
  }

  test("q_knn_ivf cell assignment contains no Scala UDF") {
    val p = graft.operators.Clustering.knnIvf(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!p.toLowerCase.contains("batchevalpython"), p.take(2000))
    assert(!p.contains("UDF("), s"vector conversion must use array_to_vector, not a UDF:\n${p.take(3000)}")
  }

  test("q_text_bm25: df/stats broadcast; document text never reaches an exchange") {
    val p = planOf("q_text_bm25")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      p.take(2000))
    // Every Exchange's output column list must be free of the raw text
    // and token-array columns — only (doc_id, dl, term, partials) move.
    "Exchange[^\\n]*".r.findAllIn(p).foreach { line =>
      assert(!line.contains("text") && !line.contains("toks"),
        s"corpus text shuffled:\n$line")
    }
  }

  test("q_corpus_sample selects through the bounded-heap TopK operator, not a Window") {
    val p = planOf("q_corpus_sample")
    assert(p.contains("LocalTopK") && p.contains("FinalTopK"), p.take(2000))
    assert(!p.contains("Window"), s"sampling fell back to a window sort:\n${p.take(2000)}")
  }

  test("q_event_paths takes first-k events through bounded heaps, not a per-user window") {
    val p = planOf("q_event_paths")
    assert(p.contains("LocalTopK") && p.contains("FinalTopK"), p.take(2000))
    assert(!p.contains("Window"), s"first-k fell back to a window sort:\n${p.take(2000)}")
  }

  test("q_dedup_spans: one per-doc window pass; raw text/tokens never reach an exchange") {
    val p = planOf("q_dedup_spans")
    // rolling signature = a single Window node (7 leads share one spec)
    assert("(?m)^.*Window".r.findAllIn(p).length == 1, p.take(3000))
    "Exchange[^\n]*".r.findAllIn(p).foreach { line =>
      assert(!line.contains("text") && !line.contains("tok"),
        s"corpus text shuffled:\n$line")
    }
  }

  test("q_dedup_span_filter: signature + coverage windows only; text never shuffles") {
    val p = planOf("q_dedup_span_filter")
    // sig window (computed per join side — the sig subtree feeds both
    // the stream and the dup set) + ONE coverage window; more means a
    // lost reuse
    assert("(?m)^.*Window".r.findAllIn(p).length <= 3, p.take(3000))
    assert(p.contains("specifiedwindowframe(RowFrame, -7"), p.take(3000))
    "Exchange[^\n]*".r.findAllIn(p).foreach { line =>
      assert(!line.contains("text") && !line.contains("tok"),
        s"corpus text shuffled:\n$line")
    }
  }

  test("q_sql_udf is inlined at analysis time: codegen'd aggregate, no UDF node") {
    val p = planOf("q_sql_udf")
    assert(!p.contains("ScalaUDF") && !p.contains("BatchEvalPython"), p.take(2000))
    // the function body's arithmetic sits INSIDE the partial aggregate —
    // an opaque call boundary would show a UDF node feeding it instead
    assert(p.contains("(1.0 - disc") && p.contains("partial_sum"), p.take(2000))
  }

  test("q_sql_udtf inlines the table-function body: pushed filter reaches the scan") {
    val p = planOf("q_sql_udtf")
    // the WHERE l_returnflag = fl inside the function body must reach
    // the parquet scan as a pushed filter, proving the body is a plan
    // fragment, not an opaque call boundary
    assert(p.contains("EqualTo(l_returnflag,A)"), p.take(3000))
  }

  test("q_dedup_semantic: native centroid assignment, no UDF, no cartesian") {
    val p = planOf("q_dedup_semantic")
    assert(!p.contains("ScalaUDF"), p.take(2000))
    assert(!p.contains("CartesianProduct"),
      s"cell self-join degenerated to all-pairs:\n${p.take(2000)}")
  }

  test("q_event_adjacency streams one window pass; no per-user sequence strings") {
    val p = planOf("q_event_adjacency")
    assert("(?m)^.*Window".r.findAllIn(p).length == 1, p.take(2000))
    assert(!p.contains("collect_list"), p.take(2000))
  }

  test("q_corpus_shuffle: one hash exchange on the shard key, local per-shard sort") {
    val p = planOf("q_corpus_shuffle")
    assert(!p.contains("rangepartitioning(h"), p.take(2000))
    assert(p.contains("hashpartitioning(shard"), p.take(2000))
  }

  test("graft scans report statistics: a small catalog dim auto-broadcasts unhinted") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.statdb")
    spark.sql("DROP TABLE IF EXISTS graft_cat.statdb.dim")
    spark.sql("DROP TABLE IF EXISTS graft_cat.statdb.fact")
    spark.sql("CREATE TABLE graft_cat.statdb.dim AS SELECT id AS k, concat('n', id) AS nm FROM range(5)")
    spark.sql("CREATE TABLE graft_cat.statdb.fact AS SELECT id % 5 AS k, id AS v FROM range(10000)")
    val df = spark.sql(
      """SELECT d.nm, sum(f.v) AS sv FROM graft_cat.statdb.fact f
        |JOIN graft_cat.statdb.dim d ON f.k = d.k GROUP BY d.nm""".stripMargin)
    // Without SupportsReportStatistics, a DSv2 relation's size is
    // defaultSizeInBytes (effectively infinite) and the STATIC plan is
    // a shuffle join — AQE can rescue batch queries at runtime, but
    // stateful-streaming plans are frozen. With the report, the 5-row
    // dim sits far under autoBroadcastJoinThreshold: broadcast upfront.
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), p.take(3000))
    assert(df.collect().length == 5)

    // DV-mode (merge-on-read) tables keep the report: delete a row via
    // deletion vectors, the scan still sizes from kept file bytes.
    spark.sql("CALL graft_cat.system.delete_mor('statdb.dim', 'k = 4')")
    val df2 = spark.sql(
      """SELECT d.nm, sum(f.v) AS sv FROM graft_cat.statdb.fact f
        |JOIN graft_cat.statdb.dim d ON f.k = d.k GROUP BY d.nm""".stripMargin)
    val p2 = df2.queryExecution.executedPlan.toString
    assert(p2.contains("BroadcastHashJoin"), p2.take(3000))
    assert(df2.collect().length == 4)
  }

  test("ANALYZE feeds Spark's own CBO: relation stats carry exact rows, NDV, lengths") {
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.statdb")
    spark.sql("DROP TABLE IF EXISTS graft_cat.statdb.cbo_t")
    spark.sql("CREATE TABLE graft_cat.statdb.cbo_t AS " +
      "SELECT id AS k, 'g' || (id % 7) AS s FROM range(1000)")
    spark.sql("CALL graft_cat.system.analyze('statdb.cbo_t', '')").collect()
    val old = spark.conf.getOption("spark.sql.cbo.enabled")
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val st = spark.table("graft_cat.statdb.cbo_t")
        .where(org.apache.spark.sql.functions.lit(true))
        .queryExecution.optimizedPlan.stats
      // exact sidecar row count; ANALYZE NDV (exact for s's 7 values,
      // an HLL estimate for k's 1000); string byte lengths ('gN' = 2)
      assert(st.rowCount.contains(BigInt(1000)), st.rowCount)
      val attrs = st.attributeStats.map { case (a, cs) => a.name -> cs }
      assert(attrs("s").distinctCount.contains(BigInt(7)), attrs.get("s"))
      assert(attrs("s").maxLen.contains(2L) && attrs("s").avgLen.contains(2L),
        attrs.get("s"))
      val kNdv = attrs("k").distinctCount.get
      assert(kNdv > BigInt(900) && kNdv < BigInt(1100), kNdv)
      assert(attrs("k").nullCount.contains(BigInt(0)), attrs.get("k"))
    } finally old.fold(spark.conf.unset("spark.sql.cbo.enabled"))(
      spark.conf.set("spark.sql.cbo.enabled", _))
  }

  test("partitioned API read is ONE scan regardless of append count; rename-chain fallback is root-bounded and compaction restores 1") {
    import org.apache.spark.sql.functions.col
    def scanCount(df: org.apache.spark.sql.DataFrame): Int =
      "FileScan parquet".r.findAllIn(df.queryExecution.executedPlan.toString).size
    val lake = s"${operators.Lakehouse.scratch}/spec_one_scan"
    LakeTable.create(spark, lake,
      spark.range(0, 40).select(col("id"), (col("id") % 4).cast("string").as("g")),
      partitionBy = Seq("g"))
    (1 to 7).foreach { i =>
      LakeTable.append(spark, lake,
        spark.range(40L * i, 40L * i + 40).select(col("id"), (col("id") % 4).cast("string").as("g")))
    }
    // 8 file groups, ONE scan node: the plan must not grow with the
    // number of appends between compactions (the 100 TB property —
    // a 200-commit table plans like a 1-commit table).
    val df = LakeTable.read(spark, lake)
    assert(scanCount(df) == 1, df.queryExecution.executedPlan.toString.take(2000))
    assert(df.count() == 320)
    assert(df.groupBy("g").count().collect().map(_.getLong(1)).toSeq == Seq.fill(4)(80L))
    // partition pruning still lands at the (single) scan
    val prunedPlan = LakeTable.read(spark, lake).where(col("g") === "2")
      .queryExecution.executedPlan.toString
    assert(prunedPlan.contains("PartitionFilters:") && prunedPlan.contains("g"), prunedPlan)
    assert(LakeTable.read(spark, lake).where(col("g") === "2").count() == 80)
    // a rename chain forces the per-root union (mappings apply per
    // group generation) — the fallback's plan size is the ROOT count...
    LakeTable.renameColumn(spark, lake, "id", "id2")
    val renamed = LakeTable.read(spark, lake)
    assert(renamed.columns.toSeq.sorted == Seq("g", "id2"))
    assert(scanCount(renamed) == 8)
    assert(renamed.count() == 320)
    // ...and compaction migrates to the new physical names AND
    // restores scan-count 1 via the union-of-one.
    LakeTable.compact(spark, lake, 1)
    val compacted = LakeTable.read(spark, lake)
    assert(scanCount(compacted) == 1,
      compacted.queryExecution.executedPlan.toString.take(2000))
    assert(compacted.count() == 320)
    assert(compacted.columns.toSeq.sorted == Seq("g", "id2"))
  }

  test("Tables.fan: repartitions an under-split scan, identity once parallelism suffices") {
    val docs = Tables(spark, sf, "documents").select("doc_id", "text")
    // the single-file gate table scans as one partition -> fanned out
    val fanned = Tables.fan(docs)
    assert(fanned.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    // an input already at cluster parallelism is returned UNCHANGED
    // (the 100 TB case: no extra exchange of the payload)
    val wide = docs.repartition(spark.sparkContext.defaultParallelism + 4)
    assert(Tables.fan(wide) eq wide)
  }
}
