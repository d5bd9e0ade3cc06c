package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The runtime candidate-budget guardrail (operators/DedupGuard) that
  * keeps the EXACT near-dup family from silently launching a
  * quadratic blocking join on a pathological corpus profile. Pinned
  * here, per the round-11 ask:
  *   - a sane corpus never trips (no false routing, output identical);
  *   - a template-heavy corpus trips the COARSE estimate but passes
  *     the REFINED prefix estimate and stays uncapped (the sf1/sf5
  *     replication shape — PPJoin's leverage is measured, not assumed);
  *   - a hot-clique corpus trips both and auto-routes to the
  *     df-capped plan (default), or fails fast with the measured
  *     estimate when the caller pinned uncapped semantics;
  *   - contamination and incremental dedup run the same pre-flight on
  *     their own (containment / probe-join) candidate formulas.
  */
class DedupGuardSpec extends AnyFunSuite {
  import SharedSpark.{spark, sf}
  import spark.implicits._
  import operators.{DedupGuard, DedupOps, Curation}

  private def writeDocs(name: String, rows: Seq[(Long, String)]): String = {
    val dir = s"${operators.Lakehouse.scratch}/guard_$name"
    rows.toDF("doc_id", "text").repartition(4)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** 600 docs sharing a 32-token template plus 30 unique tokens each:
    * template shingles are corpus-hot (coarse estimate explodes) but
    * every doc's PPJoin prefix is its unique-token shingles (refined
    * estimate tiny) — the profile the prefix filter exists for.
    */
  private lazy val templateDir: String = {
    val tpl = (0 until 32).map(k => s"tpl$k").mkString(" ")
    writeDocs("template", (0L until 600L).map { id =>
      (id, tpl + " " + (0 until 30).map(k => s"u${id}x$k").mkString(" "))
    })
  }

  /** 4 base docs × 400 near-copies (one unique trailing token): every
    * clique shingle has df=400, INCLUDING the prefix region — the
    * profile where even prefix-filtered blocking is the true (huge)
    * pair universe and the engine must defend itself.
    */
  private lazy val cliqueDir: String = {
    writeDocs("clique", (0L until 1600L).map { id =>
      val base = id % 4
      val body = (0 until 50).map(k => s"b${base}w$k").mkString(" ")
      (id, s"$body uniq$id")
    })
  }

  test("sane corpus: no false trip, output identical to the unguarded plan") {
    val guarded = DedupOps.ngramPairs(spark, sf, 0.8).collect().toSet
    val d = DedupGuard.decision("ngramPairs").get
    assert(d.uncapped, d)
    assert(d.coarse <= d.budget, s"sane corpus must pass coarse: $d")
    spark.conf.set(DedupGuard.ModeKey, "off")
    try {
      val raw = DedupOps.ngramPairs(spark, sf, 0.8).collect().toSet
      assert(guarded == raw, "guardrail must not change a sane corpus's answer")
    } finally spark.conf.unset(DedupGuard.ModeKey)
  }

  test("template corpus: coarse trips, refined prefix estimate keeps it uncapped") {
    val out = DedupOps.ngramPairs(spark, templateDir, 0.8)
    out.count() // force the plan (pre-flight already ran at build time)
    val d = DedupGuard.decision("ngramPairs").get
    assert(d.coarse > d.budget, s"template corpus must trip coarse: $d")
    assert(d.refined.exists(_ <= d.budget), s"refined must clear it: $d")
    assert(d.uncapped, d)
  }

  test("estimate-driven dispatch picks the plan structurally") {
    // affordable coarse stream → DIRECT join (no per-doc ranking
    // Window anywhere in the plan)
    val sane = DedupOps.ngramPairs(spark, sf, 0.8)
      .queryExecution.executedPlan.toString
    assert(!sane.contains("Window"), "sane corpus must run the direct plan")
    // coarse trips but prefixes have measured leverage → PREFIX plan
    // (the per-doc rank Window is its signature)
    val hot = DedupOps.ngramPairs(spark, templateDir, 0.8)
      .queryExecution.executedPlan.toString
    assert(hot.contains("Window"), "template corpus must run the prefix plan")
  }

  test("hot-clique corpus: trips both estimates and routes to the df-capped plan") {
    val routed = DedupOps.ngramPairs(spark, cliqueDir, 0.8)
    val d = DedupGuard.decision("ngramPairs").get
    assert(d.coarse > d.budget && d.refined.exists(_ > d.budget), d)
    assert(!d.uncapped, d)
    // the routed answer IS the df-capped plan's answer
    val capped = DedupOps.ngramPairsCapped(spark, cliqueDir, 0.8,
      DedupGuard.dfCap(spark)).collect().toSet
    assert(routed.collect().toSet == capped)
  }

  test("fail mode: refuses with the measured estimate instead of routing") {
    spark.conf.set(DedupGuard.ModeKey, "fail")
    try {
      val e = intercept[DedupGuard.CandidateBudgetExceeded] {
        DedupOps.ngramPairs(spark, cliqueDir, 0.8)
      }
      assert(e.getMessage.contains(e.d.refined.get.toString), e.getMessage)
      assert(e.getMessage.contains("budget"), e.getMessage)
    } finally spark.conf.unset(DedupGuard.ModeKey)
  }

  /** 250 copies of one 50-word body, each with a unique trailing
    * token: every pair is a true near-dup (J = 48/50), and both
    * estimates trip (coarse 48·C(250,2), refined 9·C(250,2), against
    * a budget of 16 × 12 250 rows) — yet small enough to run uncapped.
    */
  private lazy val smallCliqueDir: String = {
    val body = (0 until 50).map(k => s"cw$k").mkString(" ")
    writeDocs("clique_small", (0L until 250L).map(id => (id, s"$body uniq$id")))
  }

  test("guardrail = false is per call: a concurrent guarded call still fails") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    spark.conf.set(DedupGuard.ModeKey, "fail")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val start = new java.util.concurrent.CountDownLatch(1)
      val uncapped = Future {
        start.await()
        (1 to 3).map(_ => DedupOps.ngramPairs(spark, smallCliqueDir, 0.8, guardrail = false)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet)
      }
      val guarded = Future {
        start.await()
        (1 to 20).map { _ =>
          try { DedupOps.ngramPairs(spark, smallCliqueDir, 0.8); false }
          catch { case _: DedupGuard.CandidateBudgetExceeded => true }
        }
      }
      start.countDown()
      val want = (for (a <- 0L until 250L; b <- a + 1 until 250L) yield (a, b, 0.96)).toSet
      Await.result(uncapped, 10.minutes).foreach(got => assert(got == want))
      assert(Await.result(guarded, 10.minutes).forall(identity),
        "a guarded call ran uncapped while another call had its guardrail off")
    } finally {
      pool.shutdownNow()
      spark.conf.unset(DedupGuard.ModeKey)
    }
  }

  test("contamination: pre-flights its containment candidate stream") {
    // sane corpus: no trip
    Registry.byName("q_contamination").run(spark, sf).count()
    assert(DedupGuard.decision("contamination").get.uncapped)
    // hot-clique corpus: Σ df_eval·df_train explodes → routes; the
    // routed (informative-shingle) answer still computes
    val routed = Registry.byName("q_contamination").run(spark, cliqueDir)
    val d = DedupGuard.decision("contamination").get
    assert(!d.uncapped && d.coarse > d.budget, d)
    routed.count() // completes fast on the capped universe
  }

  test("estimate cache: memoizes per corpus fingerprint, invalidates on rewrite") {
    // fingerprint is stable while the files are untouched
    val fp1 = DedupGuard.fingerprint(spark, s"$templateDir/documents.parquet")
    val fp2 = DedupGuard.fingerprint(spark, s"$templateDir/documents.parquet")
    assert(fp1 == fp2)
    // memoization: compute runs once per key
    var computes = 0
    def probe(): (Long, Long) =
      DedupGuard.cachedEstimate(s"$fp1|spec-probe") { computes += 1; (7L, 3L) }
    assert(probe() == ((7L, 3L)) && probe() == ((7L, 3L)) && computes == 1)
    // a rewrite (new part files) changes the fingerprint, so a stale
    // estimate can never admit a plan for a corpus that changed
    val dir = writeDocs("cachebust", (0L until 10L).map(id => (id, s"a b c d$id")))
    val before = DedupGuard.fingerprint(spark, s"$dir/documents.parquet")
    Seq((99L, "x y z w")).toDF("doc_id", "text")
      .write.mode("append").parquet(s"$dir/documents.parquet")
    assert(DedupGuard.fingerprint(spark, s"$dir/documents.parquet") != before)
  }

  test("estimate cache: repeated verbs on one corpus reuse the pre-flight") {
    // Two runs over the same corpus: identical decisions (the cached
    // estimates feed admitUncapped live), same output — the
    // pairs → clusters pipeline shape this cache exists for.
    DedupOps.ngramPairs(spark, templateDir, 0.8).count()
    val d1 = DedupGuard.decision("ngramPairs").get
    DedupOps.ngramPairs(spark, templateDir, 0.8).count()
    val d2 = DedupGuard.decision("ngramPairs").get
    assert(d1.coarse == d2.coarse && d1.refined == d2.refined &&
      d1.uncapped && d2.uncapped)
  }

  test("incremental dedup: pre-flights the probe join's candidate stream") {
    // sane corpus: no trip, gate answer unchanged
    Curation.stageIncrementalIndex(spark, sf)
    Curation.incrementalDedup(spark, sf).count()
    assert(DedupGuard.decision("incrementalDedup").get.uncapped)
    // hot-clique corpus: Σ df_batch·df_index explodes → routes, and
    // the capped probe recomputes BOTH size tables over the
    // informative universe (carried full-set sizes would deflate
    // jaccard silently)
    Curation.stageIncrementalIndex(spark, cliqueDir)
    val routed = Curation.incrementalDedup(spark, cliqueDir)
    val d = DedupGuard.decision("incrementalDedup").get
    assert(!d.uncapped && d.coarse > d.budget, d)
    routed.count()
    // restore the gate corpus's staged index for later suites
    Curation.stageIncrementalIndex(spark, sf)
  }
}
