package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Runtime candidate-budget guardrail for the EXACT near-dup family
  * (q_dedup_ngram / q_contamination / q_dedup_incremental).
  *
  * The failure mode it exists for: the exact verbs' blocking join is
  * driven by shingle document frequencies — on a sane corpus the
  * candidate stream is a small multiple of the indexed rows, but on a
  * boilerplate-heavy profile hot shingles square (Σ C(df,2) ∝ df²) and
  * the uncapped verb becomes a silent multi-hour mistake at 100 TB.
  * The df table the plans already build holds the answer BEFORE the
  * join runs: Σ df·(df−1)/2 is a one-aggregate pre-flight estimate of
  * the candidate stream. Measured on the scale corpora (local[16]):
  *
  *   corpus    Σ C(df,2)   shingle rows   ratio   prefix-refined ratio
  *   sf0.01       14.0k          27k       0.5×        0.01×
  *   sf0.1         1.27M        275k       4.6×        0.44×
  *   sf1         106M           2.75M     ~38×         4.0×
  *   sf5           1.35G       13.75M     ~98×         6.5×
  *
  * So the budget is SCALE-FREE: `budgetFactor` × indexed shingle rows
  * (default 16 — an order above the sane-corpus band, an order below
  * the pathological one). The pre-flight ESCALATES: the coarse
  * estimate over the full df table is an upper bound for the PPJoin
  * plan (whose candidates come from prefixes only), so when coarse
  * trips in the prefix regime a refined Σ C(df_prefix,2) over the
  * prefix rows decides — the replication-artifact corpora (sf1/sf5)
  * trip coarse but pass refined and correctly stay uncapped (their
  * candidate universe is the true pair set, the cost of exactness),
  * while template/boilerplate profiles trip both and route.
  *
  * Modes (`spark.graft.dedup.guardrail`):
  *   route (default) — auto-route to the df-capped plan (the
  *                     production stop-shingle defense, D28) and log;
  *   fail            — refuse with the measured estimate (for callers
  *                     that pinned uncapped semantics);
  *   off             — no pre-flight (benchmark the raw plan).
  */
object DedupGuard {
  val ModeKey = "spark.graft.dedup.guardrail"
  val FactorKey = "spark.graft.dedup.budgetFactor"
  val DfCapKey = "spark.graft.dedup.dfCap"

  /** What the pre-flight measured and decided, per verb — the audit
    * record a pipeline operator reads after a route/fail.
    */
  final case class Decision(verb: String, mode: String, coarse: Long,
      refined: Option[Long], rows: Long, budget: Long, uncapped: Boolean)

  private val decisions =
    new java.util.concurrent.ConcurrentHashMap[String, Decision]()

  def decision(verb: String): Option[Decision] = Option(decisions.get(verb))

  final class CandidateBudgetExceeded(val d: Decision)
    extends RuntimeException(
      s"${d.verb}: estimated candidate stream ${d.refined.getOrElse(d.coarse)} pairs " +
        s"exceeds budget ${d.budget} ($FactorKey × ${d.rows} indexed rows); " +
        s"the corpus profile is pathological for the uncapped exact plan — " +
        s"run the df-capped variant, raise $FactorKey, or set $ModeKey=off")

  def mode(s: SparkSession): String = s.conf.get(ModeKey, "route")

  def budgetFactor(s: SparkSession): Long = s.conf.get(FactorKey, "16").toLong
  def dfCap(s: SparkSession): Int = s.conf.get(DfCapKey, "50").toInt

  // ---- pre-flight estimate cache ------------------------------------
  //
  // The estimates are CORPUS properties (Σ C(df,2) over its shingle
  // df table), not conf properties — so a pipeline that runs several
  // dedup verbs over the same immutable corpus in one session
  // (pairs → clusters → survivors is the normal shape) should pay the
  // df aggregate once, not once per verb. Cache key = the corpus
  // file-listing fingerprint (names+sizes+mtimes — parquet writers
  // never mutate files in place, so any rewrite changes it) plus the
  // estimate variant; mode/budgetFactor stay OUT of the key because
  // admitUncapped applies them live on the cached numbers.

  private val estimates =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()

  /** Fingerprint of a table directory (or single file): fold of every
    * file's (path, length, mtime). One FS LIST — the same call every
    * scan's planning already makes.
    */
  def fingerprint(s: SparkSession, path: String): String = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    var acc = 1469598103934665603L // FNV-1a offset basis
    def mix(x: Long): Unit = { acc ^= x; acc *= 1099511628211L }
    def walk(st: org.apache.hadoop.fs.FileStatus): Unit =
      if (st.isDirectory) fs.listStatus(st.getPath).sortBy(_.getPath.getName)
        .foreach(walk)
      else {
        mix(st.getPath.getName.hashCode.toLong)
        mix(st.getLen); mix(st.getModificationTime)
      }
    walk(fs.getFileStatus(p))
    s"$path@${java.lang.Long.toHexString(acc)}"
  }

  /** Memoized (estimate, rows) pair under `key`; `compute` runs at
    * most once per key while the cache holds it. Bounded: a full
    * clear past 512 keys (corpus fingerprints are few and the
    * aggregates are re-computable — simplicity over an LRU).
    */
  def cachedEstimate(key: String)(compute: => (Long, Long)): (Long, Long) = {
    if (estimates.size > 512) estimates.clear()
    estimates.computeIfAbsent(key, _ => compute)
  }

  /** (Σ df·(df−1)/2, Σ df) over a df-column table. The product and
    * its sum run in DECIMAL(38,0) and clamp to Long.MaxValue: at the
    * 100 TB profiles this guard exists for, a BIGINT Σ df² can wrap
    * negative (ANSI off) and silently ADMIT the quadratic plan —
    * the one failure mode the pre-flight must never have.
    */
  def pairEstimate(dfs: DataFrame, dfCol: String = "df"): (Long, Long) = {
    val d = col(dfCol).cast("decimal(38,0)")
    val r = dfs.agg(sum(d * (d - lit(1L))), sum(d)).head()
    def clamped(i: Int): Long =
      if (r.isNullAt(i)) 0L
      else r.getDecimal(i).min(java.math.BigDecimal.valueOf(Long.MaxValue))
        .longValue()
    (clamped(0) / 2L, clamped(1))
  }

  /** The pre-flight decision (returned so the caller dispatches on
    * ITS OWN decision — the per-verb map is an audit record, and two
    * concurrent sessions running the same verb on different corpora
    * must not read each other's numbers): `uncapped` ⇒ proceed;
    * otherwise the caller routes to its df-capped plan. `refined` is
    * only evaluated when the coarse estimate trips (it may cost a
    * window pass). Throws [[CandidateBudgetExceeded]] in `fail` mode.
    */
  def admitUncapped(s: SparkSession, verb: String, coarse: Long, rows: Long,
      refined: => Option[Long]): Decision = {
    val m = mode(s)
    val budget = budgetFactor(s) * math.max(rows, 1L)
    if (coarse <= budget) {
      val d = Decision(verb, m, coarse, None, rows, budget, uncapped = true)
      decisions.put(verb, d)
      return d
    }
    val r = refined
    val d = Decision(verb, m, coarse, r, rows, budget,
      uncapped = r.exists(_ <= budget))
    decisions.put(verb, d)
    if (d.uncapped) d
    else if (m == "fail") throw new CandidateBudgetExceeded(d)
    else {
      System.err.println(s"[graft-dedup-guard] $verb: candidate estimate " +
        s"${r.getOrElse(coarse)} > budget $budget (${rows} rows × ${budgetFactor(s)}) " +
        s"— routing to the df-capped plan (dfCap=${dfCap(s)})")
      d
    }
  }
}
