package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.functions.Vectors

/** D-block dedup for LLM training-data pipelines.
  *
  * Scale contract (the part that matters at 100 TB): document TEXT is
  * hashed in place at the scan and never shuffled — only fixed-width
  * keys move. MinHash shuffles (doc_id, 8B band key, 16×8B
  * signature); SimHash shuffles (doc_id, 2B band, 8B hash). The
  * candidate self-join is per-(band,key) bucket, so its cost tracks
  * the number of true near-dup collisions, not |corpus|².
  *
  * Plan-shape rules learned from profiling (sf0.1 measurements):
  * token arrays are materialized at a projection boundary and lambdas
  * reference the ATTRIBUTE (otherwise `split` re-executes per lambda
  * element), and band keys are computed per exploded row with a
  * single hash call (a `posexplode(transform(...))` generator shape
  * measured 20× slower than explode-then-hash).
  */
object DedupOps {

  private def t(s: SparkSession, d: String, n: String) = Tables(s, d, n)

  /** documents with the token array materialized once. Fanned BEFORE
    * the split (Tables.fan): the shuffle moves raw text once so the
    * tokenize + shingle-hash work downstream runs cluster-wide instead
    * of on the single-row-group scan task.
    */
  def tokenized(s: SparkSession, d: String, fan: Boolean = true): DataFrame = {
    val base = t(s, d, "documents").select("doc_id", "text")
    (if (fan) Tables.fan(base) else base)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
  }

  /** Distinct 3-gram word-shingle hashes from a MATERIALIZED token
    * array column (must be an attribute, not an expression — the
    * lambda references it three times per shingle). The coalesce makes
    * the result NON-NULLABLE: downstream explodes/joins otherwise
    * infer isnotnull(sh), and constraint pushdown inlines this whole
    * tree into a pre-projection scan FILTER that re-executes it per
    * row (the q_dedup_simhash pathology — measured 3.3 s → 0.45 s for
    * one 500-doc shingle pass when the constraint dies here).
    */
  def shingleHashes(ws: Column): Column =
    coalesce(
      when(size(ws) >= 3,
        array_distinct(transform(sequence(lit(0), size(ws) - 3),
          i => xxhash64(element_at(ws, i + 1), element_at(ws, i + 2), element_at(ws, i + 3)))))
        .otherwise(array(xxhash64(concat_ws(" ", ws)))),
      array().cast("array<bigint>"))

  /** Exploded (doc_id, shingle-hash) inverted index — distinct 3-gram
    * hashes per doc, one row each. Only 16 bytes/row ever shuffles.
    */
  def shingleTable(s: SparkSession, d: String, fan: Boolean = true): DataFrame =
    tokenized(s, d, fan).select(col("doc_id"), explode(shingleHashes(col("ws"))).as("h"))

  /** EXACT shingle-Jaccard near-dup pairs at `threshold`, via PREFIX
    * FILTERING (the PPJoin family): under one global shingle order
    * (ascending document frequency, hash tiebreak), J(A,B) ≥ t implies
    * |A∩B| ≥ ⌈t·max(|A|,|B|)⌉, so the (|X| − ⌈t·|X|⌉ + 1)-prefixes of
    * A and B must share a shingle — candidates come from self-joining
    * only each doc's ~(1−t)·|X|+1 RAREST shingles, then exact Jaccard
    * verifies the candidates over the full shingle sets. Output is
    * identical to the naive inverted-index self-join, but the blocking
    * cost is driven by rare shingles instead of Σ df(h)²: the naive
    * join goes super-linear the moment a corpus grows hot shingles
    * (measured 18.7× wall on 10× data at sf1; prefix-filtered rejoins
    * the ~linear pack). Shuffles still carry ONLY (doc_id, 8B hash)
    * rows and (pair, count) partials — no shingle arrays, no text.
    * The per-doc prefix ranking is a window PARTITIONED BY doc_id:
    * group size is bounded by the document's own length, independent
    * of corpus size — the safe kind of window at 100 TB.
    *
    * REGIME DISPATCH: prefix filtering's leverage is the (1−t) prefix
    * fraction, so it collapses at low thresholds (t = 0.35 ⇒ 65% of
    * every doc indexed, candidates ≈ everything, then a verification
    * pass the direct join never needed — measured 7× SLOWER at sf1).
    * Below t = 0.5 the direct inverted-index join (inter counted
    * straight off the h-collisions, no re-join) is the better exact
    * plan; at-or-above, PPJoin wins and keeps winning as hot shingles
    * appear.
    */
  /** Decide whether a multi-branch pair plan should MATERIALIZE the
    * shingle table once (localCheckpoint) instead of re-executing the
    * tokenize + shingle-hash tree per branch (direct plan: 3 branches;
    * prefix plan: 5). Recompute wins while the corpus is small (the
    * checkpoint write costs more than two cheap re-scans — measured at
    * sf0.1 in round 12); materialization wins once the per-branch
    * tokenize pass dominates. Interleaved A/B (round 13): at sf0.1
    * (0.6 MB of documents) recompute ahead by ~0.5 s over the 4 pair
    * rows; at sf1 (6.7 MB) materialization ahead by +15.7 s
    * (q_dedup_ngram +6.8, q_dedup_pipeline_bounds +6.0,
    * q_dedup_clusters +3.1). So the checkpoint switches on at
    * [[ShingleCheckpointMinBytes]] of documents source — 2 MB, the
    * geometric midpoint of the measured inversion.
    * The checkpointed rows are (doc_id, 8B hash) — MEMORY_AND_DISK,
    * spilling to executor disk, never the driver.
    */
  private def sharedShingles(s: SparkSession, d: String): Option[DataFrame] = {
    val share = Tables.pathBytes(s, s"$d/documents.parquet") >= ShingleCheckpointMinBytes
    // fan=true: the single materialization pass is exactly the heavy
    // single-pass map the fan exists for; branches then read the
    // checkpointed RDD, so the round-12 "fan multiplies with prefix
    // branches" objection no longer applies.
    if (share) Some(shingleTable(s, d).localCheckpoint(true)) else None
  }

  private val ShingleCheckpointMinBytes = 2L << 20

  /** `guardrail = false` skips the pre-flight for this call only — for
    * ORACLE DEVICES, exact pair sets a companion row compares against
    * an uncapped DuckDB mirror, which must stay the uncapped exact plan
    * even on a profile the guardrail would route. A parameter, not a
    * session setting, so a concurrent call keeps its own guardrail.
    */
  def ngramPairs(s: SparkSession, d: String, threshold: Double,
      guardrail: Boolean = true): DataFrame = {
    if (!guardrail || DedupGuard.mode(s) == "off")
      // No estimates to dispatch on: classic threshold regime — the
      // prefix filter only has leverage where (1−t) is small. Measured
      // at sf1 (clean JVMs): t=0.5 direct 22.1 s vs prefix 86.3 s;
      // t=0.8 direct 12.1 s vs prefix 13.9 s on the replication
      // corpus, while template-hot corpora invert that hard — 0.7 is
      // the conservative boundary for a profile-blind choice.
      return if (threshold >= 0.7) ngramPairsPrefix(s, d, threshold, sharedShingles(s, d))
      else ngramPairsDirect(s, d, threshold, sharedShingles(s, d))
    // ESTIMATE-DRIVEN dispatch (see DedupGuard): the coarse Σ C(df,2)
    // IS the direct plan's candidate stream, and the refined
    // Σ C(df_prefix,2) is the prefix plan's — so the pre-flight the
    // guardrail already pays doubles as the plan chooser:
    //   coarse ≤ budget  → DIRECT (affordable by definition, and it
    //                      skips the window pass + re-join the prefix
    //                      plan pays — measured faster everywhere the
    //                      stream is affordable);
    //   coarse > budget  → refined decides: ≤ budget → PREFIX (its
    //                      leverage is measured, not assumed — the
    //                      template/sf1 profiles), else route/fail.
    val shShared = sharedShingles(s, d)
    val sh = shShared.getOrElse(shingleTable(s, d))
    // Estimates memoized per corpus fingerprint (one FS LIST): the
    // normal pipeline shape — pairs, then clusters, then survivors
    // over the SAME corpus in one session — pays the df aggregate
    // once, not once per verb (the cluster row was absorbing a full
    // repeat of the shingle scan + aggregate).
    val fp = DedupGuard.fingerprint(s, s"$d/documents.parquet")
    val (coarse, rows) = DedupGuard.cachedEstimate(s"$fp|coarse") {
      DedupGuard.pairEstimate(sh.groupBy("h").agg(count(lit(1)).as("df")))
    }
    val dec = DedupGuard.admitUncapped(s, "ngramPairs", coarse, rows,
      refined =
        if (threshold < 0.5) None // prefixes can't cover below 0.5 usefully
        else Some(DedupGuard.cachedEstimate(s"$fp|prefix|$threshold") {
          (DedupGuard.pairEstimate(
            prefixRows(sh, threshold).groupBy("h").agg(count(lit(1)).as("df")))._1, 0L)
        }._1))
    if (!dec.uncapped) ngramPairsCapped(s, d, threshold, DedupGuard.dfCap(s), shShared)
    else if (dec.coarse <= dec.budget) ngramPairsDirect(s, d, threshold, shShared)
    else ngramPairsPrefix(s, d, threshold, shShared)
  }

  /** Direct inverted-index self-join: inter = count of h-collisions
    * per pair. Cost is Σ C(df(h), 2) — fine while no shingle is hot
    * (the low-threshold regime's best exact plan), quadratic the
    * moment one is; the high-threshold path and D28's df-cap are the
    * defenses.
    */
  private def ngramPairsDirect(s: SparkSession, d: String, threshold: Double,
      sh0: Option[DataFrame] = None): DataFrame = {
    val sh = sh0.getOrElse(shingleTable(s, d))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    sh.select(col("doc_id").as("doc_a"), col("h"))
      .join(sh.select(col("doc_id").as("doc_b"), col("h")), "h")
      .where(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), "doc_b")
      .withColumn("jaccard", round(
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")) + lit(1e-9), 4))
      .where(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** The per-doc PPJoin prefix rows at `threshold`: each doc's
    * (1−t)·|d|+1 RAREST shingles under the global (df, h) order, with
    * their per-doc rank and the doc's shingle count. Shared between
    * the plan and the guardrail's refined pre-flight estimate so the
    * two cannot drift. Prefix length uses t − 1e-4: the final filter
    * rounds jaccard to 4 decimals (+1e-9 nudge), so a pair at
    * J = t − 5e-5 can still pass it — the relaxed prefix keeps those
    * pairs candidate-covered.
    */
  private def prefixRows(sh: DataFrame, threshold: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val tRelaxed = threshold - 1e-4
    val dfs = sh.groupBy("h").agg(count(lit(1)).as("df"))
    sh.join(dfs, "h")
      .withColumn("rn",
        row_number().over(Window.partitionBy("doc_id").orderBy("df", "h")))
      .join(sizes, "doc_id")
      .where(col("rn") <= col("sz") - ceil(lit(tRelaxed) * col("sz")) + 1)
      .select("doc_id", "h", "rn", "sz")
  }

  private def ngramPairsPrefix(s: SparkSession, d: String, threshold: Double,
      sh0: Option[DataFrame] = None): DataFrame = {
    // NOTE a size(sh)+explode(sh) double reference looks cheaper (no
    // size aggregate, no pair size joins) but re-inlines the shingle
    // tree per ROW at the reference site — measured 3.3 s → 10.2 s at
    // sf0.1. The explode-then-count shape below executes the tree once
    // per scan and keeps every shuffle row scalar.
    // fan=false: this plan re-executes the shingle tree in FOUR
    // branches (df ranking, sizes, both verify sides) — the fan's
    // extra exchange multiplies with the branches and measured 1.1 s
    // SLOWER at sf0.1 in the interleaved A/B, while the single-pass
    // direct plan keeps the fan win.
    val sh = sh0.getOrElse(shingleTable(s, d, fan = false))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val tRelaxed = threshold - 1e-4
    val prefix = prefixRows(sh, threshold)
    // POSITIONAL filter (PPJoin): per pair, the globally-smallest
    // shared prefix element (min rn on both sides — prefixes are
    // downward-closed in the global order, so the min-rn_a element IS
    // the min-rn_b element and nothing common precedes it) bounds the
    // overlap at 1 + min(sz_a − ia, sz_b − jb); J ≥ t needs overlap
    // ≥ t/(1+t)·(sz_a+sz_b). Template shingles (mid-df, corpus-wide)
    // sort LAST inside prefixes, so template-only matches bound low
    // and die here — measured 8.7M → 0.9M candidates at sf1.
    val a = prefix.select(col("doc_id").as("doc_a"), col("h"),
      col("rn").as("rn_a"), col("sz").as("sz_a"))
    val b = prefix.select(col("doc_id").as("doc_b"), col("h"),
      col("rn").as("rn_b"), col("sz").as("sz_b"))
    val cand = a.join(b, "h").where(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(min("rn_a").as("ia"), min("rn_b").as("jb"),
        first("sz_a").as("sz_a"), first("sz_b").as("sz_b"))
      .where(lit(1) + least(col("sz_a") - col("ia"), col("sz_b") - col("jb"))
        >= ceil(lit(tRelaxed / (1 + tRelaxed)) * (col("sz_a") + col("sz_b"))))
      .select("doc_a", "doc_b")
    // exact verification: |A∩B| over the FULL shingle sets, but only
    // for candidate pairs — the (doc_b, h) equi-join emits exactly the
    // intersection rows, never an A×B block per pair
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("h")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("h")), Seq("doc_b", "h"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), "doc_b")
      // +1e-9 inside round: exact rationals on the .xxxx5 boundary
      // round differently between engines (same pattern as elsewhere).
      .withColumn("jaccard", round(
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")) + lit(1e-9), 4))
      .where(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** Shared DuckDB CTE prefix mirroring shingleTable/ngramPairs on
    * string shingles (hash-free; collisionless xxhash64 ⇒ identical
    * set arithmetic).
    */
  private[operators] val ngramPairsSql: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |sh AS (
      |  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
      |  FROM w, UNNEST(range(1, len(ws)-1)) t(i) WHERE len(ws) >= 3
      |  UNION
      |  SELECT doc_id, array_to_string(ws, ' ') FROM w WHERE len(ws) < 3),
      |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
      |it AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      |       FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
      |       GROUP BY 1, 2),
      |pairs AS (
      |  SELECT doc_a, doc_b,
      |    round(inter::DOUBLE / (sza.sz + szb.sz - inter) + 0.000000001, 4) AS jaccard
      |  FROM it JOIN sz sza ON it.doc_a = sza.doc_id
      |          JOIN sz szb ON it.doc_b = szb.doc_id
      |  WHERE round(inter::DOUBLE / (sza.sz + szb.sz - inter) + 0.000000001, 4) >= 0.8)
      |""".stripMargin

  /** [[ngramPairs]] with the DF-CAP PREFILTER — the standard
    * stop-shingle defense at 100 TB: a shingle appearing in more than
    * `dfCap` documents contributes ~df² candidate-pair rows to the
    * blocking self-join (one hot boilerplate shingle in 10⁶ docs is a
    * 10¹²-row key), while carrying almost no identity signal. The cap
    * drops those keys BEFORE the join, so the join cost tracks
    * informative collisions; Jaccard is then exact over the capped
    * (informative) shingle universe — mirrored in the oracle.
    */
  def ngramPairsCapped(s: SparkSession, d: String, threshold: Double, dfCap: Int,
      shSrc: Option[DataFrame] = None): DataFrame = {
    val sh0 = shSrc.getOrElse(shingleTable(s, d))
    val informative = sh0.groupBy("h").agg(count(lit(1)).as("df"))
      .where(col("df") <= dfCap).select("h")
    val sh = sh0.join(informative, "h")
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    sh.select(col("doc_id").as("doc_a"), col("h"))
      .join(sh.select(col("doc_id").as("doc_b"), col("h")), "h")
      .where(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), "doc_b")
      .withColumn("jaccard", round(
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")) + lit(1e-9), 4))
      .where(col("jaccard") >= threshold)
      .select("doc_a", "doc_b", "jaccard")
  }

  /** doc_id + 16-long MinHash signature per doc (native expression). */
  def minhashSignatures(s: SparkSession, d: String, fan: Boolean = true): DataFrame =
    tokenized(s, d, fan)
      .select(col("doc_id"), Vectors.minhash(shingleHashes(col("ws")), 16).as("sig"))

  /** LSH candidate pairs: 4 bands × 4 rows; docs agreeing on any band
    * become a candidate pair (da < db), carrying both signatures.
    */
  def minhashCandidates(s: SparkSession, d: String, fan: Boolean = true): DataFrame = {
    val bands = minhashSignatures(s, d, fan)
      .select(col("doc_id"), col("sig"), explode(sequence(lit(0), lit(3))).as("band"))
      .select(col("doc_id"), col("sig"), col("band"),
        xxhash64(col("band"),
          element_at(col("sig"), col("band") * 4 + 1), element_at(col("sig"), col("band") * 4 + 2),
          element_at(col("sig"), col("band") * 4 + 3), element_at(col("sig"), col("band") * 4 + 4))
          .as("bkey"))
    val a = bands.select(col("band"), col("bkey"),
      col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val b = bands.select(col("band"), col("bkey"),
      col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    a.join(b, Seq("band", "bkey")).where(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b", "sig_a", "sig_b").distinct()
  }

  val qs: Seq[Q] = Seq(

    // D14: the composed production pipeline — exact dedup (content
    // hash, keep smallest id), then MinHash-LSH near-dedup with EXACT
    // VERIFICATION of every candidate (LSH proposes, shingle-Jaccard
    // ≥ 0.5 confirms — at 10× data the 16-perm estimate alone has a
    // ~10% false-positive rate at the boundary, measured by the sf1
    // gate via the bounds companion; verified drops are also what a
    // production pipeline does before deleting data). Greedy
    // keep-lowest-id (drop doc_b of every verified pair), then corpus
    // stats. Verification joins the shingle index ONLY for candidate
    // pairs — cost ∝ candidates, never corpus².
    Q("q_dedup_pipeline",
      (s, d) => {
        val docs = t(s, d, "documents")
        // 128-bit identity (two seeded xxhash64 halves) — see
        // q_dedup_exact for the collision math at 10⁹⁺ docs.
        val exactSurvivors = docs
          .groupBy(xxhash64(col("text")).as("h1"),
            xxhash64(lit("graft-h2"), col("text")).as("h2"))
          .agg(min("doc_id").as("doc_id"))
          .select("doc_id")
        // fan=false through this pipeline: its fanned subtrees execute
        // several times (candidates + verify + sizes) and the added
        // exchanges measured NET-NEGATIVE in the interleaved A/B
        // (-0.50 s at sf0.1), unlike the single-pass ngram family
        val cand = minhashCandidates(s, d, fan = false)
          .withColumn("est", aggregate(zip_with(col("sig_a"), col("sig_b"),
            (x, y) => when(x === y, 1).otherwise(0)), lit(0), (acc, v) => acc + v) / 16.0)
          .where(col("est") >= 0.5)
          .select("doc_a", "doc_b")
        // explode-then-count shape, NOT size+explode-with-carried-sz:
        // carrying size(sha) beside explode(sha) re-inlines the
        // shingle tree per row at the generator seam (measured here:
        // 1.9 s → 4.2 s at sf0.1 — the same trap the ngramPairsPrefix
        // note records), while the two extra size-table scans are
        // cheap column-pruned passes.
        val sh = shingleTable(s, d, fan = false)
        val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
        val nearDupLosers = cand
          .join(sh.select(col("doc_id").as("doc_a"), col("h")), "doc_a")
          .join(sh.select(col("doc_id").as("doc_b"), col("h")), Seq("doc_b", "h"))
          .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
          .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), "doc_a")
          .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), "doc_b")
          .where(round(col("inter").cast("double") /
            (col("sz_a") + col("sz_b") - col("inter")) + lit(1e-9), 4) >= 0.5)
          .select(col("doc_b").as("doc_id")).distinct()
        exactSurvivors
          .join(nearDupLosers, Seq("doc_id"), "left_anti")
          .join(docs, Seq("doc_id"))
          .agg(count(lit(1)).as("survivors"), sum("n_chars").as("total_chars"))
      },
      None),

    // D02: MinHash + LSH banding; est_jaccard = matching signature
    // fraction. Threshold 0.5 keeps the scramble-generated near-dups.
    Q("q_dedup_minhash",
      (s, d) => minhashCandidates(s, d)
        .withColumn("est_jaccard", round(
          aggregate(zip_with(col("sig_a"), col("sig_b"),
            (x, y) => when(x === y, 1).otherwise(0)), lit(0), (acc, v) => acc + v) / 16.0, 4))
        .where(col("est_jaccard") >= 0.5)
        .select("doc_a", "doc_b", "est_jaccard")
        .orderBy("doc_a", "doc_b"),
      None),

    // D03: 64-bit SimHash over the 2-gram bag (unigram bags collide
    // for same-vocab corpora — any two docs drawn from a small
    // vocabulary share token frequencies; bigrams keep order
    // sensitivity), 4×16-bit band LSH, hamming-verified ≤3 (measured
    // bimodal split: true near-dups 0–3, noise from ~25 up).
    Q("q_dedup_simhash",
      (s, d) => {
        // coalesce makes `sh` non-nullable: otherwise the join below
        // infers isnotnull(bval), and constraint pushdown inlines the
        // WHOLE simhash tree (split re-expanded inside the lambda)
        // into a pre-projection Filter — measured 6× slowdown.
        val docs = tokenized(s, d)
          .select(col("doc_id"),
            coalesce(Vectors.simhash(when(size(col("ws")) >= 2,
              expr("transform(sequence(0, size(ws)-2), i -> xxhash64(ws[i], ws[i+1]))"))
              .otherwise(array(xxhash64(concat_ws(" ", col("ws")))))), lit(0L)).as("sh"))
        val bands = docs
          .select(col("doc_id"), col("sh"), explode(sequence(lit(0), lit(3))).as("band"))
          .withColumn("bval",
            call_function("shiftright", col("sh"), lit(16) * col("band"))
              .bitwiseAND(lit(0xFFFFL)))
        val a = bands.select(col("band"), col("bval"), col("doc_id").as("doc_a"), col("sh").as("sh_a"))
        val b = bands.select(col("band"), col("bval"), col("doc_id").as("doc_b"), col("sh").as("sh_b"))
        a.join(b, Seq("band", "bval")).where(col("doc_a") < col("doc_b"))
          .select(col("doc_a"), col("doc_b"),
            bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long").as("hamming"))
          .distinct()
          .where(col("hamming") <= 3)
          .orderBy("doc_a", "doc_b")
      },
      None),

    // D04: EXACT n-gram Jaccard dedup — the verify-quality answer the
    // two-phase (LSH → verify) pipeline approximates, computed with
    // exact inverted-index blocking (see ngramPairs). Oracle-gated:
    // DuckDB reproduces the same set arithmetic on string shingles.
    Q("q_dedup_ngram",
      (s, d) => ngramPairs(s, d, 0.8).orderBy("doc_a", "doc_b"),
      Some(ngramPairsSql +
        "SELECT doc_a, doc_b, jaccard FROM pairs ORDER BY doc_a, doc_b")),

    // D28: the df-capped variant — blocking drops stop-shingles
    // (df > 50) before the self-join so hot boilerplate keys never
    // produce their ~df² candidate rows; Jaccard is exact over the
    // informative-shingle universe, cap mirrored in the oracle.
    Q("q_dedup_ngram_capped",
      (s, d) => ngramPairsCapped(s, d, 0.8, dfCap = 50).orderBy("doc_a", "doc_b"),
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
             |sh0 AS (
             |  SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS g
             |  FROM w, UNNEST(range(1, len(ws)-1)) t(i) WHERE len(ws) >= 3
             |  UNION
             |  SELECT doc_id, array_to_string(ws, ' ') FROM w WHERE len(ws) < 3),
             |ok AS (SELECT g FROM sh0 GROUP BY g HAVING count(*) <= 50),
             |sh AS (SELECT sh0.doc_id, sh0.g FROM sh0 JOIN ok USING(g)),
             |sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY 1),
             |it AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
             |       FROM sh a JOIN sh b ON a.g = b.g AND a.doc_id < b.doc_id
             |       GROUP BY 1, 2)
             |SELECT doc_a, doc_b,
             |  round(inter::DOUBLE / (sza.sz + szb.sz - inter) + 0.000000001, 4) AS jaccard
             |FROM it JOIN sz sza ON it.doc_a = sza.doc_id
             |        JOIN sz szb ON it.doc_b = szb.doc_id
             |WHERE round(inter::DOUBLE / (sza.sz + szb.sz - inter) + 0.000000001, 4) >= 0.8
             |ORDER BY doc_a, doc_b""".stripMargin)),

    // D25: eval-set CONTAMINATION detection — the decontamination
    // check every benchmark-respecting training pipeline runs: find
    // eval documents whose shingles are largely CONTAINED in some
    // train document (containment |E∩T|/|E|, not Jaccard — a short
    // eval doc quoted inside a long train doc must still flag).
    // Same inverted-index blocking as dedup: only 8-byte shingle
    // hashes shuffle, candidate pairs share ≥1 shingle, and the worst
    // offender per eval doc is a bounded-heap top-1 (an eval doc hit
    // by a hot shingle can have MANY candidate train docs — a
    // per-eval window would sort them all on one reducer; the heaps
    // ship one survivor per partition).
    Q("q_contamination",
      (s, d) => {
        val sh0 = shingleTable(s, d)
        def run(sh: DataFrame): DataFrame = {
          val ev = sh.where(col("doc_id") % 10 === 0)
            .select(col("doc_id").as("eval_id"), col("h"))
          val tr = sh.where(col("doc_id") % 10 =!= 0)
            .select(col("doc_id").as("train_id"), col("h"))
          val evSz = ev.groupBy("eval_id").agg(count(lit(1)).as("esz"))
          val scored = ev.join(tr, "h")
            .groupBy("eval_id", "train_id").agg(count(lit(1)).as("inter"))
            .join(evSz, "eval_id")
            .withColumn("containment",
              round(col("inter").cast("double") / col("esz") + lit(1e-9), 4))
            .where(col("containment") >= 0.5)
            .select("eval_id", "train_id", "containment")
          graft.plans.TopK.perGroup(scored, Seq("eval_id"), "containment", "train_id", 1)
            .select("eval_id", "train_id", "containment")
            .orderBy("eval_id")
        }
        if (DedupGuard.mode(s) == "off") run(sh0)
        else {
          // Pre-flight: the containment join's candidate stream is
          // EXACTLY Σ_h df_eval(h)·df_train(h) — one aggregate over the
          // split df table. No refined stage (no prefix leverage in a
          // containment join); route drops hot shingles on BOTH sides,
          // with esz recomputed over the informative universe.
          val parts = sh0.groupBy("h").agg(
            sum(when(col("doc_id") % 10 === 0, 1L).otherwise(0L)).as("dfe"),
            sum(when(col("doc_id") % 10 === 0, 0L).otherwise(1L)).as("dft"))
          // DECIMAL + clamp for the same overflow-soundness reason as
          // DedupGuard.pairEstimate; memoized per corpus fingerprint
          // (the routed path still re-evaluates `parts` for the
          // hot-shingle drop — only the admit scalar is cached).
          val (est, rows) = DedupGuard.cachedEstimate(
            DedupGuard.fingerprint(s, s"$d/documents.parquet") + "|contam") {
            val r = parts.agg(
              sum(col("dfe").cast("decimal(38,0)") * col("dft").cast("decimal(38,0)")),
              sum(col("dfe") + col("dft")).cast("long")).head()
            (if (r.isNullAt(0)) 0L
             else r.getDecimal(0).min(java.math.BigDecimal.valueOf(Long.MaxValue)).longValue(),
             if (r.isNullAt(1)) 0L else r.getLong(1))
          }
          if (DedupGuard.admitUncapped(s, "contamination", est, rows, None).uncapped)
            run(sh0)
          else run(sh0.join(
            parts.where(col("dfe") + col("dft") <= DedupGuard.dfCap(s)).select("h"), "h"))
        }
      },
      Some(ngramPairsSql +
        """, ev AS (SELECT doc_id AS eval_id, g FROM sh WHERE doc_id % 10 = 0),
          |tr AS (SELECT doc_id AS train_id, g FROM sh WHERE doc_id % 10 <> 0),
          |esz AS (SELECT eval_id, count(*) AS esz FROM ev GROUP BY 1),
          |ita AS (SELECT eval_id, train_id, count(*) AS inter
          |        FROM ev JOIN tr USING(g) GROUP BY 1, 2),
          |sc AS (SELECT eval_id, train_id,
          |         round(inter::DOUBLE / esz + 0.000000001, 4) AS containment
          |       FROM ita JOIN esz USING(eval_id)
          |       WHERE round(inter::DOUBLE / esz + 0.000000001, 4) >= 0.5),
          |rr AS (SELECT *, row_number() OVER (PARTITION BY eval_id
          |         ORDER BY containment DESC, train_id) AS rn FROM sc)
          |SELECT eval_id, train_id, containment FROM rr WHERE rn = 1 ORDER BY eval_id"""
          .stripMargin)),

    // D05: embedding-cosine near-dup. The synthetic embeddings have no
    // natural near-dups (max pairwise cosine ≈ 0.51), so the query
    // plants perturbed copies (vec_id+100000, ×(1+1e-3) elementwise
    // noise) and must re-find them: hyperplane-LSH bucketing (4 tables
    // × 16-bit sketches, one fused native pass) proposes candidates,
    // exact cosine ≥ 0.95 confirms. Only (vec_id, 4×8B keys) shuffle;
    // vectors join once per surviving candidate pair.
    Q("q_dedup_embedding",
      (s, d) => {
        val e = t(s, d, "embeddings")
        val planted = e.where(col("vec_id") < 20)
          .select((col("vec_id") + 100000).as("vec_id"),
            transform(col("embedding"),
              (x, i) => (x.cast("double") * (lit(1.0) + pmod(i, lit(7)) * 0.001)).cast("float"))
              .as("embedding"))
        val corpus = e.select("vec_id", "embedding").union(planted)
        val sk = corpus
          .select(col("vec_id"), col("embedding"),
            Vectors.hyperplaneSketches(col("embedding"), numTables = 4, bits = 16, dim = 64).as("sk"))
          .select(col("vec_id"), col("embedding"), col("sk"),
            explode(sequence(lit(0), lit(3))).as("tbl"))
          .withColumn("key", coalesce(element_at(col("sk"), col("tbl") + 1), lit(0L)))
          .drop("sk")
        val a = sk.select(col("tbl"), col("key"), col("vec_id").as("vec_a"), col("embedding").as("emb_a"))
        val bb = sk.select(col("tbl"), col("key"), col("vec_id").as("vec_b"), col("embedding").as("emb_b"))
        a.join(bb, Seq("tbl", "key")).where(col("vec_a") < col("vec_b"))
          .select("vec_a", "vec_b", "emb_a", "emb_b").distinct()
          .withColumn("cos", round(Vectors.cosineSim(col("emb_a"), col("emb_b")), 4))
          .where(col("cos") >= 0.95)
          .select("vec_a", "vec_b", "cos")
          .orderBy("vec_a", "vec_b")
      },
      None),

    // D32: repeated-span detection — the Lee et al. ("Deduplicating
    // Training Data Makes Language Models Better") EXACT-SUBSTRING
    // dedup signal: find ≥w-token spans that recur across documents
    // (boilerplate, licenses, templated text that document-level
    // near-dedup misses). Scale shape: tokens fingerprint to a
    // deterministic 31-bit arithmetic hash AT THE SCAN (pure map, the
    // q_corpus_mix device — engine-portable, so the oracle runs the
    // identical formula), the rolling w-token signature is a Horner
    // chain over 7 lead() calls in ONE per-doc window pass (never a
    // self-join), and only (doc_id, pos, 8-byte hash) rows ever
    // shuffle — text stays at the scan. Span groups then aggregate by
    // signature; output is the duplicated spans ranked by document
    // reach. At 100 TB the window partitions by doc_id, so the pass
    // is embarrassingly parallel across documents.
    Q("q_dedup_spans", {
      (s, d) =>
        spanSigs(s, d)
          .where(col("sig").isNotNull) // spans running off the doc end
          .groupBy("sig")
          .agg(countDistinct("doc_id").as("n_docs"), count(lit(1)).as("n_occ"))
          .where(col("n_docs") >= 2)
          .orderBy(desc("n_docs"), desc("n_occ"), col("sig"))
          .limit(50)
      },
      Some(SpanConstants.oracle)),

    // D33: span-coverage corpus filter — the REMOVAL step after D32's
    // detection (Lee et al. drop/trim documents dominated by
    // cross-document duplicated substrings). A position is covered
    // when ANY of the 8 spans containing it is a cross-doc duplicate:
    // dup-start flags come from one hash-only join of the signature
    // stream against the duplicated-signature set (8-byte keys, text
    // never moves), and coverage is a ROWS-frame window max over the 7
    // preceding starts — no per-position explosion, no self-join. Keep
    // decision is exact integer arithmetic (2·covered < tokens) so the
    // boundary cannot flip between engines.
    Q("q_dedup_span_filter", {
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val sigs = spanSigs(s, d)
        val dup = sigs.where(col("sig").isNotNull)
          .groupBy("sig").agg(countDistinct("doc_id").as("nd"))
          .where(col("nd") >= 2).select(col("sig"), lit(1).as("m"))
        val wn = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(-7, 0)
        sigs.join(dup, Seq("sig"), "left")
          .withColumn("isdup", when(col("m").isNotNull, 1L).otherwise(0L))
          .withColumn("cov", max(col("isdup")).over(wn))
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_toks"), sum("cov").as("n_cov"))
          .withColumn("keep",
            when(col("n_cov") * 2L < col("n_toks"), 1L).otherwise(0L))
          .orderBy("doc_id")
      }},
      Some(SpanConstants.oracleFilter)),
  )

  /** Shared D32/D33 signature stream: (doc_id, pos, sig) where sig is
    * the 8-token rolling span signature starting at pos (NULL within 7
    * tokens of the doc end). One per-doc window pass; only 8-byte
    * hashes leave the scan projection.
    */
  private def spanSigs(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val p31 = SpanConstants.pow31
    val docs = t(s, d, "documents")
      .select(col("doc_id"),
        filter(split(lower(col("text")), " "), x => x =!= "").as("ws"))
    val toks = docs.select(col("doc_id"), posexplode(col("ws")))
      .withColumnRenamed("col", "tok")
    // token fingerprint: length*131 + Σ charcode_i * 31^(i-1), i≤8, mod 2^31
    val poly = (1 to 8).foldLeft(length(col("tok")).cast("long") * 131L) {
      (acc, i) =>
        acc + when(length(col("tok")) >= i,
          ascii(substring(col("tok"), i, 1)).cast("long")).otherwise(0L) * p31(i - 1)
    }
    val wn = Window.partitionBy("doc_id").orderBy("pos")
    // w-token rolling signature: Horner with per-step mod 2^40 so
    // BIGINT arithmetic is exact in both engines
    val horner = (1 until SpanConstants.w).foldLeft(col("th")) { (acc, j) =>
      (acc * 31L + lead(col("th"), j).over(wn)) % SpanConstants.M
    }
    toks
      .select(col("doc_id"), col("pos"), (poly % 2147483648L).as("th"))
      .withColumn("sig", horner)
      .select(col("doc_id"), col("pos"), col("sig"))
  }
}

/** Shared constants + the generated DuckDB mirror for q_dedup_spans:
  * the Spark expression tree and the oracle SQL are derived from the
  * same w / powers / moduli so the engines cannot drift.
  */
object SpanConstants {
  val w = 8
  val M = 1099511627776L // 2^40
  val pow31: Array[Long] = Array.iterate(1L, 8)(_ * 31L)

  /** Shared toks/th/sg CTE chain (the DuckDB mirror of spanSigs). */
  private val cte: String = {
    val polyTerms = (1 to 8).map { i =>
      s"(CASE WHEN length(tok) >= $i THEN ascii(substr(tok, $i, 1)) ELSE 0 END)::BIGINT * ${pow31(i - 1)}::BIGINT"
    }.mkString(" + ")
    val horner = (1 until w).foldLeft("th") { (acc, j) =>
      s"(($acc) * 31 + lead(th, $j) OVER wn) % $M"
    }
    s"""WITH toks AS (
       |  SELECT doc_id,
       |    unnest(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS tok,
       |    generate_subscripts(list_filter(string_split(lower(text), ' '), x -> x <> ''), 1) - 1 AS pos
       |  FROM documents),
       |th AS (
       |  SELECT doc_id, pos,
       |    (length(tok) * 131 + $polyTerms) % 2147483648 AS th
       |  FROM toks),
       |sg AS (
       |  SELECT doc_id, pos, $horner AS sig
       |  FROM th WINDOW wn AS (PARTITION BY doc_id ORDER BY pos))""".stripMargin
  }

  val oracle: String =
    s"""$cte
       |SELECT sig, count(DISTINCT doc_id) AS n_docs, count(*) AS n_occ
       |FROM sg WHERE sig IS NOT NULL
       |GROUP BY sig HAVING count(DISTINCT doc_id) >= 2
       |ORDER BY n_docs DESC, n_occ DESC, sig LIMIT 50""".stripMargin

  val oracleFilter: String =
    s"""$cte,
       |dup AS (
       |  SELECT sig FROM sg WHERE sig IS NOT NULL
       |  GROUP BY sig HAVING count(DISTINCT doc_id) >= 2),
       |fl AS (
       |  SELECT s.doc_id, s.pos,
       |    CASE WHEN d.sig IS NOT NULL THEN 1 ELSE 0 END AS isdup
       |  FROM sg s LEFT JOIN dup d ON s.sig = d.sig),
       |cv AS (
       |  SELECT doc_id,
       |    max(isdup) OVER (PARTITION BY doc_id ORDER BY pos
       |      ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS cov
       |  FROM fl)
       |SELECT doc_id, count(*)::BIGINT AS n_toks, sum(cov)::BIGINT AS n_cov,
       |  (CASE WHEN sum(cov) * 2 < count(*) THEN 1 ELSE 0 END)::BIGINT AS keep
       |FROM cv GROUP BY doc_id ORDER BY doc_id""".stripMargin
}
