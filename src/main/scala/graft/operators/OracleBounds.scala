package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, Tables}

/** Cross-engine PROPERTY oracles for approximate operators (round-9
  * stretch): the driver's gate is exact hash equality against DuckDB,
  * which a sketch estimate can never satisfy — but a DETERMINISTIC
  * PROPERTY of the estimate can. Each row here emits a verdict DuckDB
  * computes independently (an all-true column over a DuckDB-derived
  * key set, or an exact pair set both engines reach), so the
  * approximate operator's contract — recall floor, rank-error bound,
  * estimate-error bound, candidate-superset — is oracle-gated even
  * though its raw output is engine-specific. These upgrade the
  * `rows+spec` grades of D02 / D07 / E08 / E18 with real cross-engine
  * checks; the original rows keep serving the operator's raw output.
  */
object OracleBounds {

  private def t(s: SparkSession, d: String, n: String) = Tables(s, d, n)

  /** Deterministic sub-corpus bound for the D02 superset-proof row:
    * covers the ENTIRE corpus at the correctness-gate SFs (≤500 docs)
    * and caps the width-1 LSH candidate join's Θ(Σ df²) growth at
    * larger bench SFs. Mirrored verbatim in the oracle SQL.
    */
  private val MinhashVerifyBound = 1500L

  val qs: Seq[Q] = Seq(

    // D02 partial oracle — the VERIFIED two-phase pipeline equals the
    // exact answer: 12 single-minhash LSH tables (P[miss | J>=0.8] =
    // (1-J)^12 <= 4e-9 per pair — recall-1 banding by construction,
    // unlike the 4x4 banding of the estimation row) generate
    // candidates, the exact shingle-Jaccard verify keeps >= 0.8, and
    // the result must HASH-EQUAL DuckDB's exact pair set: the equality
    // PROVES the LSH candidate set was a superset of the true pairs on
    // this corpus. A verification row, not the production dedup path —
    // single-hash buckets are hot (a popular shingle minimizes many
    // docs), so its candidate join grows Θ(Σ df²). The superset proof
    // is per-corpus, so the gate runs it on a DETERMINISTIC SUB-CORPUS
    // (doc_id < MinhashVerifyBound, mirrored in the oracle): the gate
    // cost stays SF-independent instead of dominating the suite as the
    // gate SF grows (8.97 s → bounded at sf0.1; 25 planted pairs
    // remain inside the bound there).
    Q("q_dedup_minhash_verified",
      (s, d) => {
        // Explode a LITERAL 0..11 sequence, not the sig array:
        // posexplode(sig) makes InferFiltersFromGenerate push a
        // size(minhash(...)) > 0 scan filter that re-executes the
        // whole signature tree per row (the shingleHashes pathology;
        // measured 2.0 s → 0.2 s for this leg) — the same shape the
        // production 4x4 banding uses.
        // fan=false: the bounded sub-corpus is small and this plan uses
        // the signature/shingle trees several times — interleaved A/B
        // measured the fanned form 0.85 s SLOWER at sf0.1
        val bands = DedupOps.minhashSignatures(s, d, fan = false)
          .where(col("doc_id") < MinhashVerifyBound)
          .select(col("doc_id"), col("sig"),
            explode(sequence(lit(0), lit(11))).as("tbl"))
          .select(col("doc_id"), col("tbl"),
            element_at(col("sig"), col("tbl") + 1).as("mh"))
        val cand = bands.select(col("tbl"), col("mh"), col("doc_id").as("doc_a"))
          .join(bands.select(col("tbl"), col("mh"), col("doc_id").as("doc_b")),
            Seq("tbl", "mh"))
          .where(col("doc_a") < col("doc_b"))
          .select("doc_a", "doc_b").distinct()
        val sh = DedupOps.shingleTable(s, d, fan = false)
          .where(col("doc_id") < MinhashVerifyBound)
        val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
        sh.select(col("doc_id").as("doc_a"), col("h"))
          .join(sh.select(col("doc_id").as("doc_b"), col("h")), "h")
          .where(col("doc_a") < col("doc_b"))
          .join(cand, Seq("doc_a", "doc_b"), "left_semi")
          .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("inter"))
          .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sz_a")), "doc_a")
          .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("sz_b")), "doc_b")
          .withColumn("jaccard", round(
            col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter"))
              + lit(1e-9), 4))
          .where(col("jaccard") >= 0.8)
          .select("doc_a", "doc_b", "jaccard")
          .orderBy("doc_a", "doc_b")
      },
      Some(DedupOps.ngramPairsSql.replace("FROM documents",
          s"FROM documents WHERE doc_id < $MinhashVerifyBound") +
        "SELECT doc_a, doc_b, jaccard FROM pairs ORDER BY doc_a, doc_b")),

    // D07 partial oracle — LSH recall floor against the (oracled)
    // brute-force answer: multi-probe hyperplane LSH must recover at
    // least 65% of the exact top-k pairs across the query set
    // (measured 0.73 at sf0.001 / 0.87 at sf0.01 — the floor leaves
    // data-regeneration margin while still catching a broken
    // bucketing, which collapses recall toward the random ~k/N). DuckDB
    // independently derives the query count and asserts the floor
    // held (an estimate row that misses the floor hash-mismatches).
    Q("q_knn_lsh_recall",
      (s, d) => {
        val brute = graft.Registry.byName("q_knn_brute").run(s, d)
          .select(col("qid"), col("neighbor_id"))
        val lsh = graft.Registry.byName("q_knn_lsh").run(s, d)
          .select(col("qid"), col("neighbor_id"), lit(1L).as("found"))
        brute.join(lsh, Seq("qid", "neighbor_id"), "left")
          .agg(
            count_distinct(col("qid")).as("queries"),
            (sum(coalesce(col("found"), lit(0L))) >= count(lit(1)) * 0.65)
              .as("recall_ok"))
      },
      Some("""SELECT count(DISTINCT vec_id)::BIGINT AS queries,
             |  CAST(1 AS BOOLEAN) AS recall_ok
             |FROM embeddings WHERE vec_id < 10""".stripMargin)),

    // E08 partial oracle — the GK/KLL rank-error CONTRACT: the approx
    // median's exact rank must sit within a ±1% rank window (10x the
    // sketch's configured 1/1000 bound — deterministic by algorithm
    // contract, generous against boundary ties). DuckDB emits the
    // all-true verdict over the exact group set.
    Q("q_approx_quantile_bound",
      (s, d) => {
        val approx = t(s, d, "orders").groupBy("o_orderpriority")
          .agg(expr("percentile_approx(o_totalprice, 0.5, 1000)").as("ap"))
        t(s, d, "orders").join(broadcast(approx), "o_orderpriority")
          .groupBy("o_orderpriority")
          .agg(
            sum(when(col("o_totalprice") <= col("ap"), 1L).otherwise(0L)).as("cnt_le"),
            sum(when(col("o_totalprice") < col("ap"), 1L).otherwise(0L)).as("cnt_lt"),
            count(lit(1)).as("n"))
          .select(col("o_orderpriority"),
            (col("cnt_le") >= col("n") * 0.49 && col("cnt_lt") <= col("n") * 0.51)
              .as("within_rank_bound"))
          .orderBy("o_orderpriority")
      },
      Some("""SELECT o_orderpriority, CAST(1 AS BOOLEAN) AS within_rank_bound
             |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    // D05 partial oracle — embedding near-dup LSH recall floor: the
    // hyperplane-sketch blocking must recover >= 80% of the TRUE
    // cosine>=0.95 pairs, whose count BOTH engines compute exactly
    // (brute-force pair scan — the verification-scale ground truth;
    // the +1e-9-in-round nudge keeps the threshold boundary identical
    // cross-engine). A blocking regression that loses pairs flips
    // recall_ok or shifts true_pairs — either hash-mismatches.
    Q("q_dedup_embedding_recall",
      (s, d) => {
        val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
        // fan the STREAM side of the verification cross join: the N^2
        // cosine block otherwise runs on the single scan task
        val exact = Tables.fan(emb.select(col("vec_id").as("vec_a"), col("embedding").as("emb_a")))
          .crossJoin(broadcast(emb.select(col("vec_id").as("vec_b"), col("embedding").as("emb_b"))))
          .where(col("vec_a") < col("vec_b"))
          .withColumn("cos", round(
            graft.functions.Vectors.cosineSim(col("emb_a"), col("emb_b")) + lit(1e-9), 4))
          .where(col("cos") >= 0.95)
          .select("vec_a", "vec_b")
        val lsh = graft.Registry.byName("q_dedup_embedding").run(s, d)
          .select(col("vec_a"), col("vec_b"), lit(1L).as("found"))
        exact.join(lsh, Seq("vec_a", "vec_b"), "left")
          .agg(count(lit(1)).as("true_pairs"),
            // empty truth set (corpora without near-dups) → vacuously
            // true; the count column still gates cross-engine exact
            // cosine agreement
            (coalesce(sum(coalesce(col("found"), lit(0L))), lit(0L))
              >= count(lit(1)) * 0.8).as("recall_ok"))
      },
      Some("""WITH p AS (SELECT a.vec_id AS va, b.vec_id AS vb,
             |  round(list_inner_product(a.embedding, b.embedding) /
             |    (sqrt(list_inner_product(a.embedding, a.embedding)) *
             |     sqrt(list_inner_product(b.embedding, b.embedding))) + 0.000000001, 4) AS cos
             |  FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id)
             |SELECT count(*)::BIGINT AS true_pairs, CAST(1 AS BOOLEAN) AS recall_ok
             |FROM p WHERE cos >= 0.95""".stripMargin)),

    // E05 partial oracle — approx_count_distinct's rsd contract: the
    // per-group HLL++ estimate (rsd 0.02) must land within 10% (5
    // sigma) of the exact count DuckDB computes — at these
    // cardinalities the sparse representation is typically exact, so
    // the generous bound is deterministic in practice.
    Q("q_approx_distinct_bound",
      (s, d) => {
        val est = t(s, d, "events").groupBy("event_type")
          .agg(approx_count_distinct(col("user_id"), 0.02).as("est"))
        val exact = t(s, d, "events").groupBy("event_type")
          .agg(count_distinct(col("user_id")).as("ex"))
        est.join(exact, "event_type")
          .select(col("event_type"),
            (abs(col("est") - col("ex")) <= col("ex") * 0.10).as("within_rsd_bound"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, CAST(1 AS BOOLEAN) AS within_rsd_bound
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // E18 partial oracle — HLL estimate-error bound: the rolled-up
    // (union-of-daily-sketches) distinct-user estimate must land
    // within 15% of the exact count (3 sigma at the default lgK —
    // astronomically safe for these cardinalities, where the sparse
    // representation is typically exact). DuckDB computes the exact
    // side and the all-true verdict.
    Q("q_hll_rollup_bound",
      (s, d) => {
        val est = t(s, d, "events")
          .groupBy(to_date(col("ts")).as("day"), col("event_type"))
          .agg(hll_sketch_agg(col("user_id")).as("sk"))
          .groupBy("event_type")
          .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
        val exact = t(s, d, "events")
          .groupBy("event_type").agg(count_distinct(col("user_id")).as("ex"))
        est.join(exact, "event_type")
          .select(col("event_type"),
            (abs(col("est") - col("ex")) <= col("ex") * 0.15).as("within_bound"))
          .orderBy("event_type")
      },
      Some("""SELECT event_type, CAST(1 AS BOOLEAN) AS within_bound
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    // D16 partial oracle — IVF recall floor vs the (oracled)
    // brute-force answer: probing 4 of 16 cells measures 0.63/0.67 at
    // sf0.001/sf0.01 (the planted query set has true neighbors spread
    // across cells — IVF's honest probe/recall trade at tiny corpus
    // sizes). Floor 0.5: a broken cell assignment or probe selection
    // collapses recall toward ~topK/N (≈0.006 here), far below it.
    Q("q_knn_ivf_recall",
      (s, d) => {
        val brute = graft.Registry.byName("q_knn_brute").run(s, d)
          .select(col("qid"), col("neighbor_id"))
        val ivf = graft.Registry.byName("q_knn_ivf").run(s, d)
          .select(col("qid"), col("neighbor_id"), lit(1L).as("found"))
        brute.join(ivf, Seq("qid", "neighbor_id"), "left")
          .agg(
            count_distinct(col("qid")).as("queries"),
            (sum(coalesce(col("found"), lit(0L))) >= count(lit(1)) * 0.5)
              .as("recall_ok"))
      },
      Some("""SELECT count(DISTINCT vec_id)::BIGINT AS queries,
             |  CAST(1 AS BOOLEAN) AS recall_ok
             |FROM embeddings WHERE vec_id < 10""".stripMargin)),

    // D19 partial oracle — PQ (ADC shortlist + exact re-rank) recall
    // floor: measured 0.93 at both SFs; floor 0.8. Catches the
    // classic PQ regressions — unnormalized quantization (measured
    // 0.27 recall on this corpus, see knnPq's scaladoc), a broken
    // distance-table lookup, or a shortlist that stopped covering
    // the true top-k.
    Q("q_knn_pq_recall",
      (s, d) => {
        val brute = graft.Registry.byName("q_knn_brute").run(s, d)
          .select(col("qid"), col("neighbor_id"))
        val pq = graft.Registry.byName("q_knn_pq").run(s, d)
          .select(col("qid"), col("neighbor_id"), lit(1L).as("found"))
        brute.join(pq, Seq("qid", "neighbor_id"), "left")
          .agg(
            count_distinct(col("qid")).as("queries"),
            (sum(coalesce(col("found"), lit(0L))) >= count(lit(1)) * 0.8)
              .as("recall_ok"))
      },
      Some("""SELECT count(DISTINCT vec_id)::BIGINT AS queries,
             |  CAST(1 AS BOOLEAN) AS recall_ok
             |FROM embeddings WHERE vec_id < 10""".stripMargin)),

    // D24 partial oracle — the PERSISTED index must answer as well as
    // the in-flight PQ path (same 0.93 measured, same 0.8 floor):
    // gates the whole store/load leg — codebook round-trip through
    // the LakeTable artifact, stored code integrity, ADC over read
    // codes — not just the math.
    Q("q_ann_persisted_recall",
      (s, d) => {
        val brute = graft.Registry.byName("q_knn_brute").run(s, d)
          .select(col("qid"), col("neighbor_id"))
        val ann = graft.Registry.byName("q_ann_persisted").run(s, d)
          .select(col("qid"), col("neighbor_id"), lit(1L).as("found"))
        brute.join(ann, Seq("qid", "neighbor_id"), "left")
          .agg(
            count_distinct(col("qid")).as("queries"),
            (sum(coalesce(col("found"), lit(0L))) >= count(lit(1)) * 0.8)
              .as("recall_ok"))
      },
      Some("""SELECT count(DISTINCT vec_id)::BIGINT AS queries,
             |  CAST(1 AS BOOLEAN) AS recall_ok
             |FROM embeddings WHERE vec_id < 10""".stripMargin)),

    // D34 partial oracle — SemDeDup drop-count bounds: the corpus size
    // is cross-engine exact (|embeddings| + 20 planted near-copies),
    // and the cell-scoped drop count must sit between the 20 planted
    // duplicates (each lands in its source's cell at cosine 0.99997 —
    // missing any means broken assignment or a broken cell self-join)
    // and the GLOBAL exact cosine>=tau drop count computed by the
    // quadratic verification scan (cell-scoped search can only find a
    // SUBSET of global pairs — exceeding it means phantom drops).
    Q("q_dedup_semantic_bounds",
      (s, d) => {
        val sem = graft.Registry.byName("q_dedup_semantic").run(s, d)
          .agg(sum("n_total").as("n_vectors"), sum("n_dropped").as("dropped"))
        val corpus = Clustering.semCorpus(s, d)
        val globalDropped = Tables.fan(corpus
            .select(col("vec_id").as("vb"), col("embedding").as("eb")))
          .crossJoin(broadcast(corpus))
          .where(col("vb") < col("vec_id"))
          .withColumn("cos", round(
            graft.functions.Vectors.cosineSim(col("embedding"), col("eb")), 4))
          .where(col("cos") >= 0.95)
          .agg(count_distinct(col("vec_id")).as("g"))
        sem.crossJoin(globalDropped)
          .select(col("n_vectors"),
            (col("dropped") >= 20L && col("dropped") <= col("g"))
              .as("dropped_in_bounds"))
      },
      Some("""SELECT (count(*) + 20)::BIGINT AS n_vectors,
             |  CAST(1 AS BOOLEAN) AS dropped_in_bounds
             |FROM embeddings""".stripMargin)),

    // D11 partial oracle — fingerprint determinism: the winnowing
    // sketch is a pure function of `text`, so every duplicated text
    // (and the corpus has planted exact duplicates) must fingerprint
    // identically. DuckDB computes the doc and distinct-text counts
    // exactly; a fingerprint that picks up any per-run or per-row
    // nondeterminism flips the verdict.
    Q("q_text_fingerprint_det",
      (s, d) => {
        val f = TextOps.fingerprints(s, d)
        val perText = f.groupBy("text")
          .agg(count_distinct(col("fingerprint")).as("nfp"))
          .agg(count(lit(1)).as("n_texts"),
            (max(col("nfp")) === 1L).as("fp_deterministic"))
        f.agg(count(lit(1)).as("n_docs")).crossJoin(perText)
          .select("n_docs", "n_texts", "fp_deterministic")
      },
      Some("""SELECT count(*)::BIGINT AS n_docs,
             |  count(DISTINCT text)::BIGINT AS n_texts,
             |  CAST(1 AS BOOLEAN) AS fp_deterministic
             |FROM documents""".stripMargin)),

    // D40 partial oracle — BPE round-trip losslessness: pieces are
    // whitespace-pretokenized per-word merges, so their concatenation
    // must reproduce the document's non-space characters EXACTLY, for
    // every document (a tokenizer that drops, reorders, or mangles a
    // character — the classic off-by-one in the merge loop — flips
    // the verdict). DuckDB computes the doc universe exactly.
    Q.staged("q_bpe_roundtrip",
      setup = (s, d) => Curation.stageBpeVocab(s, d),
      verb = (s, d) => {
        val merges = Curation.bpeMerges(s)
        t(s, d, "documents")
          .select(col("text"),
            Curation.bpeEncode(col("text"), merges).as("pieces"))
          .agg(count(lit(1)).as("n_docs"),
            (sum(when(array_join(col("pieces"), "")
              === translate(col("text"), " ", ""), 0L).otherwise(1L)) === 0L)
              .as("all_lossless"))
      },
      oracle = Some("""SELECT count(*)::BIGINT AS n_docs,
             |  CAST(1 AS BOOLEAN) AS all_lossless
             |FROM documents""".stripMargin)),

    // D42 partial oracle — packing conservation: every document lands
    // in exactly one packed sequence (the (lang, shard, seq) grouping
    // partitions the doc set) and no tokenizer piece is lost or
    // duplicated across packs — pack totals must equal an independent
    // fresh-encode total. DuckDB pins the doc universe.
    Q.staged("q_pack_conservation",
      setup = (s, d) => Curation.stageBpeVocab(s, d),
      verb = (s, d) => {
        val packs = Curation.packBpe(s, d)
          .agg(sum("n_docs").as("n_docs_packed"),
            sum("n_pieces").as("pieces_packed"))
        val enc = Curation.bpeEncodeCorpus(s, d)
          .agg(count(lit(1)).as("n_docs"), sum("n_pieces").as("pieces_total"))
        packs.crossJoin(enc)
          .select(col("n_docs_packed"),
            (col("n_docs_packed") === col("n_docs")
              && col("pieces_packed") === col("pieces_total"))
              .as("conserved"))
      },
      oracle = Some("""SELECT count(*)::BIGINT AS n_docs_packed,
             |  CAST(1 AS BOOLEAN) AS conserved
             |FROM documents""".stripMargin)),

    // D03 partial oracle — SimHash recall floor over the exact
    // very-near-dup universe: of the pairs with TRUE word-Jaccard
    // >= 0.9 (DuckDB-exact: 25 at sf0.01, 249 at sf0.1), the 64-bit
    // bigram SimHash at hamming <= 3 must recover at least 40%
    // (measured 0.48 / 0.58 — hamming <= 3 is a stricter notion than
    // Jaccard, so ~half is the honest ceiling for this corpus; a
    // BROKEN simhash — bit-mixing bug, band mis-split — collapses
    // recall toward 0, which is what the floor catches). The 4x16
    // banding is recall-1 for hamming <= 3 by construction, so the
    // floor gates the HASH, not the LSH.
    Q("q_dedup_simhash_recall",
      (s, d) => {
        // oracle device: must match the uncapped DuckDB mirror exactly
        val exact = DedupOps.ngramPairs(s, d, 0.9, guardrail = false)
          .select("doc_a", "doc_b")
        val sim = graft.Registry.byName("q_dedup_simhash").run(s, d)
          .select(col("doc_a"), col("doc_b"), lit(1L).as("found"))
        exact.join(sim, Seq("doc_a", "doc_b"), "left")
          .agg(count(lit(1)).as("true_pairs"),
            (sum(coalesce(col("found"), lit(0L))) >= count(lit(1)) * 0.40)
              .as("recall_ok"))
      },
      Some(DedupOps.ngramPairsSql.replace(">= 0.8", ">= 0.9") +
        "SELECT count(*)::BIGINT AS true_pairs, " +
        "CAST(1 AS BOOLEAN) AS recall_ok FROM pairs")),

    // D13 partial oracle — decoded metadata equals the generation
    // MANIFEST, row by row: the media payloads are synthesized
    // deterministically from doc_id (seeded headers + LCG planes), so
    // DuckDB can compute every width/height/duration/byte-size from
    // doc_id arithmetic alone, WITHOUT parsing a byte — while the
    // Spark side obtains the same numbers by genuinely parsing the
    // PPM/WAV/Y4M containers. Full-row hash equality proves the
    // decoders read the real headers correctly (an off-by-one in any
    // header walk shifts width/duration and mismatches).
    Q("q_multimodal_meta_manifest",
      (s, d) => Multimodal.decodeFeatures(Multimodal.syntheticMedia(s, d))
        .select(col("doc_id"), col("media_type"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("duration_ms"), col("n_bytes"))
        .orderBy("doc_id"),
      Some("""WITH m AS (SELECT doc_id, doc_id + 7 AS seed FROM documents),
             |img AS (SELECT doc_id, 'image' AS media_type,
             |  (8 + seed % 25)::BIGINT AS width,
             |  (8 + (seed >> 8) % 17)::BIGINT AS height,
             |  0::BIGINT AS duration_ms,
             |  (9 + len((8 + seed % 25)::VARCHAR)
             |     + len((8 + (seed >> 8) % 17)::VARCHAR)
             |     + (8 + seed % 25) * (8 + (seed >> 8) % 17) * 3)::BIGINT AS n_bytes
             |  FROM m WHERE doc_id % 3 = 0),
             |aud AS (SELECT doc_id, 'audio', 0::BIGINT, 0::BIGINT,
             |  ((1600 + seed % 6400) // 8)::BIGINT,
             |  (44 + 1600 + seed % 6400)::BIGINT FROM m WHERE doc_id % 3 = 1),
             |vid AS (SELECT doc_id, 'video', 16::BIGINT, 12::BIGINT,
             |  ((2 + seed % 6) * 40)::BIGINT,
             |  (37 + (2 + seed % 6) * 294)::BIGINT FROM m WHERE doc_id % 3 = 2)
             |SELECT * FROM img UNION ALL SELECT * FROM aud
             |UNION ALL SELECT * FROM vid ORDER BY doc_id""".stripMargin)),

    // D18 partial oracle — featurization invariants over the decoded
    // planes: every media type's 16-bin histogram is L1-normalized
    // (sums to 1 within float tolerance) and non-negative, for EVERY
    // doc; DuckDB pins the per-type doc universe exactly from the
    // deterministic type-cycling rule. A featurizer that drops a
    // plane, mis-bins, or skips normalization flips a verdict.
    Q("q_multimodal_features_bounds",
      (s, d) => Multimodal.extractFeatures(Multimodal.syntheticMedia(s, d))
        .withColumn("l1",
          aggregate(col("features"), lit(0.0), (a, v) => a + v.cast("double")))
        .withColumn("minf", array_min(col("features")))
        .groupBy("media_type")
        .agg(count(lit(1)).as("docs"),
          (max(abs(col("l1") - 1.0)) < lit(1e-3)).as("l1_normalized"),
          (min(col("minf")) >= lit(0.0f)).as("non_negative"))
        .orderBy("media_type"),
      Some("""SELECT CASE doc_id % 3 WHEN 0 THEN 'image'
             |  WHEN 1 THEN 'audio' ELSE 'video' END AS media_type,
             |  count(*)::BIGINT AS docs,
             |  CAST(1 AS BOOLEAN) AS l1_normalized,
             |  CAST(1 AS BOOLEAN) AS non_negative
             |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),

    // D14 partial oracle — pipeline survivor-count bounds, both ends
    // DuckDB-exact: survivors can never exceed the exact-dedup ceiling
    // (distinct texts), and can never fall below ceiling − |doc_b's of
    // TRUE Jaccard >= 0.35 pairs| (measured: every est>=0.5 minhash
    // loser has true J >= 0.8, so the 0.35 universe is a loser
    // superset with wide regeneration margin). A pipeline that drops
    // phantom docs breaks the floor; one that stops deduping breaks
    // the ceiling.
    Q("q_dedup_pipeline_bounds",
      (s, d) => {
        val res = graft.Registry.byName("q_dedup_pipeline").run(s, d)
        val ceiling = t(s, d, "documents")
          .agg(count_distinct(col("text")).as("ceiling"))
        // AIRTIGHT lower bound now that the pipeline verifies its LSH
        // candidates at exact J ≥ 0.5: every dropped doc_b is a member
        // of the DuckDB-exact ≥0.5 pair set, so survivors ≥ ceiling −
        // |distinct doc_b at 0.5| deterministically (the r11-era 0.35
        // proxy for unverified-LSH false positives broke at sf1 —
        // est ≥ 8/16 has a ~10% FP rate at the boundary, and 10× data
        // supplies the boundary pairs). The 0.5 pair set here is an
        // ORACLE DEVICE mirrored exactly in DuckDB — it must stay the
        // uncapped exact plan even when the candidate-budget guardrail
        // (DedupGuard) would route a production call on this profile.
        val losers = DedupOps.ngramPairs(s, d, 0.5, guardrail = false)
          .select("doc_b").distinct().agg(count(lit(1)).as("max_losers"))
        res.crossJoin(ceiling).crossJoin(losers)
          .select(col("ceiling"), col("max_losers"),
            (col("survivors") <= col("ceiling")
              && col("survivors") >= col("ceiling") - col("max_losers"))
              .as("survivors_in_bounds"))
      },
      Some(DedupOps.ngramPairsSql.replace(">= 0.8", ">= 0.5") +
        """SELECT (SELECT count(DISTINCT text) FROM documents)::BIGINT AS ceiling,
          |  (SELECT count(DISTINCT doc_b) FROM pairs)::BIGINT AS max_losers,
          |  CAST(1 AS BOOLEAN) AS survivors_in_bounds""".stripMargin)),

    // D41 partial oracle — the append leg's correctness is observable:
    // the incoming batch is near-copies of the 10 query vectors
    // (cosine ~0.999987), so after the incremental append EVERY
    // query's top-1 must be its planted copy (vec_id = qid + 200000).
    // DuckDB pins the query universe; a broken append (codes not
    // written, delta version unread, stale codebooks) loses the
    // planted top-1s and flips the verdict.
    Q("q_ann_incremental_top1",
      (s, d) => graft.Registry.byName("q_ann_incremental").run(s, d)
        .where(col("rn") === 1)
        .agg(count(lit(1)).as("queries"),
          (sum(when(col("neighbor_id") === col("qid") + 200000L, 0L)
            .otherwise(1L)) === 0L).as("top1_planted")),
      Some("""SELECT count(DISTINCT vec_id)::BIGINT AS queries,
             |  CAST(1 AS BOOLEAN) AS top1_planted
             |FROM embeddings WHERE vec_id < 10""".stripMargin)),

    // B07 partial oracle — catalog state vs DuckDB ground truth: the
    // listing's versions (0 after create, 1 after one append), row
    // counts (nation appended once = 2x), and schema column lists all
    // derive cross-engine from the source tables. A catalog that
    // mis-tracks versions, loses an append, or re-orders schema
    // columns hash-mismatches.
    Q("q_catalog_check",
      (s, d) => {
        import s.implicits._
        val root = s"${Lakehouse.scratch}/catalog_check"
        val cat = new graft.sources.LakeCatalog(s, root)
        cat.createTable("dim_region", t(s, d, "region"))
        cat.createTable("dim_nation", t(s, d, "nation"))
        graft.sources.LakeTable.append(s, s"$root/dim_nation", t(s, d, "nation"))
        val counts = cat.tableNames
          .map(n => (n, cat.table(n).count())).toDF("table_name", "row_count")
        cat.listTables()
          .join(counts, "table_name")
          .select("table_name", "version", "row_count", "columns")
          .orderBy("table_name")
      },
      Some("""SELECT 'dim_nation' AS table_name, 1::BIGINT AS version,
             |  (SELECT count(*) * 2 FROM nation)::BIGINT AS row_count,
             |  'n_nationkey,n_name,n_regionkey' AS columns
             |UNION ALL
             |SELECT 'dim_region', 0::BIGINT,
             |  (SELECT count(*) FROM region)::BIGINT,
             |  'r_regionkey,r_name'
             |ORDER BY table_name""".stripMargin)),
  )
}
