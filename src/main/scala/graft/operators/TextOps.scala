package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.functions.Vectors

/** D-block text analysis for LLM training-data pipelines. Everything
  * here is built from built-in functions (split/transform/filter/
  * aggregate higher-order functions) and graft's native expressions
  * (n-gram hashes come from `Vectors.ngramHashes`, one generated loop
  * per row) — no Scala UDFs in the per-row path — so the operators
  * scale linearly with input bytes.
  */
object TextOps {

  private def t(s: SparkSession, d: String, n: String) = Tables(s, d, n)

  /** The documents table fanned across the cluster (Tables.fan): every
    * row here pays a heavy per-row map (tokenize / hash / regex) whose
    * aggregations are integer-exact or per-row, so the fan-out changes
    * no result while un-serializing the single-row-group scan.
    */
  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.fan(t(s, d, "documents"))

  /** D11's fingerprint stream (doc_id, text, fingerprint, n_grams):
    * the winnowing-style sketch is a pure function of `text`, which
    * the q_text_fingerprint_det property oracle pins cross-engine.
    */
  def fingerprints(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .withColumn("ws", split(col("text"), " "))
      .withColumn("grams", when(size(col("ws")) >= 4,
        Vectors.ngramHashes(col("ws"), 4, distinct = false))
        .otherwise(array(xxhash64(col("text")))))
      .select(col("doc_id"), col("text"),
        xxhash64(concat_ws(",", transform(slice(array_sort(col("grams")), 1, 8), _.cast("string"))))
          .as("fingerprint"),
        size(col("grams")).cast("long").as("n_grams"))

  private val stopwords = Seq("the", "a", "and", "of", "to")

  /** q_seq_pack shard count: pack parallelism per language. Defaults
    * to the cluster's defaultParallelism (availableProcessors when no
    * session is up yet), overridable via SPARK_GRAFT_PACK_SHARDS. A
    * single frozen value referenced by BOTH the Spark query and the
    * generated oracle SQL, so the two engines always agree — and pack
    * parallelism scales with the cluster instead of being pinned
    * (round-4 verdict: hardcoded 8 meant 8×|langs| single-reducer
    * streams regardless of cluster size).
    */
  lazy val packShards: Int =
    sys.env.get("SPARK_GRAFT_PACK_SHARDS").map(_.toInt)
      .orElse(SparkSession.getActiveSession.map(_.sparkContext.defaultParallelism))
      .getOrElse(Runtime.getRuntime.availableProcessors())

  /** Per-language marker-token profiles for the heuristic language
    * identifier. Tiny dim table, broadcast everywhere.
    */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "and", "of", "to", "fast", "slow", "big", "small"),
    "es" -> Seq("el", "la", "de", "que", "y", "los"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "est"),
    "zh" -> Seq("de5", "shi4", "zai4"))

  val qs: Seq[Q] = Seq(

    // Exact dedup, keep-first: group on a 128-BIT content identity —
    // two independently-seeded xxhash64 halves — so only 16-byte keys
    // shuffle, never the document text. 64 bits alone hits birthday
    // collisions (P ≈ n²/2⁶⁵: ~3% at 10⁹ docs, near-certain at 10¹⁰ —
    // a silent wrongly-dropped document each time); at 128 bits the
    // same corpus sizes sit below 10⁻¹⁸. The seed column prefix makes
    // the second half an independent hash function, not a copy.
    Q("q_dedup_exact",
      (s, d) => t(s, d, "documents")
        .groupBy(xxhash64(col("text")).as("h1"),
          xxhash64(lit("graft-h2"), col("text")).as("h2"))
        .agg(min("doc_id").as("doc_id"))
        .select("doc_id")
        .orderBy("doc_id"),
      Some("""SELECT min(doc_id) AS doc_id FROM documents GROUP BY text
             |ORDER BY doc_id""".stripMargin)),

    // D43: per-source duplication diagnostics — the "dedup debt"
    // report an ingest pipeline publishes before spending the dedup
    // pass: per source, how many docs, how many distinct contents,
    // how many rows sit in duplicate groups, and the shrink factor
    // exact dedup would deliver. Same 128-bit content identity as
    // D01; only (source, 16-byte hash) keys and counts ever shuffle —
    // at 100 TB this costs one hash-agg pass, not a self-join.
    Q("q_corpus_dupstats",
      (s, d) => {
        val groups = t(s, d, "documents")
          .groupBy(col("source"),
            xxhash64(col("text")).as("h1"),
            xxhash64(lit("graft-h2"), col("text")).as("h2"))
          .agg(count(lit(1)).as("copies"))
        groups.groupBy("source").agg(
          sum("copies").cast("long").as("docs"),
          count(lit(1)).cast("long").as("distinct_docs"),
          sum(when(col("copies") > 1, col("copies")).otherwise(0))
            .cast("long").as("dup_docs"),
          round(sum(when(col("copies") > 1, col("copies") - 1).otherwise(0)) * lit(1.0)
            / sum("copies") + lit(1e-9), 4).as("shrink"))
          .orderBy("source")
      },
      Some("""WITH g AS (
             |  SELECT source, text, count(*) AS copies
             |  FROM documents GROUP BY 1, 2)
             |SELECT source, CAST(sum(copies) AS BIGINT) AS docs,
             |  count(*) AS distinct_docs,
             |  CAST(sum(CASE WHEN copies > 1 THEN copies ELSE 0 END) AS BIGINT) AS dup_docs,
             |  round(sum(CASE WHEN copies > 1 THEN copies - 1 ELSE 0 END) * 1.0
             |    / sum(copies) + 0.000000001, 4) AS shrink
             |FROM g GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("q_text_tokens",
      (s, d) => t(s, d, "documents").select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("ws_tokens"),
        regexp_count(col("text"), lit("[a-z]+|[0-9]|[^a-z0-9\\s]")).cast("long").as("re_tokens"),
        length(col("text")).cast("long").as("chars"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, len(string_split(text, ' ')) AS ws_tokens,
             |len(regexp_extract_all(text, '[a-z]+|[0-9]|[^a-z0-9\s]')) AS re_tokens,
             |length(text) AS chars FROM documents ORDER BY doc_id""".stripMargin)),

    // Quality scoring: type-token ratio, stopword ratio, mean word
    // length, blended score. Pure column expressions over the token
    // array.
    Q("q_text_quality",
      (s, d) => {
        // Materialize the token array once (attribute reference) —
        // inlining `split` here would re-tokenize per derived column.
        val ws = col("ws")
        val wc = size(ws).cast("double")
        val ttr = size(array_distinct(ws)).cast("double") / wc
        val stopRatio = size(filter(ws, w => w.isin(stopwords: _*))).cast("double") / wc
        val avgWlen = (length(col("text")).cast("double") - (wc - 1)) / wc
        t(s, d, "documents")
          .withColumn("ws", split(col("text"), " "))
          .select(
            col("doc_id"),
            size(ws).cast("long").as("wc"),
            // +1e-9: ratios are exact rationals that land on .xxxx5
            // where Spark (half-up) and DuckDB (half-even) disagree.
            round(ttr + lit(1e-9), 4).as("ttr"),
            round(stopRatio + lit(1e-9), 4).as("stop_ratio"),
            round(avgWlen + lit(1e-9), 4).as("avg_wlen"),
            round(ttr * 0.5 + (lit(1.0) - stopRatio) * 0.3 +
              least(avgWlen / 10.0, lit(1.0)) * 0.2 + lit(1e-9), 4).as("score"))
          .orderBy("doc_id")
      },
      Some("""WITH x AS (SELECT doc_id, text, string_split(text, ' ') AS ws FROM documents),
             |y AS (SELECT doc_id,
             |  len(ws) AS wc,
             |  len(list_distinct(ws))::DOUBLE / len(ws) AS ttr,
             |  len(list_filter(ws, w -> w IN ('the','a','and','of','to')))::DOUBLE / len(ws) AS stop_ratio,
             |  (length(text)::DOUBLE - (len(ws) - 1)) / len(ws) AS avg_wlen
             |FROM x)
             |SELECT doc_id, wc, round(ttr + 0.000000001,4) AS ttr,
             |round(stop_ratio + 0.000000001,4) AS stop_ratio,
             |round(avg_wlen + 0.000000001,4) AS avg_wlen,
             |round(ttr*0.5 + (1.0-stop_ratio)*0.3 + least(avg_wlen/10.0, 1.0)*0.2 + 0.000000001,4) AS score
             |FROM y ORDER BY doc_id""".stripMargin)),

    // Shingle (3-gram) document-frequency counts — the candidate
    // vocabulary step of shingle-based dedup. Single shuffle:
    // count_distinct(doc_id) partial-aggregates map-side instead of a
    // distinct-then-count double shuffle.
    Q("q_text_shingles",
      (s, d) => docs(s, d)
        .withColumn("ws", split(col("text"), " "))
        .where(size(col("ws")) >= 3)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(ws)-3), i -> concat_ws(' ', ws[i], ws[i+1], ws[i+2]))"))
          .as("shingle"))
        .groupBy("shingle")
        .agg(countDistinct(col("doc_id")).as("df"))
        .where(col("df") >= 5)
        .orderBy(desc("df"), col("shingle"))
        .limit(100),
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents
             |          WHERE len(string_split(text, ' ')) >= 3),
             |sh AS (SELECT DISTINCT doc_id, ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] AS shingle
             |       FROM w, UNNEST(range(1, len(ws)-1)) AS t(i))
             |SELECT shingle, count(*) AS df FROM sh GROUP BY shingle
             |HAVING count(*) >= 5 ORDER BY df DESC, shingle LIMIT 100""".stripMargin)),

    // Heuristic n-gram/marker-token language ID: explode tokens, join
    // the broadcast profile table, argmax hits per (doc, lang).
    Q("q_text_langid",
      (s, d) => {
        import s.implicits._
        val profiles = langProfiles
          .flatMap { case (l, words) => words.map(w => (l, w)) }
          .toDF("cand_lang", "marker")
        val hits = t(s, d, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
          .join(broadcast(profiles), col("w") === col("marker"))
          .groupBy("doc_id", "cand_lang")
          .agg(count(lit(1)).as("hits"))
        val w = Window.partitionBy("doc_id").orderBy(desc("hits"), col("cand_lang"))
        val pred = hits.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
          .select(col("doc_id"), col("cand_lang").as("pred_lang"))
        t(s, d, "documents").select("doc_id", "lang")
          .join(pred, Seq("doc_id"), "left")
          .select(col("doc_id"),
            coalesce(col("pred_lang"), lit("unknown")).as("pred_lang"),
            col("lang"))
          .orderBy("doc_id")
      },
      // Oracle: the same broadcast-profile argmax in SQL; the VALUES
      // list is generated from langProfiles so they cannot drift.
      Some(s"""WITH prof(cand_lang, marker) AS (VALUES ${
               langProfiles.flatMap { case (l, ws) =>
                 ws.map(w => s"('$l','$w')") }.mkString(", ")}),
              |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
              |hits AS (SELECT doc_id, cand_lang, count(*) AS hits
              |         FROM tok JOIN prof ON w = marker GROUP BY 1, 2),
              |pred AS (SELECT doc_id, cand_lang AS pred_lang,
              |         row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, cand_lang) AS rn
              |         FROM hits)
              |SELECT d.doc_id, coalesce(p.pred_lang, 'unknown') AS pred_lang, d.lang
              |FROM documents d LEFT JOIN (SELECT doc_id, pred_lang FROM pred WHERE rn = 1) p
              |USING (doc_id) ORDER BY doc_id""".stripMargin)),

    // D15: the pre-training corpus filter chain — length bounds,
    // quality-score threshold, stopword-bearing docs only. Entirely
    // SQL-expressible, so it gates through the oracle.
    Q("q_corpus_filter",
      (s, d) => {
        val ws = col("ws")
        val wc = size(ws).cast("double")
        val ttr = size(array_distinct(ws)).cast("double") / wc
        val stopRatio = size(filter(ws, w => w.isin(stopwords: _*))).cast("double") / wc
        t(s, d, "documents")
          .withColumn("ws", split(col("text"), " "))
          // +1e-9 before the threshold compare: docs whose score is the
          // exact rational 0.6 otherwise flip between engines on sub-ulp
          // evaluation-order differences (same pattern as q_text_quality).
          .withColumn("score", ttr * 0.5 + (lit(1.0) - stopRatio) * 0.5)
          .where(col("n_chars").between(50, 5000) && col("score") + lit(1e-9) > 0.6 && stopRatio > 0)
          .groupBy("lang")
          .agg(count(lit(1)).as("kept"), sum("n_chars").as("chars"))
          .orderBy("lang")
      },
      Some("""WITH x AS (SELECT lang, n_chars, string_split(text, ' ') AS ws FROM documents),
             |y AS (SELECT lang, n_chars,
             |  len(list_distinct(ws))::DOUBLE / len(ws) AS ttr,
             |  len(list_filter(ws, w -> w IN ('the','a','and','of','to')))::DOUBLE / len(ws) AS sr
             |  FROM x)
             |SELECT lang, count(*) AS kept, sum(n_chars)::BIGINT AS chars FROM y
             |WHERE n_chars BETWEEN 50 AND 5000 AND (ttr*0.5 + (1.0-sr)*0.5 + 0.000000001) > 0.6 AND sr > 0
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // D20: PII scrub — the redaction pass every training corpus runs
    // before the tokenizer: email-shaped and long-digit-run spans are
    // replaced with sentinel tokens, and the query reports per-doc
    // redaction counts plus the scrubbed length. Conservative regexes
    // kept to the POSIX-compatible subset both engines parse
    // identically (no lookarounds, no shorthand classes).
    Q("q_text_pii",
      (s, d) => {
        val email = "[a-z0-9._-]+@[a-z0-9.-]+"
        val digits = "[0-9][0-9][0-9][0-9][0-9]+"
        t(s, d, "documents").select(
          col("doc_id"),
          regexp_count(col("text"), lit(email)).cast("long").as("n_email"),
          regexp_count(col("text"), lit(digits)).cast("long").as("n_digit_runs"),
          length(regexp_replace(regexp_replace(col("text"), email, "<EMAIL>"),
            digits, "<NUM>")).cast("long").as("scrubbed_len"))
          .orderBy("doc_id")
      },
      Some("""SELECT doc_id,
             |len(regexp_extract_all(text, '[a-z0-9._-]+@[a-z0-9.-]+')) AS n_email,
             |len(regexp_extract_all(text, '[0-9][0-9][0-9][0-9][0-9]+')) AS n_digit_runs,
             |length(regexp_replace(regexp_replace(text, '[a-z0-9._-]+@[a-z0-9.-]+', '<EMAIL>', 'g'),
             |  '[0-9][0-9][0-9][0-9][0-9]+', '<NUM>', 'g')) AS scrubbed_len
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // D21: sequence chunking — split each document's token stream into
    // fixed-size windows (64 tokens) with 8-token overlap, the step
    // that turns a corpus into training sequences. explode(sequence)
    // emits one row per chunk START (cheap generator — plan rule §6.5.3),
    // and the chunk text is sliced from the materialized token array;
    // stride rows scale with tokens/stride, never quadratic.
    Q("q_text_chunks",
      (s, d) => {
        val cs = 64; val overlap = 8; val stride = cs - overlap
        val nTok = size(col("ws"))
        val nChunks = greatest(
          ceil((nTok - lit(overlap)) / lit(stride.toDouble)).cast("int"), lit(1))
        val nIn = least(nTok - col("start") * stride, lit(cs))
        t(s, d, "documents")
          .withColumn("ws", split(col("text"), " "))
          .withColumn("start", explode(sequence(lit(0), nChunks - 1, lit(1))))
          .select(col("doc_id"), col("start").cast("long").as("chunk_idx"),
            (col("start") * stride).cast("long").as("tok_start"),
            nIn.cast("long").as("n_tokens"),
            element_at(col("ws"), col("start") * stride + 1).as("first_tok"),
            element_at(col("ws"), col("start") * stride + nIn).as("last_tok"))
          .orderBy("doc_id", "chunk_idx")
      },
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
             |c AS (SELECT doc_id, ws,
             |  unnest(range(0, greatest(CAST(ceil((len(ws) - 8) / 56.0) AS BIGINT), 1))) AS i
             |  FROM w)
             |SELECT doc_id, i AS chunk_idx, i * 56 AS tok_start,
             |  least(len(ws) - i * 56, 64) AS n_tokens,
             |  ws[i * 56 + 1] AS first_tok,
             |  ws[i * 56 + least(len(ws) - i * 56, 64)] AS last_tok
             |FROM c ORDER BY doc_id, chunk_idx""".stripMargin)),

    // Rabin-Karp rolling-hash fingerprint: polynomial hash of each
    // 4-token window, doc fingerprint = xxhash of the 8 smallest
    // window hashes (winnowing-style sketch, order-invariant).
    Q("q_text_fingerprint",
      (s, d) => fingerprints(s, d)
        .select("doc_id", "fingerprint", "n_grams")
        .orderBy("doc_id"),
      None),

    // Corpus-LM quality scoring (the CCNet/RefinedWeb filtering
    // signal): score each document by the average corpus frequency of
    // its bigrams — documents whose word sequences are rare in the
    // corpus (noise, mangled text) score low. Two passes over the
    // token stream: the bigram-frequency model is a map-side-combined
    // aggregate whose result is at most vocab² rows (tiny — it
    // BROADCASTS to the scoring join, so the corpus never shuffles).
    // Kept integer-exact until one final division so the oracle
    // hash-matches; the generator emits an index and the bigram is
    // built from attributes (never explode(transform(...)) — §6.5.3).
    Q("q_text_lmscore",
      (s, d) => lmScored(s, d).orderBy("doc_id"),
      Some(lmScoreCte +
        """SELECT e.doc_id,
          |       round(sum(coalesce(bf, 0))/count(*) + 1e-9, 4) AS lm_score,
          |       count(*)::BIGINT AS n_bigrams
          |FROM ex e LEFT JOIN model USING(bg)
          |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // CCNet-style quality bucketing (Wenzek et al. 2020): rank each
    // document by its LM score WITHIN ITS LANGUAGE and split the
    // ranking into head/middle/tail terciles — the partition a
    // training-mix builder samples from at different rates. Reuses the
    // q_text_lmscore stream (capped-broadcast model, corpus never
    // shuffles for scoring); the only additional work is one ntile
    // window per language over (score, doc_id) — a total order, so
    // bucket boundaries are deterministic across engines. At 100 TB
    // the window partitions by language; skew (one dominant language)
    // is the known cost and the production form replaces ntile with
    // precomputed score-quantile cutpoints (one approx-quantile pass,
    // then a pure map) — same buckets, no global sort per language.
    Q("q_corpus_buckets",
      (s, d) => {
        val byLang = Window.partitionBy("lang")
          .orderBy(desc("lm_score"), col("doc_id"))
        lmScored(s, d)
          .join(t(s, d, "documents").select("doc_id", "lang"), "doc_id")
          .withColumn("nt", ntile(3).over(byLang))
          .withColumn("bucket",
            when(col("nt") === 1, "head")
              .when(col("nt") === 2, "middle").otherwise("tail"))
          .select("doc_id", "lang", "bucket")
          .orderBy("doc_id")
      },
      Some(lmScoreCte +
        """, sc AS (SELECT e.doc_id,
          |         round(sum(coalesce(bf, 0))/count(*) + 1e-9, 4) AS lm_score
          |       FROM ex e LEFT JOIN model USING(bg) GROUP BY 1),
          |b AS (SELECT doc_id, lang,
          |        ntile(3) OVER (PARTITION BY lang
          |                       ORDER BY lm_score DESC, doc_id) AS nt
          |      FROM sc JOIN documents USING(doc_id))
          |SELECT doc_id, lang,
          |  CASE WHEN nt = 1 THEN 'head'
          |       WHEN nt = 2 THEN 'middle' ELSE 'tail' END AS bucket
          |FROM b ORDER BY doc_id""".stripMargin)),

    // Deterministic training-data shuffle: the global random
    // interleave every epoch of LLM training needs, as a reproducible
    // engine op instead of an in-memory shuffle. Each doc hashes to a
    // shard and an intra-shard position via a seeded Lehmer chain in
    // exact BIGINT arithmetic (portable — the oracle runs the same
    // formula), so shard assignment is ONE map pass + one hash
    // exchange on the shard key, and the within-shard order is a local
    // sort per shard: no global sort, no driver state, rerunnable
    // byte-identically on any cluster size. Multiplications stay
    // < 2^63 for doc_id < 3.9e9; for larger corpora the same chain
    // runs on doc_id % 2^31 with the id folded into the first step.
    Q("q_corpus_shuffle",
      (s, d) => {
        val shards = 8
        val seed = 20260814L
        val h1 = (col("doc_id") * lit(2654435761L) + lit(seed)) % lit(2147483647L)
        t(s, d, "documents").select("doc_id")
          .withColumn("h", (h1 * lit(48271L)) % lit(2147483647L))
          .withColumn("shard", col("h") % lit(shards.toLong))
          .withColumn("pos", row_number().over(
            Window.partitionBy("shard").orderBy("h", "doc_id")).cast("long"))
          .select("doc_id", "shard", "pos")
          .orderBy("shard", "pos")
      },
      Some("""WITH h AS (SELECT doc_id,
             |    ((doc_id * 2654435761 + 20260814) % 2147483647) * 48271
             |      % 2147483647 AS h
             |  FROM documents)
             |SELECT doc_id, h % 8 AS shard,
             |  row_number() OVER (PARTITION BY h % 8 ORDER BY h, doc_id) AS pos
             |FROM h ORDER BY shard, pos""".stripMargin)),

    // Intra-document repetition scoring (the Gopher/C4 quality rule
    // "drop docs that repeat themselves"): duplicate-token and
    // duplicate-bigram fractions per doc, flagging heavy repeaters.
    // All array ops on a MATERIALIZED token attribute (§6.5.1 — a
    // lambda capturing split() re-executes it per element), zero
    // shuffles before the final tiny sort: the filter is a pure map
    // over the corpus, exactly what a 100 TB quality pass must be.
    Q("q_text_repetition",
      (s, d) => t(s, d, "documents")
        .withColumn("ws", split(col("text"), " "))
        .withColumn("bg", transform(sequence(lit(0), size(col("ws")) - 2),
          i => concat(element_at(col("ws"), i + 1), lit(" "),
            element_at(col("ws"), i + 2))))
        .select(col("doc_id"),
          size(col("ws")).cast("long").as("n_tokens"),
          size(array_distinct(col("ws"))).cast("long").as("n_distinct"),
          size(array_distinct(col("bg"))).cast("long").as("n_distinct_bg"))
        .withColumn("dup_frac",
          round(lit(1.0) - col("n_distinct").cast("double") / col("n_tokens") + lit(1e-9), 4))
        .withColumn("dup_bg_frac",
          round(lit(1.0) - col("n_distinct_bg").cast("double") / (col("n_tokens") - 1) + lit(1e-9), 4))
        .where(col("dup_frac") > 0.7)
        .select("doc_id", "n_tokens", "n_distinct", "dup_frac", "dup_bg_frac")
        .orderBy("doc_id"),
      Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
             |x AS (SELECT doc_id, ws,
             |  list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1]) AS bg
             |  FROM w),
             |y AS (SELECT doc_id, len(ws)::BIGINT AS n_tokens,
             |  len(list_distinct(ws))::BIGINT AS n_distinct,
             |  len(list_distinct(bg))::BIGINT AS n_distinct_bg FROM x)
             |SELECT doc_id, n_tokens, n_distinct,
             |round(1.0 - n_distinct::DOUBLE / n_tokens + 1e-9, 4) AS dup_frac,
             |round(1.0 - n_distinct_bg::DOUBLE / (n_tokens - 1) + 1e-9, 4) AS dup_bg_frac
             |FROM y WHERE round(1.0 - n_distinct::DOUBLE / n_tokens + 1e-9, 4) > 0.7
             |ORDER BY doc_id""".stripMargin)),

    // Sequence packing — the last step before tokens hit a trainer:
    // assign docs to fixed-budget (128-token) training sequences by
    // exclusive running token count. Packing is inherently sequential
    // WITHIN a pack stream, so the corpus is sharded into independent
    // (lang, doc_id % packShards) streams first and each stream packs
    // in parallel — the shard count follows cluster parallelism (or
    // SPARK_GRAFT_PACK_SHARDS), so pack concurrency grows with the
    // cluster; there is never a global-order window. Deterministic
    // FOR A GIVEN shard count: same corpus + same shards → same
    // sequences, any cluster layout; the oracle interpolates the
    // identical frozen value.
    Q("q_seq_pack",
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val seqLen = 128
        val docs = t(s, d, "documents")
          .select(col("doc_id"), col("lang"),
            size(split(col("text"), " ")).cast("long").as("toks"))
          .withColumn("shard", pmod(col("doc_id"), lit(packShards.toLong)))
        val w = Window.partitionBy("lang", "shard").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, -1)
        docs.withColumn("prior", coalesce(sum("toks").over(w), lit(0L)))
          .withColumn("seq_id", floor(col("prior") / seqLen))
          .groupBy("lang", "shard", "seq_id")
          .agg(count(lit(1)).as("n_docs"), sum("toks").as("n_tokens"))
          .orderBy("lang", "shard", "seq_id")
      },
      Some(s"""WITH d AS (SELECT doc_id, lang,
             |  len(string_split(text, ' '))::BIGINT AS toks,
             |  doc_id % $packShards AS shard FROM documents),
             |p AS (SELECT *, coalesce(sum(toks) OVER (PARTITION BY lang, shard
             |  ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior
             |  FROM d)
             |SELECT lang, shard, floor(prior / 128)::BIGINT AS seq_id,
             |count(*) AS n_docs, sum(toks)::BIGINT AS n_tokens
             |FROM p GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // Deterministic stratified sampling — the data-mixing primitive of
    // a training-data pipeline: per-language keep-rates applied via an
    // ARITHMETIC hash of the stable doc_id (Knuth multiplicative mod
    // 2^32), not rand(). Reproducible across runs, engines, partition
    // layouts, and cluster sizes — resampling at 100 TB yields the
    // same corpus bit-for-bit, and a re-run after appending documents
    // keeps every previously-selected doc. Rates arrive as a small
    // broadcast dimension (the "mixing weights" table); thresholds are
    // integers so no float boundary can flip between engines.
    Q("q_corpus_mix",
      (s, d) => {
        import s.implicits._
        val rates = Seq( // lang -> keep numerator out of 2^32
          ("en", (0.25 * 4294967296.0).toLong),
          ("de", (0.50 * 4294967296.0).toLong),
          ("fr", (0.50 * 4294967296.0).toLong),
          ("es", (0.75 * 4294967296.0).toLong),
          ("zh", (1.00 * 4294967296.0).toLong)).toDF("lang", "keep_below")
        t(s, d, "documents")
          .join(broadcast(rates), Seq("lang"), "left")
          .where(pmod(col("doc_id") * lit(2654435761L), lit(4294967296L)) <
            coalesce(col("keep_below"), lit(0L)))
          .groupBy("lang")
          .agg(count(lit(1)).as("kept"), sum("n_chars").as("kept_chars"))
          .orderBy("lang")
      },
      Some("""WITH rates(lang, keep_below) AS (VALUES
             | ('en', CAST(1073741824 AS BIGINT)), ('de', CAST(2147483648 AS BIGINT)),
             | ('fr', CAST(2147483648 AS BIGINT)), ('es', CAST(3221225472 AS BIGINT)),
             | ('zh', CAST(4294967296 AS BIGINT)))
             |SELECT d.lang, count(*) AS kept, sum(n_chars)::BIGINT AS kept_chars
             |FROM documents d JOIN rates r ON d.lang = r.lang
             |WHERE (d.doc_id * 2654435761) % 4294967296 < r.keep_below
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // D29: BM25 relevance scoring (Okapi BM25, the corpus-search /
    // quality-weighting primitive): score every document against a
    // query term set. Scale shape: the corpus tokenizes map-side and
    // the explode is filtered to the query terms IMMEDIATELY — only
    // (doc_id, dl, matched-term) rows ever shuffle, so cost tracks
    // matches, not vocabulary; df/idf and the (N, avgdl) scalars are
    // tiny broadcast sides. BM25+ idf (ln(1 + ...)) keeps scores
    // positive at any df.
    Q("q_text_bm25",
      (s, d) => {
        val terms = Seq("vector", "merge", "window")
        val (k1, b) = (1.2, 0.75)
        val docs = t(s, d, "documents").select("doc_id", "text")
          .withColumn("toks",
            filter(split(lower(col("text")), " "), x => x =!= ""))
          .withColumn("dl", size(col("toks")))
        val stats = docs.agg(
          count(lit(1)).cast("double").as("n_docs"), avg("dl").as("avgdl"))
        val tf = docs
          .select(col("doc_id"), col("dl"), explode(col("toks")).as("term"))
          .where(col("term").isin(terms: _*))
          .groupBy("doc_id", "dl", "term")
          .agg(count(lit(1)).cast("double").as("tf"))
        val df = tf.groupBy("term")
          .agg(count_distinct(col("doc_id")).cast("double").as("df"))
        tf.join(broadcast(df), "term")
          .crossJoin(broadcast(stats))
          .withColumn("idf",
            log(lit(1.0) + (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5)))
          .withColumn("contrib",
            col("idf") * col("tf") * (lit(k1) + 1) /
              (col("tf") + lit(k1) *
                (lit(1) - lit(b) + lit(b) * col("dl") / col("avgdl"))))
          .groupBy("doc_id")
          .agg(round(sum("contrib") + lit(1e-9), 4).as("bm25"))
          .orderBy("doc_id")
      },
      Some("""WITH docs AS (
             |  SELECT doc_id,
             |    len(list_filter(string_split(lower(text), ' '), x -> x <> '')) AS dl,
             |    list_filter(string_split(lower(text), ' '), x -> x <> '') AS toks
             |  FROM documents),
             |stats AS (SELECT count(*)::DOUBLE AS n_docs, avg(dl) AS avgdl FROM docs),
             |tf AS (
             |  SELECT doc_id, dl, t AS term, count(*)::DOUBLE AS tf
             |  FROM (SELECT doc_id, dl, unnest(toks) AS t FROM docs)
             |  WHERE t IN ('vector', 'merge', 'window')
             |  GROUP BY 1, 2, 3),
             |df AS (SELECT term, count(DISTINCT doc_id)::DOUBLE AS df FROM tf GROUP BY 1)
             |SELECT doc_id, round(sum(
             |  ln(1.0 + (n_docs - df.df + 0.5) / (df.df + 0.5)) * tf * (1.2 + 1) /
             |  (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))) + 1e-9, 4) AS bm25
             |FROM tf JOIN df ON tf.term = df.term CROSS JOIN stats
             |GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // D30: deterministic stratified sampling — EXACTLY k docs per
    // language, chosen by smallest multiplicative hash (a seeded,
    // layout-independent permutation of doc_id, the q_corpus_mix
    // device), selected through the bounded-heap TopKPerGroup operator
    // instead of a per-language window sort: ≤ k rows shuffle per
    // (language, partition), so drawing a 10k-doc eval sample from a
    // 100 TB corpus never routes a language's whole corpus through one
    // reducer. The oracle re-derives the identical sample via
    // row_number, pinning sample MEMBERSHIP (min doc_id + char sum),
    // not just size.
    Q("q_corpus_sample",
      (s, d) => {
        val hashed = t(s, d, "documents").select("doc_id", "lang", "n_chars")
          // negate: TopKPerGroup keeps LARGEST orderCol; we want smallest hash
          .withColumn("nh",
            -pmod(col("doc_id") * lit(2654435761L), lit(4294967296L)).cast("double"))
        graft.plans.TopK.perGroup(hashed, Seq("lang"), "nh", "doc_id", 20)
          .groupBy("lang")
          .agg(count(lit(1)).as("n"), sum("n_chars").as("sampled_chars"),
            min("doc_id").as("first_doc"))
          .orderBy("lang")
      },
      Some("""SELECT lang, count(*) AS n, sum(n_chars)::BIGINT AS sampled_chars,
             |min(doc_id) AS first_doc
             |FROM (SELECT *, row_number() OVER (PARTITION BY lang
             |      ORDER BY (doc_id * 2654435761) % 4294967296, doc_id) AS rn
             |      FROM documents)
             |WHERE rn <= 20 GROUP BY 1 ORDER BY 1""".stripMargin)),
  )

  /** Shared bigram-LM scoring stream (q_text_lmscore / q_corpus_buckets):
    * per-doc mean frequency of its bigrams under a corpus bigram model.
    * The model is CAPPED to the top-K most frequent bigrams
    * (deterministic tie-break on the bigram itself): a full bigram
    * table over an open-vocabulary web corpus is NOT broadcastable,
    * and the cap — the standard frequency-cutoff LMs use anyway —
    * bounds the broadcast at K rows regardless of corpus size.
    * TakeOrdered (sort-free top-K) selects it; out-of-model bigrams
    * score 0 via the left join's coalesce. Kept integer-exact until
    * one final division so the oracle hash-matches; the generator
    * emits an index and the bigram is built from attributes (never
    * explode(transform(...)) — §6.5.3).
    */
  private def lmScored(s: SparkSession, d: String): DataFrame = {
    val modelK = 5000
    val ex = t(s, d, "documents")
      .withColumn("ws", split(col("text"), " "))
      .where(size(col("ws")) >= 2)
      .select(col("doc_id"), col("ws"),
        explode(sequence(lit(0), size(col("ws")) - 2)).as("i"))
      .select(col("doc_id"),
        concat(col("ws")(col("i")), lit(" "), col("ws")(col("i") + 1)).as("bg"))
    val model = ex.groupBy("bg").agg(count(lit(1)).as("bf"))
      .orderBy(desc("bf"), col("bg")).limit(modelK)
    ex.join(broadcast(model), Seq("bg"), "left")
      .groupBy("doc_id")
      .agg(round(sum(coalesce(col("bf"), lit(0L))) / count(lit(1)) + lit(1e-9), 4).as("lm_score"),
        count(lit(1)).as("n_bigrams"))
  }

  /** DuckDB mirror of lmScored's ex/model CTEs (shared by the two
    * oracles so the engines cannot drift).
    */
  private def lmScoreCte: String =
    """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |ex AS (SELECT doc_id, ws[i+1] || ' ' || ws[i+2] AS bg
      |       FROM w, unnest(range(0, len(ws)-1)) AS t(i) WHERE len(ws) >= 2),
      |model AS (SELECT bg, count(*) AS bf FROM ex GROUP BY 1
      |          ORDER BY bf DESC, bg LIMIT 5000)
      |""".stripMargin
}
