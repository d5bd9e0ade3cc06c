package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import graft.{Q, Tables}
import graft.functions.Vectors
import graft.plans.TopK

/** IVF-style ANN (coarse k-means quantizer + cell probing) and
  * connected-components clustering of near-dup pairs — the two
  * remaining pieces of a production-scale similarity stack.
  */
object Clustering {

  private def t(s: SparkSession, d: String, n: String) = Tables(s, d, n)

  /** D16: IVF ANN. Train a k-cell coarse quantizer (seeded KMeans on
    * the corpus), assign corpus vectors to cells, then answer each
    * query by scanning only its `nprobe` nearest cells. At 100 TB the
    * quantizer trains on a sample, the assignment is one map pass,
    * and each query touches nprobe/k of the corpus.
    */
  def knnIvf(s: SparkSession, d: String, k: Int = -1, nprobe: Int = -1, topK: Int = 3): DataFrame = {
    import s.implicits._
    val emb = t(s, d, "embeddings")
    val corpus = emb.where(col("vec_id") >= 10).select("vec_id", "embedding")
    val queries = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))

    // The coarse quantizer only needs O(1000·k) points to converge —
    // train on a bounded sample, never the full corpus (at 100 TB a
    // full-corpus fit would be a quantizer trained with 10^9× more
    // data than it can use). The sample is collected to the driver
    // (≤100k × 64 floats ≈ 25 MB) and fit with the seeded in-memory
    // Lloyd's below — the same approach FAISS takes — because a
    // distributed k-means over a driver-sized sample pays a dozen
    // scheduler round-trips for work a single core finishes in
    // milliseconds (measured: 9 s → <1 s on the bench at sf0.1).
    // Deterministic seed keeps it reproducible; the corpus-wide
    // assignment below stays native codegen, no UDF anywhere.
    val trainCap = 100000L
    val n = corpus.count()
    // CORPUS-SCALED parameters (k = -1 / nprobe = -1 = derive): a
    // fixed cell count degrades recall as the corpus grows — the sf1
    // gate measured 0.43 at 10× data with the old fixed k=16/probe=4,
    // below the 0.5 floor. nlist ≈ √N with a 25% probe fraction keeps
    // the scanned fraction constant while cells stay tight: measured
    // 0.63 / 0.70 / 0.73 at sf0.01 / sf0.1 / sf1 — recall now RISES
    // with scale. Per-query work stays ∝ nprobe/nlist of the corpus.
    val kEff = if (k > 0) k else math.max(16, math.round(math.sqrt(n.toDouble)).toInt)
    val nprobeEff = if (nprobe > 0) nprobe else math.max(4, kEff / 4)
    // The sample only needs ~40 points per centroid to place centroids
    // (the FAISS clustering guidance); Lloyd's is O(points × k), so an
    // oversized sample is pure driver time — at sf5 (k=316) the flat
    // 100k cap cost ~15 s of single-core k-means for no recall gain.
    val trainN = math.min(trainCap, math.max(10000L, 40L * kEff))
    val sampled = if (n <= trainN) corpus
      else corpus.sample(withReplacement = false, trainN.toDouble / n, 42L)
    val pts: Array[Array[Float]] = sampled.select("embedding")
      .as[Seq[Float]].collect().map(_.toArray)
    val centroidRows: Array[Array[Float]] = lloyd(pts, kEff, iters = 10, seed = 42L)
    val centroids: Array[(Int, Array[Float])] =
      centroidRows.zipWithIndex.map { case (c, i) => (i, c) }

    // Corpus → cell assignment: one shuffle-free map pass through the
    // native NearestCentroid expression (same squared-euclidean
    // first-min rule as model.transform, minus its row-by-row
    // Vector-conversion UDF boundary).
    val assigned = corpus
      .withColumn("cell", Vectors.nearestCentroid(col("embedding"), centroidRows))

    // Each query probes its nprobe nearest centroids. Cell selection
    // and the final top-k both go through the two-phase bounded-heap
    // TopK (≤ k local winners shuffled per partition) — no Window node,
    // no single-reducer-per-query sort anywhere in the plan.
    val centDf = centroids.toSeq.toDF("cell", "centroid")
    val probeScored = queries.crossJoin(broadcast(centDf))
      .withColumn("csim", Vectors.cosineSim(col("qe"), col("centroid")))
      .select("qid", "qe", "cell", "csim")
    val probes = TopK.perGroup(probeScored, Seq("qid"), "csim", "cell", nprobeEff)
      .select("qid", "qe", "cell")

    val scored = assigned.join(broadcast(probes), Seq("cell"))
      .withColumn("sim", Vectors.cosineSim(col("embedding"), col("qe")))
      .select("qid", "vec_id", "sim")
    TopK.perGroupRanked(scored, Seq("qid"), "sim", "vec_id", topK)
      .select(col("qid"), col("rn"), col("vec_id").as("neighbor_id"), round(col("sim"), 4).as("sim"))
      .orderBy("qid", "rn")
  }

  /** Driver-side seeded Lloyd's k-means for the tiny per-subspace PQ
    * codebooks (ksub centroids over `sub`-dim points from a bounded
    * sample — milliseconds of driver work, deterministic).
    */
  private def lloyd(points: Array[Array[Float]], k: Int, iters: Int, seed: Long): Array[Array[Float]] = {
    val rnd = new scala.util.Random(seed)
    val dim = points.head.length
    var cents = rnd.shuffle(points.toVector).take(k).map(_.clone).toArray
    while (cents.length < k) cents = cents :+ cents(cents.length % math.max(1, cents.length)).clone
    def nearest(p: Array[Float]): Int = {
      var best = 0; var bd = Double.MaxValue; var c = 0
      while (c < cents.length) {
        var d = 0.0; var i = 0
        while (i < dim) { val x = p(i) - cents(c)(i); d += x * x; i += 1 }
        if (d < bd) { bd = d; best = c }
        c += 1
      }
      best
    }
    for (_ <- 0 until iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      points.foreach { p =>
        val c = nearest(p); counts(c) += 1
        var i = 0; while (i < dim) { sums(c)(i) += p(i); i += 1 }
      }
      for (c <- 0 until k if counts(c) > 0; i <- 0 until dim)
        cents(c)(i) = (sums(c)(i) / counts(c)).toFloat
    }
    cents
  }

  /** D19: product-quantization ANN (the compressed-codes scale path):
    * 64-dim float vectors compress to M=8 one-byte codes (32× smaller
    * than float32 — at 100 TB the PQ index of a trillion vectors fits
    * where the raw vectors cannot). Per subspace, a 16-centroid
    * codebook is trained driver-side on a bounded sample; ENCODING is
    * one shuffle-free map pass through the native NearestCentroid
    * expression per subvector slice. Queries score by asymmetric
    * distance (ADC): each of the (few, broadcast) queries carries its
    * 8×16 subspace distance table, and the approximate distance is a
    * pure HOF table lookup over the stored codes — no vector math per
    * corpus row at probe time. The ADC shortlist is re-ranked with
    * exact cosine before emitting top-k.
    */
  def knnPq(s: SparkSession, d: String, m: Int = 16, ksub: Int = 16,
      topK: Int = 3, shortlist: Int = -1): DataFrame = {
    import s.implicits._
    val emb = t(s, d, "embeddings")
    val corpus = emb.where(col("vec_id") >= 10).select("vec_id", "embedding")
    val queries = emb.where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val dim = 64
    val sub = dim / m

    // Everything is L2-NORMALIZED before quantization: on unit vectors
    // squared L2 is 2-2·cosine, so the ADC ordering agrees with the
    // cosine ordering the exact path uses (on raw vectors they
    // diverge — measured 27% vs 80%+ top-3 recall on this corpus).
    def normalized(a: Array[Float]): Array[Float] = {
      var nn = 0.0; var i = 0
      while (i < a.length) { nn += a(i).toDouble * a(i); i += 1 }
      val inv = if (nn == 0.0) 0f else (1.0 / math.sqrt(nn)).toFloat
      a.map(_ * inv)
    }
    val norm2 = aggregate(col("embedding"), lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double"))
    val corpusN = corpus
      .withColumn("nrm", sqrt(norm2))
      .withColumn("emb_n", transform(col("embedding"),
        x => when(col("nrm") === 0.0, 0f).otherwise((x.cast("double") / col("nrm")).cast("float"))))

    // bounded, deterministic codebook training sample
    val trainCap = 2000L
    val n = corpus.count()
    // CORPUS-SCALED re-rank list (shortlist = -1 = derive): with fixed
    // 8-byte codes, ADC ties thicken as the corpus grows, so a FIXED
    // shortlist loses the true top-k — the sf1 gate measured recall
    // 0.50 at 10× data with the old fixed 48 (floor 0.8). Re-ranking
    // max(48, N/100) keeps the exact re-rank at ~1% of the corpus per
    // query (still ~100× cheaper than brute force): measured 0.93 /
    // 0.87 / 0.90 at sf0.01 / sf0.1 / sf1.
    val shortlistEff = if (shortlist > 0) shortlist
      else math.max(48L, n / 100L).toInt
    val sample = (if (n <= trainCap) corpus
      else corpus.sample(withReplacement = false, trainCap.toDouble / n, 42L))
      .select("embedding").as[Seq[Float]].collect().map(v => normalized(v.toArray))
    val codebooks: Array[Array[Array[Float]]] = Array.tabulate(m) { mi =>
      lloyd(sample.map(_.slice(mi * sub, (mi + 1) * sub)), ksub, iters = 10, seed = 42L + mi)
    }

    // corpus → codes: one codegen map pass, 8 bytes of index per vector
    val codes = corpusN.withColumn("codes", array((0 until m).map { mi =>
      Vectors.nearestCentroid(slice(col("emb_n"), mi * sub + 1, sub), codebooks(mi))
    }: _*)).select("vec_id", "codes")

    // per-query ADC table: squared L2 from the query subvector to every
    // codebook centroid (queries are few and collected — the table is
    // 8×16 floats each, broadcast back)
    val qTables = queries.as[(Long, Seq[Float])].collect().map { case (qid, qe0) =>
      val qe = normalized(qe0.toArray)
      val tab = new Array[Float](m * ksub)
      for (mi <- 0 until m; c <- 0 until ksub) {
        var dd = 0.0; var i = 0
        while (i < sub) {
          val x = qe(mi * sub + i) - codebooks(mi)(c)(i); dd += x * x; i += 1
        }
        tab(mi * ksub + c) = dd.toFloat
      }
      (qid, tab.toSeq)
    }.toSeq.toDF("qid", "dtab")

    // ADC shortlist via bounded heaps (nadc = -adc so "best" = max):
    // each partition ships only its `shortlist` best codes per query.
    // The table lookup is the fused AdcDistance codegen expression —
    // the sequence/zip_with/element_at HOF it replaces allocated two
    // arrays + m boxed lookups per (row × query) and regressed 5× at
    // the TopK codegen seam (BENCH_r04).
    val adcScored = codes.crossJoin(broadcast(qTables))
      .withColumn("nadc", negate(Vectors.adcDistance(col("codes"), col("dtab"), ksub)))
      .select("qid", "vec_id", "nadc")
    val short = TopK.perGroup(adcScored, Seq("qid"), "nadc", "vec_id", shortlistEff)
      .select("qid", "vec_id")

    // exact re-rank of the tiny shortlist
    val rescored = short
      .join(corpus, "vec_id")
      .join(broadcast(queries), "qid")
      .withColumn("sim", Vectors.cosineSim(col("embedding"), col("qe")))
      .select("qid", "vec_id", "sim")
    TopK.perGroupRanked(rescored, Seq("qid"), "sim", "vec_id", topK)
      .select(col("qid"), col("rn"), col("vec_id").as("neighbor_id"), round(col("sim"), 4).as("sim"))
      .orderBy("qid", "rn")
  }

  /** D17: connected components over VERIFIED near-dup pairs (exact
    * shingle-Jaccard ≥ 0.8) by iterative min-label propagation: every
    * doc adopts the smallest doc_id reachable over edges; iterate
    * until fixpoint. Verified-pair graphs are tiny relative to the
    * corpus (edges = true dups), so the loop is a few small shuffles
    * regardless of corpus size — the standard transitive-closure step
    * real dedup pipelines run between verification and the keep-rule.
    */
  def dedupClusters(s: SparkSession, d: String): DataFrame = {
    // The members column is a bounded SAMPLE (the 16 smallest ids): a
    // boilerplate mega-cluster at 100 TB can hold 10⁶+ members, and an
    // unbounded collect_list would make one reducer assemble a multi-MB
    // array for a report cell. cluster_size stays exact (plain count);
    // the sample rides the bounded-heap TopK (k=16 per label), so no
    // operator anywhere holds more than 16 member ids per cluster —
    // slice(collect_list(...)) would still aggregate the full array
    // before slicing.
    val labels = clusterLabels(s, d)
    val sizes = labels.groupBy("label")
      .agg(count(lit(1)).cast("long").as("cluster_size"))
      .where(col("cluster_size") >= 2)
    val sample = TopK.perGroup(
        labels.withColumn("nid", negate(col("id"))), Seq("label"), "nid", "id", 16)
      .groupBy("label")
      .agg(sort_array(collect_list("id")).as("members"))
    sizes.join(sample, "label")
      .select(col("label").as("cluster_rep"), col("cluster_size"),
        concat_ws(",", transform(col("members"), _.cast("string"))).as("members"))
      .orderBy("cluster_rep")
  }

  /** Spark-side edge limit for the driver union-find fast path: below
    * it the verified-pair graph is collected and solved in
    * milliseconds; above it the distributed min-label loop runs.
    * 2M edges ≈ 32 MB of driver ids — far below any sane driver heap,
    * far above the graphs the small-SF gates and typical verified-pair
    * outputs produce.
    */
  private def ccDriverEdgeLimit(s: SparkSession): Int =
    s.conf.get("spark.graft.cc.driverEdgeLimit", "2000000").toInt

  /** Driver union-find with min-id representatives: exactly the
    * min-reachable-id labels the distributed loop converges to.
    */
  private def driverLabels(edges: Array[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      // union by MIN id so the root IS the component's label
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    parent.keys.toSeq.map(id => (id, find(id)))
  }

  /** Min-label propagation to fixpoint: (id, label) for every doc that
    * appears in a verified near-dup pair (label = min reachable id).
    *
    * REGIME DISPATCH (measured): verified-pair graphs are tiny
    * relative to the corpus (edges = true dups — 256 pairs at sf0.1),
    * and each distributed iteration costs a full join + aggregate +
    * checkpoint + convergence count (~0.3 s of fixed job latency per
    * round, ~1.2 s total at sf0.1) to move kilobytes. Below the edge
    * limit the graph is COLLECTED (one limit-guarded job) and solved
    * with a driver union-find — the same bounded-driver-work pattern
    * as the IVF Lloyd's training (knnIvf scaladoc); labels are
    * identical by construction (min reachable id). Past the limit the
    * distributed loop runs untouched — a 100 TB boilerplate graph
    * never lands on the driver.
    */
  private[graft] def clusterLabels(s: SparkSession, d: String): DataFrame = {
    // Materialize the pair pipeline ONCE before the regime probe: the
    // limit-guarded collect below executes most of the prefix-filter
    // join pipeline anyway (limit barely short-circuits a shuffle), and
    // without this the distributed fallback would re-run that most
    // expensive stage from scratch — exactly the large-graph regime the
    // dispatch protects. The distributed branch checkpoints its edge
    // union regardless, so this adds no materialization it didn't pay.
    val edges0 = DedupOps.ngramPairs(s, d, 0.8).select("doc_a", "doc_b")
      .localCheckpoint(true)
    val lim = ccDriverEdgeLimit(s)
    if (lim > 0) {
      // limit(n+1) bounds the collect: n+1 rows back means "too big".
      val head = edges0.limit(lim + 1).collect()
      if (head.length <= lim) {
        release(edges0)
        import s.implicits._
        return s.createDataset(driverLabels(
          head.map(r => (r.getLong(0), r.getLong(1))))).toDF("id", "label")
      }
    }
    // Symmetric edge list including self-loops so isolated members keep labels.
    // localCheckpoint: materialize the (tiny) edge/label sets and cut
    // lineage — otherwise each iteration's plan nests the previous
    // one and planning dominates (measured 11 s → ~2 s at sf0.1).
    // Every checkpoint but the returned labels is released as soon as
    // the checkpoint built from it is materialized.
    val edges = edges0
      .union(edges0.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .localCheckpoint(true)
    release(edges0)
    var labels = edges.select(col("doc_a").as("id")).distinct()
      .withColumn("label", col("id"))
      .localCheckpoint(true)
    var changed = 1L
    var iter = 0
    // Convergence needs graph-diameter iterations; near-dup clusters
    // are shallow, 20 is headroom so the fixpoint (== the oracle's
    // transitive closure) is always reached on sane inputs.
    while (changed > 0 && iter < 20) {
      // Each node adopts min(own label, neighbors' labels). The old
      // label rides along so convergence detection is one aggregate
      // over the checkpointed result, not another join.
      val viaEdges = edges
        .join(labels.withColumnRenamed("id", "doc_b"), "doc_b")
        .groupBy(col("doc_a").as("id"))
        .agg(min("label").as("nlabel"))
      val next = labels.join(viaEdges, Seq("id"), "left")
        .select(col("id"), col("label").as("old"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"))
        .localCheckpoint(true)
      changed = next.where(col("label") =!= col("old")).count()
      release(labels)
      labels = next.select("id", "label")
      iter += 1
    }
    release(edges)
    labels
  }

  /** Drops the blocks of the checkpoint(s) `df` reads. Only for frames
    * whose checkpoint nothing reads any more: a later read of one fails.
    */
  private def release(df: DataFrame): Unit =
    df.queryExecution.logical.foreach {
      case r: LogicalRDD => r.rdd.unpersist(blocking = false)
      case _ =>
    }

  /** D31: canonical-copy selection — the step AFTER clustering in a
    * real dedup pipeline: each near-dup cluster keeps exactly ONE
    * survivor (the longest copy, min doc_id on ties — "keep the most
    * complete version") and drops the rest. Selection goes through
    * the bounded-heap TopK (k=1 per cluster), never a window sort:
    * at 100 TB a boilerplate cluster with 10⁶ members must not route
    * through one reducer. Oracle re-derives clusters via the
    * recursive-CTE closure and the survivor via row_number.
    */
  def dedupCanonical(s: SparkSession, d: String): DataFrame = {
    stageCanonicalLabels(s, d)
    dedupCanonicalServe(s, d)
  }

  /** The cluster-label table D31 selects survivors from, persisted as
    * a LakeTable (the D24 move: the fixpoint is the rare batch job,
    * selection is the common path — a production pipeline materializes
    * the labels once and every keep-rule query reads them).
    */
  private def labelsPath = s"${Lakehouse.scratch}/dedup_labels"

  def stageCanonicalLabels(s: SparkSession, d: String): Unit =
    graft.sources.LakeTable.create(s, labelsPath, clusterLabels(s, d))

  /** Survivor selection alone, off the persisted labels — D31's verb.
    * Bounded-heap TopK (k=1 per cluster), never a window sort: at
    * 100 TB a boilerplate cluster with 10⁶ members must not route
    * through one reducer.
    */
  def dedupCanonicalServe(s: SparkSession, d: String): DataFrame = {
    val labels = graft.sources.LakeTable.read(s, labelsPath)
    val sized = labels.groupBy("label").agg(count(lit(1)).as("csz"))
      .where(col("csz") >= 2)
    val docs = Tables(s, d, "documents")
      .select(col("doc_id").as("id"), col("n_chars"))
    val cand = labels.join(sized, "label").join(docs, "id")
      .withColumn("len_d", col("n_chars").cast("double"))
    TopK.perGroup(cand, Seq("label"), "len_d", "id", 1)
      .select(col("label").as("cluster_rep"), col("id").as("survivor"),
        col("n_chars").as("survivor_chars"), (col("csz") - 1).as("dropped"))
      .orderBy("cluster_rep")
  }

  /** D24: persisted ANN index lifecycle. knnPq rebuilds its index per
    * query — fine for a demo, fatal at 100 TB where the index build is
    * a (rare) batch job and queries are the common path. buildPqIndex
    * persists the two PQ artifacts as LakeTables under `indexPath`:
    * `codes` (vec_id → m byte-codes, 32× smaller than the vectors) and
    * `books` (the m×ksub codebook centroids, a few KB). queryPqIndex
    * answers from the stored index alone — codebooks collected (tiny),
    * ADC tables broadcast, one codegen pass over codes, exact re-rank
    * fetching raw vectors by id — no training, no corpus-wide vector
    * math. Snapshot versioning of the index comes free from LakeTable
    * (rebuild = new version; readers pin a snapshot).
    */
  def buildPqIndex(s: SparkSession, d: String, indexPath: String,
      m: Int = 16, ksub: Int = 16): Unit = {
    import s.implicits._
    val dim = 64; val sub = dim / m
    val corpus = t(s, d, "embeddings").where(col("vec_id") >= 10)
      .select("vec_id", "embedding")
    val trainCap = 2000L
    val n = corpus.count()
    val sample = (if (n <= trainCap) corpus
      else corpus.sample(withReplacement = false, trainCap.toDouble / n, 42L))
      .select("embedding").as[Seq[Float]].collect().map(v => normalizedArr(v.toArray))
    val codebooks: Array[Array[Array[Float]]] = Array.tabulate(m) { mi =>
      lloyd(sample.map(_.slice(mi * sub, (mi + 1) * sub)), ksub, iters = 10, seed = 42L + mi)
    }
    val norm2 = aggregate(col("embedding"), lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double"))
    val codes = corpus
      .withColumn("nrm", sqrt(norm2))
      .withColumn("emb_n", transform(col("embedding"),
        x => when(col("nrm") === 0.0, 0f).otherwise((x.cast("double") / col("nrm")).cast("float"))))
      .withColumn("codes", array((0 until m).map { mi =>
        Vectors.nearestCentroid(slice(col("emb_n"), mi * sub + 1, sub), codebooks(mi))
      }: _*)).select("vec_id", "codes")
    graft.sources.LakeTable.create(s, s"$indexPath/codes", codes)
    val books = (for (mi <- 0 until m; ci <- 0 until ksub)
      yield (mi, ci, codebooks(mi)(ci).toSeq)).toDF("mi", "ci", "centroid")
    graft.sources.LakeTable.create(s, s"$indexPath/books", books)
  }

  /** The stored codebooks of a persisted PQ index (KBs, collected). */
  private def readBooks(s: SparkSession, indexPath: String): Array[Array[Array[Float]]] = {
    import s.implicits._
    val bookRows = graft.sources.LakeTable.read(s, s"$indexPath/books")
      .select("mi", "ci", "centroid").as[(Int, Int, Seq[Float])].collect()
    val m = bookRows.map(_._1).max + 1
    val ksub = bookRows.map(_._2).max + 1
    val codebooks = Array.ofDim[Array[Float]](m, ksub)
    bookRows.foreach { case (mi, ci, c) => codebooks(mi)(ci) = c.toArray }
    codebooks
  }

  /** D41: incremental index maintenance — encode a NEW vector batch
    * with the STORED codebooks (no retraining: the quantizer is a
    * trained artifact; FAISS `add` does exactly this) and append the
    * codes as a new LakeTable version. Write cost ∝ batch; the base
    * index files are untouched; readers pin snapshots. PQ recall on
    * late-arriving vectors degrades only if the data distribution
    * drifts from the training sample — at which point a rebuild is a
    * new index version, not an in-place mutation.
    */
  def appendToPqIndex(s: SparkSession, indexPath: String, vectors: DataFrame): Long = {
    val codebooks = readBooks(s, indexPath)
    val m = codebooks.length
    val sub = codebooks(0)(0).length
    val norm2 = aggregate(col("embedding"), lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double"))
    val newCodes = vectors
      .withColumn("nrm", sqrt(norm2))
      .withColumn("emb_n", transform(col("embedding"),
        x => when(col("nrm") === 0.0, 0f).otherwise((x.cast("double") / col("nrm")).cast("float"))))
      .withColumn("codes", array((0 until m).map { mi =>
        Vectors.nearestCentroid(slice(col("emb_n"), mi * sub + 1, sub), codebooks(mi))
      }: _*)).select("vec_id", "codes")
    graft.sources.LakeTable.append(s, s"$indexPath/codes", newCodes)
  }

  /** Answer top-k from a PERSISTED PQ index (see [[buildPqIndex]]).
    * `extraCorpus` supplies raw vectors for index entries appended
    * after the base build (the exact re-rank needs them; the base
    * rows keep resolving from the embeddings table).
    */
  def queryPqIndex(s: SparkSession, d: String, indexPath: String,
      topK: Int = 3, shortlist: Int = -1,
      extraCorpus: Option[DataFrame] = None): DataFrame = {
    import s.implicits._
    val codebooks = readBooks(s, indexPath)
    val m = codebooks.length
    val ksub = codebooks(0).length
    val sub = codebooks(0)(0).length
    val codes = graft.sources.LakeTable.read(s, s"$indexPath/codes")
    // same corpus-scaled re-rank rule as [[knnPq]], sized from the
    // INDEX itself (the stored code count is the served corpus) — off
    // the stats sidecars (metadata-only), falling back to a count
    // scan only when a sidecar is missing
    val shortlistEff = if (shortlist > 0) shortlist
      else {
        val n = graft.sources.LakeTable
          .aggregatedColumnNulls(s, s"$indexPath/codes")
          .map(_._1).getOrElse(codes.count())
        math.max(48L, n / 100L).toInt
      }
    val queries = t(s, d, "embeddings").where(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val qTables = queries.as[(Long, Seq[Float])].collect().map { case (qid, qe0) =>
      val qe = normalizedArr(qe0.toArray)
      val tab = new Array[Float](m * ksub)
      for (mi <- 0 until m; c <- 0 until ksub) {
        var dd = 0.0; var i = 0
        while (i < sub) {
          val x = qe(mi * sub + i) - codebooks(mi)(c)(i); dd += x * x; i += 1
        }
        tab(mi * ksub + c) = dd.toFloat
      }
      (qid, tab.toSeq)
    }.toSeq.toDF("qid", "dtab")
    // Same bounded-heap shortlist + re-rank shape as [[knnPq]]: no
    // Window, ≤ shortlist rows shuffled per (query, partition).
    val adcScored = codes.crossJoin(broadcast(qTables))
      .withColumn("adc", aggregate(
        zip_with(col("codes"), sequence(lit(0), lit(m - 1)),
          (c, mi) => element_at(col("dtab"), mi * ksub + c + 1).cast("double")),
        lit(0.0), (acc, v) => acc + v))
      .withColumn("nadc", negate(col("adc")))
      .select("qid", "vec_id", "nadc")
    val short = TopK.perGroup(adcScored, Seq("qid"), "nadc", "vec_id", shortlistEff)
      .select("qid", "vec_id")
    val base = t(s, d, "embeddings").where(col("vec_id") >= 10)
      .select("vec_id", "embedding")
    val corpus = extraCorpus.fold(base)(e => base.union(e.select("vec_id", "embedding")))
    val rescored = short
      .join(corpus, "vec_id")
      .join(broadcast(queries), "qid")
      .withColumn("sim", Vectors.cosineSim(col("embedding"), col("qe")))
      .select("qid", "vec_id", "sim")
    TopK.perGroupRanked(rescored, Seq("qid"), "sim", "vec_id", topK)
      .select(col("qid"), col("rn"), col("vec_id").as("neighbor_id"), round(col("sim"), 4).as("sim"))
      .orderBy("qid", "rn")
  }

  /** D34: SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient
    * learning at web-scale through semantic deduplication") —
    * CLUSTER-SCOPED embedding dedup: k-means partitions the corpus
    * into semantic cells, and near-duplicate pairs are only searched
    * WITHIN a cell. That is the whole scaling story: pairwise cosine
    * is quadratic, but k grows ∝ N (SemDeDup uses k ≈ N/10⁴) so the
    * per-cell population — and with it each cell's pair block — stays
    * bounded while the total work stays linear in N. Complementary to
    * q_dedup_embedding's hyperplane-LSH (recall from random
    * projections vs recall from learned semantic locality). Plan
    * shape: seeded codebook from a bounded sample (driver Lloyd's, the
    * IVF rationale above), assignment is one map pass through the
    * native NearestCentroid expression, then one cell-keyed self-join
    * — only (cell, vec_id, vector) rows shuffle, each cell's rows
    * co-locate in one partition, and the keep-first rule (drop a
    * vector iff a LOWER-id cell-mate sits within cosine ≥ τ) makes
    * survivors deterministic. Same planted-near-dup device as D05 so
    * the operator has signal to find.
    */
  /** The D34 input corpus: the embeddings table plus 20 planted
    * near-copies (vec_id+100000, cosine ≈ 0.99997 to their source) so
    * the operator has guaranteed signal. Shared with the
    * q_dedup_semantic_bounds property oracle, which needs the exact
    * same universe to compute its global drop bound.
    */
  def semCorpus(s: SparkSession, d: String): DataFrame = {
    val e = t(s, d, "embeddings")
    val planted = e.where(col("vec_id") < 20)
      .select((col("vec_id") + 100000).as("vec_id"),
        transform(col("embedding"),
          (x, i) => (x.cast("double") * (lit(1.0) + pmod(i, lit(7)) * 0.001)).cast("float"))
          .as("embedding"))
    e.select("vec_id", "embedding").union(planted)
  }

  def semDedup(s: SparkSession, d: String, k: Int = 8, tau: Double = 0.95): DataFrame = {
    import s.implicits._
    val corpus = semCorpus(s, d)

    val trainCap = 100000L
    val n = corpus.count()
    val sampled = if (n <= trainCap) corpus
      else corpus.sample(withReplacement = false, trainCap.toDouble / n, 42L)
    val pts: Array[Array[Float]] = sampled.select("embedding")
      .as[Seq[Float]].collect().map(_.toArray)
    val cents = lloyd(pts, k, iters = 10, seed = 42L)

    val assigned = corpus
      .withColumn("cell", Vectors.nearestCentroid(col("embedding"), cents))
    val mates = assigned.select(col("cell"),
      col("vec_id").as("vb"), col("embedding").as("eb"))
    val dropped = assigned.join(mates, Seq("cell"))
      .where(col("vb") < col("vec_id"))
      .withColumn("cos", round(Vectors.cosineSim(col("embedding"), col("eb")), 4))
      .where(col("cos") >= tau)
      .select("vec_id").distinct()
    val kept = assigned.join(dropped, Seq("vec_id"), "left_anti")
      .groupBy("cell").agg(count(lit(1)).as("n_kept"))
    assigned.groupBy("cell").agg(count(lit(1)).as("n_total"))
      .join(kept, Seq("cell"), "left")
      .select(col("cell"), col("n_total"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        (col("n_total") - coalesce(col("n_kept"), lit(0L))).as("n_dropped"))
      .orderBy("cell")
  }

  /** D41's incoming batch: perturbed near-copies of the query vectors
    * under fresh ids (vec_id+200000) — ±0.25% elementwise, cosine to
    * the original ≈ 0.999987 — so "the index now knows the new
    * vectors" is directly testable.
    */
  def newVectorBatch(s: SparkSession, d: String): DataFrame =
    t(s, d, "embeddings").where(col("vec_id") < 10)
      .select((col("vec_id") + 200000).as("vec_id"),
        transform(col("embedding"),
          (x, i) => (x.cast("double") * (lit(1.0) + pmod(i, lit(5)) * 0.0005)).cast("float"))
          .as("embedding"))

  private def normalizedArr(a: Array[Float]): Array[Float] = {
    var nn = 0.0; var i = 0
    while (i < a.length) { nn += a(i).toDouble * a(i); i += 1 }
    val inv = if (nn == 0.0) 0f else (1.0 / math.sqrt(nn)).toFloat
    a.map(_ * inv)
  }

  val qs: Seq[Q] = Seq(
    Q("q_knn_ivf", (s, d) => knnIvf(s, d), None),
    Q("q_dedup_semantic", (s, d) => semDedup(s, d), None),
    Q("q_knn_pq", (s, d) => knnPq(s, d), None),
    Q("q_ann_persisted", (s, d) => {
      val idx = s"${Lakehouse.scratch}/pq_index"
      buildPqIndex(s, d, idx)
      queryPqIndex(s, d, idx)
    }, None),

    // D41: incremental ANN — setup builds the base index (the rare
    // batch job); the benched verb is the ingest-time path: encode a
    // new batch with the stored codebooks, append as a new index
    // version, answer queries over base+delta. The planted batch is
    // near-copies of the queries, so correctness is observable: each
    // query's top-1 must become its planted copy (spec-pinned).
    Q.staged("q_ann_incremental",
      setup = (s, d) => buildPqIndex(s, d, s"${Lakehouse.scratch}/pq_inc"),
      verb = (s, d) => {
        val idx = s"${Lakehouse.scratch}/pq_inc"
        val planted = newVectorBatch(s, d)
        appendToPqIndex(s, idx, planted)
        queryPqIndex(s, d, idx, extraCorpus = Some(planted))
      }),
    // Oracle: same verified-pair edges in SQL, transitive closure via
    // a recursive CTE, min reachable id = the propagated label.
    Q("q_dedup_clusters", (s, d) => dedupClusters(s, d),
      Some(DedupOps.ngramPairsSql.replaceFirst("WITH ", "WITH RECURSIVE ") +
        """, e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
          |       UNION SELECT doc_b, doc_a FROM pairs),
          |reach(a, b) AS (
          |  SELECT a, a FROM e
          |  UNION
          |  SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
          |lab AS (SELECT a AS id, min(b) AS label FROM reach GROUP BY 1)
          |SELECT label AS cluster_rep, count(*)::BIGINT AS cluster_size,
          |  array_to_string(list_sort(list(id))[1:16], ',') AS members
          |FROM lab GROUP BY 1 HAVING count(*) >= 2 ORDER BY 1""".stripMargin)),

    // D31: canonical-copy selection (see dedupCanonical) — same
    // closure as D17, survivor = longest copy (min doc_id tiebreak).
    // Staged: the label fixpoint is the batch job (setup, shared shape
    // with D17); the benched verb is survivor selection off the
    // persisted label table.
    Q.staged("q_dedup_canonical",
      setup = (s, d) => stageCanonicalLabels(s, d),
      verb = (s, d) => dedupCanonicalServe(s, d),
      oracle = Some(DedupOps.ngramPairsSql.replaceFirst("WITH ", "WITH RECURSIVE ") +
        """, e AS (SELECT doc_a AS a, doc_b AS b FROM pairs
          |       UNION SELECT doc_b, doc_a FROM pairs),
          |reach(a, b) AS (
          |  SELECT a, a FROM e
          |  UNION
          |  SELECT r.a, e2.b FROM reach r JOIN e e2 ON r.b = e2.a),
          |lab AS (SELECT a AS id, min(b) AS label FROM reach GROUP BY 1),
          |ranked AS (
          |  SELECT l.label, l.id, doc.n_chars,
          |    row_number() OVER (PARTITION BY l.label
          |                       ORDER BY doc.n_chars DESC, l.id) AS rn,
          |    count(*) OVER (PARTITION BY l.label) AS csz
          |  FROM lab l JOIN documents doc ON l.id = doc.doc_id)
          |SELECT label AS cluster_rep, id AS survivor,
          |  n_chars AS survivor_chars, (csz - 1)::BIGINT AS dropped
          |FROM ranked WHERE rn = 1 AND csz >= 2 ORDER BY 1""".stripMargin)),
  )
}
