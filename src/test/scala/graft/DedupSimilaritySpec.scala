package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** D-block dedup / ANN operators against ground truth computed
  * independently (brute-force exact measures on the small SF).
  */
class DedupSimilaritySpec extends AnyFunSuite {
  import SharedSpark.{sf, spark}

  /** Exact shingle-Jaccard for every doc pair (quadratic — spec-only). */
  private lazy val truePairs: Map[(Long, Long), Double] = {
    val sh = operators.DedupOps.tokenized(spark, sf)
      .select(col("doc_id"), operators.DedupOps.shingleHashes(col("ws")).as("sh"))
    val a = sh.select(col("doc_id").as("da"), col("sh").as("sa"))
    val b = sh.select(col("doc_id").as("db"), col("sh").as("sb"))
    a.crossJoin(b).where(col("da") < col("db"))
      .select(col("da"), col("db"),
        (size(array_intersect(col("sa"), col("sb"))).cast("double") /
          size(array_union(col("sa"), col("sb")))).as("j"))
      .where(col("j") > 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
  }

  test("corpus has planted near-dups (sanity)") {
    assert(truePairs.count(_._2 >= 0.9) >= 1, s"found ${truePairs.size} pairs > 0.2")
  }

  test("minhash LSH finds every true near-dup pair (recall at j>=0.9)") {
    val found = Registry.byName("q_dedup_minhash").run(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val must = truePairs.filter(_._2 >= 0.9).keySet
    assert(must.subsetOf(found), s"missed ${must -- found}")
    // precision: everything surfaced is at least moderately similar
    found.foreach { p => assert(truePairs.getOrElse(p, 0.0) >= 0.3, s"false positive $p") }
  }

  test("ngram verification equals exact Jaccard thresholding") {
    val got = Registry.byName("q_dedup_ngram").run(spark, sf)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val exact = truePairs.filter(_._2 >= 0.8)
    assert(got.keySet == exact.keySet, s"got=${got.keySet} exact=${exact.keySet}")
    got.foreach { case (p, j) => assert(math.abs(j - exact(p)) < 1e-3) }
  }

  test("simhash pairs are all true near-dups") {
    val found = Registry.byName("q_dedup_simhash").run(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    found.foreach { p =>
      assert(truePairs.getOrElse(p, 0.0) >= 0.5, s"simhash false positive $p") }
  }

  test("embedding LSH recovers all 20 planted near-dup pairs") {
    val rows = Registry.byName("q_dedup_embedding").run(spark, sf).collect()
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == (0L until 20L).map(i => (i, i + 100000L)).toSet, pairs)
    rows.foreach(r => assert(r.getDouble(2) >= 0.99))
  }

  test("knn brute returns k descending-similarity neighbors per query") {
    val rows = Registry.byName("q_knn_brute").run(spark, sf).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.size == 10 && byQ.values.forall(_.length == 3))
    byQ.values.foreach { g =>
      val sims = g.sortBy(_.getLong(1)).map(_.getDouble(3))
      assert(sims.sameElements(sims.sorted.reverse), sims.toSeq)
    }
  }

  test("IVF ANN recalls most of the brute-force top-k") {
    val brute = Registry.byName("q_knn_brute").run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf = Registry.byName("q_knn_ivf").run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.5, s"IVF recall $recall") // nprobe=4 of k=16 cells
  }

  test("persisted PQ index answers without retraining and is stable across queries") {
    val idx = s"${operators.Lakehouse.scratch}/spec_pq_index"
    operators.Clustering.buildPqIndex(spark, sf, idx)
    val r1 = operators.Clustering.queryPqIndex(spark, sf, idx).collect()
    // a second query against the same snapshot does no training and
    // must be bit-identical
    val r2 = operators.Clustering.queryPqIndex(spark, sf, idx).collect()
    assert(r1.toSeq == r2.toSeq)
    val brute = Registry.byName("q_knn_brute").run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val got = r1.map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute & got).size.toDouble / brute.size
    assert(recall >= 0.5, s"persisted-index recall $recall")
  }

  test("incremental PQ append: new vectors found, no retrain, base files untouched") {
    val idx = s"${operators.Lakehouse.scratch}/spec_pq_inc"
    operators.Clustering.buildPqIndex(spark, sf, idx)
    val codesBefore = sources.LakeTable.read(spark, s"$idx/codes").count()
    val booksV0 = sources.LakeTable.currentVersion(spark, s"$idx/codes").get
    val booksVer = sources.LakeTable.currentVersion(spark, s"$idx/books").get
    val baseTop = operators.Clustering.queryPqIndex(spark, sf, idx).collect()
      .filter(_.getLong(1) == 1L).map(r => r.getLong(0) -> r.getLong(2)).toMap

    val planted = operators.Clustering.newVectorBatch(spark, sf)
    operators.Clustering.appendToPqIndex(spark, idx, planted)
    // append = new codes version with exactly the batch added; the
    // codebooks (the trained artifact) must not have been touched
    assert(sources.LakeTable.read(spark, s"$idx/codes").count()
      == codesBefore + planted.count())
    assert(sources.LakeTable.currentVersion(spark, s"$idx/codes").get == booksV0 + 1)
    assert(sources.LakeTable.currentVersion(spark, s"$idx/books").get == booksVer)
    // old snapshot still answers exactly as before (readers pin versions)
    val oldCodes = sources.LakeTable.read(spark, s"$idx/codes", Some(booksV0)).count()
    assert(oldCodes == codesBefore)

    val after = operators.Clustering.queryPqIndex(spark, sf, idx,
      extraCorpus = Some(planted)).collect()
    // every query's top-1 is now its planted near-copy at cosine ~1
    after.filter(_.getLong(1) == 1L).foreach { r =>
      assert(r.getLong(2) == r.getLong(0) + 200000L,
        s"query ${r.getLong(0)} top-1 should be its planted copy: $r")
      assert(r.getDouble(3) >= 0.999, r.toString)
    }
    // the pre-append winners are still present, shifted one rank down
    after.filter(_.getLong(1) == 2L).foreach { r =>
      assert(baseTop(r.getLong(0)) == r.getLong(2),
        s"old top-1 should now be rank 2: $r vs ${baseTop(r.getLong(0))}")
    }
  }

  test("PQ ANN with exact re-rank recalls most of the brute-force top-k") {
    val brute = Registry.byName("q_knn_brute").run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val pq = Registry.byName("q_knn_pq").run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (brute & pq).size.toDouble / brute.size
    assert(recall >= 0.5, s"PQ recall $recall") // 8x16 codebooks, shortlist 16
    // re-ranked sims are exact, so they can never beat the brute best
    val bruteBest = Registry.byName("q_knn_brute").run(spark, sf).collect()
      .groupBy(_.getLong(0)).map { case (q, g) => q -> g.map(_.getDouble(3)).max }
    Registry.byName("q_knn_pq").run(spark, sf).collect().foreach { r =>
      assert(r.getDouble(3) <= bruteBest(r.getLong(0)) + 1e-9)
    }
  }

  test("dedup clusters contain every verified near-dup pair") {
    val pairs = Registry.byName("q_dedup_minhash").run(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // Assert on the label fixpoint directly: the report query's members
    // column is a bounded 16-id sample (scale hygiene), so co-membership
    // must be checked against labels, not the sample string.
    val labels = operators.Clustering.clusterLabels(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    pairs.foreach { case (a, b) =>
      assert(labels(a) == labels(b), s"pair ($a,$b) split across clusters")
    }
    // And the report rows stay consistent: sample bounded by 16 and by
    // cluster_size, sample ids sorted ascending.
    Registry.byName("q_dedup_clusters").run(spark, sf).collect().foreach { r =>
      val ids = r.getString(2).split(",").map(_.toLong)
      assert(ids.length <= 16 && ids.length <= r.getLong(1))
      assert(ids.sameElements(ids.sorted), "members sample not sorted")
    }
  }

  test("knn LSH neighbors never beat the brute-force best (exactness bound)") {
    val brute = Registry.byName("q_knn_brute").run(spark, sf).collect()
      .groupBy(_.getLong(0)).map { case (q, g) => q -> g.map(_.getDouble(3)).max }
    val lsh = Registry.byName("q_knn_lsh").run(spark, sf).collect()
    assert(lsh.nonEmpty)
    lsh.foreach { r =>
      assert(r.getDouble(3) <= brute(r.getLong(0)) + 1e-9,
        s"LSH sim above exact max for query ${r.getLong(0)}")
    }
  }

  test("SemDeDup drops exactly the 20 planted copies, keeps every original") {
    val rows = Registry.byName("q_dedup_semantic").run(spark, sf).collect()
    val nEmb = Tables(spark, sf, "embeddings").count()
    // cell populations account for the whole corpus (originals + plants)
    assert(rows.map(_.getLong(1)).sum == nEmb + 20)
    // every planted copy sits within cos >= tau of its lower-id original
    // in the same k-means cell, so exactly the 20 plants are dropped; the
    // natural corpus (max pairwise cosine ~0.51) contributes none.
    assert(rows.map(_.getLong(3)).sum == 20L, rows.mkString(";"))
    rows.foreach(r => assert(r.getLong(2) + r.getLong(3) == r.getLong(1)))
  }

  test("q_corpus_shuffle is a seeded permutation: every doc placed once, dense positions") {
    val rows = Registry.byName("q_corpus_shuffle").run(spark, sf).collect()
    val nDocs = Tables(spark, sf, "documents").count()
    assert(rows.length == nDocs)
    assert(rows.map(_.getLong(0)).distinct.length == nDocs) // each doc once
    // positions within a shard are 1..|shard| with no gaps
    rows.groupBy(_.getLong(1)).foreach { case (_, rs) =>
      val ps = rs.map(_.getLong(2)).sorted
      assert(ps.head == 1L && ps.last == ps.length.toLong && ps.distinct.length == ps.length)
    }
  }

  test("q_corpus_buckets: per-language terciles are balanced within one doc") {
    val rows = Registry.byName("q_corpus_buckets").run(spark, sf).collect()
    rows.groupBy(_.getString(1)).foreach { case (lang, rs) =>
      val sizes = rs.groupBy(_.getString(2)).view.mapValues(_.length).toMap
      assert(Set("head", "middle", "tail").subsetOf(sizes.keySet) || rs.length < 3, s"$lang $sizes")
      if (sizes.size == 3) assert(sizes.values.max - sizes.values.min <= 1, s"$lang $sizes")
    }
  }

  test("clusterLabels: driver union-find fast path equals the distributed loop") {
    val fast = operators.Clustering.clusterLabels(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    spark.conf.set("spark.graft.cc.driverEdgeLimit", "0") // force the loop
    try {
      val loop = operators.Clustering.clusterLabels(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(fast == loop, s"fast ${fast.size} labels vs loop ${loop.size}")
      assert(fast.nonEmpty)
    } finally spark.conf.unset("spark.graft.cc.driverEdgeLimit")
  }

  test("clustering releases its checkpoints: no persisted RDD outlives the call") {
    def persisted = spark.sparkContext.getPersistentRDDs.keySet
    val before = persisted
    val clusters = operators.Clustering.dedupClusters(spark, sf).collect()
    assert(clusters.nonEmpty)
    assert(persisted -- before == Set.empty, "driver path left RDDs behind")
    // The distributed loop keeps only the checkpoint its returned
    // labels read; the edges and every superseded labels set are gone.
    spark.conf.set("spark.graft.cc.driverEdgeLimit", "0")
    try {
      val before2 = persisted
      val loop = operators.Clustering.dedupClusters(spark, sf).collect()
      assert(loop.toSeq == clusters.toSeq)
      assert((persisted -- before2).size == 1, s"loop left ${persisted -- before2}")
    } finally spark.conf.unset("spark.graft.cc.driverEdgeLimit")
  }
}
