package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.Glue
import graft.plans.{AdcDistance, CosineSimilarity, HyperplaneSketch, MinHashSignature, NearestCentroid, NgramHashes, SimHash64}

/** Column-API wrappers for graft's native expressions plus
  * HOF-composed reference implementations (used by specs to
  * cross-check the codegen paths).
  */
object Vectors {

  /** Native codegen cosine similarity over array<float> columns. */
  def cosineSim(a: Column, b: Column): Column =
    Glue.column(CosineSimilarity(Glue.expression(a), Glue.expression(b)))

  /** HOF reference implementation of cosine (double accumulation in
    * index order, same math as the native expression).
    */
  def cosineSimHof(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)
    val na = aggregate(a, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double"))
    val nb = aggregate(b, lit(0.0), (acc, v) => acc + v.cast("double") * v.cast("double"))
    when(na === 0.0 || nb === 0.0, 0.0).otherwise(dot / (sqrt(na) * sqrt(nb)))
  }

  /** `xxhash64` of every `n` consecutive tokens of a string-array
    * column, as one native loop per row (`distinct`: first occurrence
    * of each hash only, in order). Shorter than `n` → empty array.
    */
  def ngramHashes(ws: Column, n: Int, distinct: Boolean): Column =
    Glue.column(NgramHashes(Glue.expression(ws), n, distinct))

  def minhash(hashes: Column, numHashes: Int): Column =
    Glue.column(MinHashSignature(Glue.expression(hashes), numHashes))

  def simhash(hashes: Column): Column =
    Glue.column(SimHash64(Glue.expression(hashes)))

  /** Index of the nearest centroid (squared euclidean, first-min tie
    * rule — MLlib KMeans assignment semantics) as a native fused
    * expression; the centroid matrix is a codegen reference constant.
    */
  def nearestCentroid(vec: Column, centroids: Array[Array[Float]]): Column =
    Glue.column(NearestCentroid(Glue.expression(vec), centroids))

  /** PQ asymmetric-distance lookup: Σ dtab[mi*ksub + codes[mi]] as one
    * fused codegen loop (no intermediate arrays, no per-element boxed
    * element_at) — the q_knn_pq probe-time hot path.
    */
  def adcDistance(codes: Column, dtab: Column, ksub: Int): Column =
    Glue.column(AdcDistance(Glue.expression(codes), Glue.expression(dtab), ksub))

  /** Random-hyperplane sketch: `bits`-bit sign pattern of the vector
    * against `numTables` deterministic hyperplanes each — returns an
    * array of `numTables` bucket keys. Native fused expression; seeded
    * constants so sketches agree across executors and runs.
    */
  def hyperplaneSketches(vec: Column, numTables: Int, bits: Int, dim: Int): Column =
    Glue.column(HyperplaneSketch(Glue.expression(vec), numTables, bits, dim))

  /** Quantile-bucket rank: count of `bounds` entries <= the double
    * column, via native binary search over the constant cut array
    * (the Z-order rewrite's per-row hot loop).
    */
  def sortedBucket(v: Column, bounds: Array[Double]): Column =
    Glue.column(graft.plans.SortedBucket(Glue.expression(v), bounds))

  /** Expose the native expressions to TEXT SQL (`cosine_sim(a,b)`,
    * `minhash_sig(hashes, k)`, `simhash64(hashes)`) — the SQL-gateway
    * user gets the same fused codegen paths as the Column API.
    */
  def registerSqlFunctions(spark: org.apache.spark.sql.SparkSession): Unit = {
    Glue.registerFunction(spark, "cosine_sim",
      args => CosineSimilarity(args(0), args(1)))
    Glue.registerFunction(spark, "minhash_sig", args =>
      MinHashSignature(args(0), args(1) match {
        case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
        case other => other.eval().asInstanceOf[Int]
      }))
    Glue.registerFunction(spark, "simhash64", args => SimHash64(args(0)))
  }
}
