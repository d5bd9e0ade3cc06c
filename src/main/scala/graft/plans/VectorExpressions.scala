package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform

/** Native codegen expressions for the vector / hashing hot paths
  * (SURVEY.md E03/E04). Each stays inside whole-stage codegen — a
  * single fused loop per row instead of the N passes a
  * higher-order-function composition would make, and no Scala-UDF
  * ser/de boundary. That includes the word n-gram hashes every dedup,
  * MinHash, SimHash and fingerprint plan starts from
  * ([[NgramHashes]]): a `transform(sequence(…), i -> xxhash64(…))`
  * lambda is a `CodegenFallback`, interpreted per shingle with boxed
  * indices and hashes.
  */

/** Hashes of every run of `n` consecutive tokens of a string array,
  * each equal to Spark's `xxhash64(t_i, …, t_{i+n-1})`: seed 42,
  * `XXH64.hashUnsafeBytes` chained over each token's UTF-8 bytes, null
  * tokens skipped. `distinct` keeps only the first occurrence of each
  * hash, in order — what `array_distinct` over the same array gives.
  * An array shorter than `n` yields an empty array; callers keep
  * their own short-document fallback. One loop per row over the
  * tokens into a primitive long array; the dedup set is open
  * addressing over primitive longs, so nothing is boxed.
  */
case class NgramHashes(child: Expression, n: Int, distinct: Boolean)
    extends UnaryExpression {

  override def prettyName: String = "ngram_hashes"

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    // other collations hash a collation key, not the bytes
    case ArrayType(st: StringType, _) if st.collationId == StringType.collationId =>
      TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"ngram_hashes expects array<string>, got $t")
  }

  override def nullSafeEval(input: Any): Any =
    NgramHashKernel.hashes(input.asInstanceOf[ArrayData], n, distinct)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, ws => s"graft.plans.NgramHashKernel.hashes($ws, $n, $distinct)")

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** The loop behind [[NgramHashes]], shared by its generated code and
  * its interpreted `eval`, so the two cannot disagree.
  */
object NgramHashKernel {

  /** XxHash64's default seed — `xxhash64(...)` in SQL. */
  private val Seed = 42L

  def hashes(ws: ArrayData, n: Int, distinct: Boolean): ArrayData = {
    val m = ws.numElements() - n + 1
    if (m <= 0) return UnsafeArrayData.fromPrimitiveArray(Array.emptyLongArray)
    val out = new Array[Long](m)
    // distinct: open-addressing set at load <= 1/2; `used` marks slots,
    // so every long value (0 included) is a valid key
    val mask = if (distinct) Integer.highestOneBit(m) * 4 - 1 else 0
    val slots = if (distinct) new Array[Long](mask + 1) else null
    val used = if (distinct) new Array[Boolean](mask + 1) else null
    var k = 0
    var i = 0
    while (i < m) {
      var h = Seed
      var j = i
      while (j < i + n) {
        if (!ws.isNullAt(j)) {
          val t = ws.getUTF8String(j)
          h = XXH64.hashUnsafeBytes(t.getBaseObject, t.getBaseOffset, t.numBytes, h)
        }
        j += 1
      }
      if (distinct) {
        var slot = (h ^ (h >>> 32)).toInt & mask
        while (used(slot) && slots(slot) != h) slot = (slot + 1) & mask
        if (!used(slot)) {
          used(slot) = true; slots(slot) = h
          out(k) = h; k += 1
        }
      } else {
        out(k) = h; k += 1
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out, Platform.LONG_ARRAY_OFFSET, k, 8)
  }
}

/** Cosine similarity of two float vectors, accumulated in double.
  * Returns 0.0 when either norm is zero. Used by q_knn_* and
  * q_dedup_embedding — at 100 TB this is the innermost loop of every
  * ANN probe, so it must be one codegen'd pass over both arrays.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(FloatType, _), ArrayType(FloatType, _)) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"cosine_similarity expects (array<float>, array<float>), got (${left.dataType}, ${right.dataType})")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; nx += xi * xi; ny += yi * yi; i += 1
    }
    if (nx == 0.0 || ny == 0.0) 0.0 else dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val nx = ctx.freshName("nx")
      val ny = ctx.freshName("ny")
      val xi = ctx.freshName("xi")
      val yi = ctx.freshName("yi")
      s"""
         |int $n = Math.min($x.numElements(), $y.numElements());
         |double $dot = 0.0; double $nx = 0.0; double $ny = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xi = (double) $x.getFloat($i);
         |  double $yi = (double) $y.getFloat($i);
         |  $dot += $xi * $yi; $nx += $xi * $xi; $ny += $yi * $yi;
         |}
         |${ev.value} = ($nx == 0.0 || $ny == 0.0) ? 0.0
         |  : $dot / (java.lang.Math.sqrt($nx) * java.lang.Math.sqrt($ny));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

object MinHashConstants {
  /** Deterministic odd multipliers / offsets for the hash-permutation
    * family h_p(x) = a_p*x + b_p (mod 2^64, via JVM long wraparound).
    * Fixed seed so signatures are stable across runs and executors.
    */
  def perms(numHashes: Int): (Array[Long], Array[Long]) = {
    val rnd = new scala.util.Random(0x9E3779B97F4A7C15L)
    val a = Array.fill(numHashes)(rnd.nextLong() | 1L)
    val b = Array.fill(numHashes)(rnd.nextLong())
    (a, b)
  }
}

/** MinHash signature over a set of element hashes: for each of
  * `numHashes` permutations, the minimum of a_p*h + b_p over the
  * input array. One pass over the input per row (perm loop inner) vs
  * `numHashes` array traversals for the transform/array_min HOF
  * equivalent. Null elements are skipped; empty/all-null input yields
  * a signature of Long.MaxValue.
  */
case class MinHashSignature(child: Expression, numHashes: Int)
    extends UnaryExpression {

  private lazy val (permA, permB) = MinHashConstants.perms(numHashes)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"minhash expects array<bigint>, got $t")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = arr.getLong(i)
        var p = 0
        while (p < numHashes) {
          val v = permA(p) * h + permB(p)
          if (v < sig(p)) sig(p) = v
          p += 1
        }
      }
      i += 1
    }
    new GenericArrayData(sig)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("permA", permA, "long[]")
    val bRef = ctx.addReferenceObj("permB", permB, "long[]")
    nullSafeCodeGen(ctx, ev, in => {
      val sig = ctx.freshName("sig")
      val i = ctx.freshName("i")
      val p = ctx.freshName("p")
      val h = ctx.freshName("h")
      val v = ctx.freshName("v")
      val n = ctx.freshName("n")
      s"""
         |long[] $sig = new long[$numHashes];
         |java.util.Arrays.fill($sig, Long.MAX_VALUE);
         |int $n = $in.numElements();
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$in.isNullAt($i)) {
         |    long $h = $in.getLong($i);
         |    for (int $p = 0; $p < $numHashes; $p++) {
         |      long $v = $aRef[$p] * $h + $bRef[$p];
         |      if ($v < $sig[$p]) $sig[$p] = $v;
         |    }
         |  }
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($sig);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Random-hyperplane LSH sketch: for each of `numTables` tables,
  * a `bits`-bit sign pattern of the input float vector against
  * seeded-deterministic Gaussian hyperplanes, packed into a long.
  * One fused pass (numTables × bits dot products) per row; the plane
  * matrix is a broadcast-free reference constant, identical on every
  * executor because the seed is fixed.
  */
case class HyperplaneSketch(child: Expression, numTables: Int, bits: Int, dim: Int)
    extends UnaryExpression {

  /** planes(t*bits + b) ⋅ vec decides bit b of table t's key. */
  private lazy val planes: Array[Double] = {
    val rnd = new scala.util.Random(42L)
    Array.fill(numTables * bits * dim)(rnd.nextGaussian())
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"hyperplane_sketch expects array<float>, got $t")
  }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = math.min(dim, v.numElements())
    val keys = new Array[Long](numTables)
    var t = 0
    while (t < numTables) {
      var key = 0L
      var b = 0
      while (b < bits) {
        val off = (t * bits + b) * dim
        var dot = 0.0
        var i = 0
        while (i < n) { dot += planes(off + i) * v.getFloat(i); i += 1 }
        if (dot >= 0) key |= (1L << b)
        b += 1
      }
      keys(t) = key
      t += 1
    }
    new GenericArrayData(keys)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val pRef = ctx.addReferenceObj("planes", planes, "double[]")
    nullSafeCodeGen(ctx, ev, in => {
      val keys = ctx.freshName("keys")
      val t = ctx.freshName("t"); val b = ctx.freshName("b"); val i = ctx.freshName("i")
      val key = ctx.freshName("key"); val dot = ctx.freshName("dot")
      val off = ctx.freshName("off"); val n = ctx.freshName("n")
      s"""
         |long[] $keys = new long[$numTables];
         |int $n = Math.min($dim, $in.numElements());
         |for (int $t = 0; $t < $numTables; $t++) {
         |  long $key = 0L;
         |  for (int $b = 0; $b < $bits; $b++) {
         |    int $off = ($t * $bits + $b) * $dim;
         |    double $dot = 0.0;
         |    for (int $i = 0; $i < $n; $i++) $dot += $pRef[$off + $i] * $in.getFloat($i);
         |    if ($dot >= 0) $key |= (1L << $b);
         |  }
         |  $keys[$t] = $key;
         |}
         |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($keys);
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Nearest-centroid assignment for IVF-style ANN: index (0-based) of
  * the centroid with the smallest squared euclidean distance to the
  * input float vector; first-min wins on ties (MLlib KMeans
  * semantics). The centroid matrix rides along as a codegen reference
  * constant — at 100 TB the corpus→cell assignment is one fused
  * codegen'd map pass, with no ml.Vector conversion UDF and no
  * literal-array plan bloat.
  */
case class NearestCentroid(child: Expression, centroids: Array[Array[Float]])
    extends UnaryExpression {

  private lazy val dim = if (centroids.isEmpty) 0 else centroids(0).length
  /** Flattened row-major copy for the codegen path. */
  private lazy val flat: Array[Double] = centroids.flatMap(_.map(_.toDouble))

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(FloatType, _) if centroids.nonEmpty => TypeCheckResult.TypeCheckSuccess
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckFailure("no centroids")
    case t => TypeCheckResult.TypeCheckFailure(s"nearest_centroid expects array<float>, got $t")
  }

  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    val n = math.min(dim, v.numElements())
    var best = 0; var bestD = Double.MaxValue; var c = 0
    while (c < centroids.length) {
      val row = centroids(c)
      var d = 0.0; var i = 0
      while (i < n) { val diff = row(i) - v.getFloat(i); d += diff * diff; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cRef = ctx.addReferenceObj("centroids", flat, "double[]")
    val k = centroids.length
    nullSafeCodeGen(ctx, ev, in => {
      val n = ctx.freshName("n"); val c = ctx.freshName("c"); val i = ctx.freshName("i")
      val d = ctx.freshName("d"); val diff = ctx.freshName("diff")
      val best = ctx.freshName("best"); val bestD = ctx.freshName("bestD")
      s"""
         |int $n = Math.min($dim, $in.numElements());
         |int $best = 0; double $bestD = Double.MAX_VALUE;
         |for (int $c = 0; $c < $k; $c++) {
         |  double $d = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    double $diff = $cRef[$c * $dim + $i] - (double) $in.getFloat($i);
         |    $d += $diff * $diff;
         |  }
         |  if ($d < $bestD) { $bestD = $d; $best = $c; }
         |}
         |${ev.value} = $best;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Asymmetric-distance (ADC) lookup for product-quantization ANN:
  * given a row's PQ codes (array<int>, one code per subspace) and a
  * query's flattened m×ksub subspace distance table (array<float>),
  * returns Σ_mi dtab[mi*ksub + codes[mi]] — the approximate squared
  * distance. One fused loop per row; replaces the
  * sequence+zip_with+element_at HOF composition, which allocated two
  * intermediate arrays and m boxed lookups per corpus row at probe
  * time (the q_knn_pq hot path — at 100 TB this runs once per stored
  * code per query probe).
  */
case class AdcDistance(left: Expression, right: Expression, ksub: Int)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(IntegerType, _), ArrayType(FloatType, _)) => TypeCheckResult.TypeCheckSuccess
    case _ => TypeCheckResult.TypeCheckFailure(
      s"adc_distance expects (array<int>, array<float>), got (${left.dataType}, ${right.dataType})")
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val codes = a.asInstanceOf[ArrayData]
    val tab = b.asInstanceOf[ArrayData]
    var s = 0.0; var mi = 0
    val m = codes.numElements()
    while (mi < m) { s += tab.getFloat(mi * ksub + codes.getInt(mi)); mi += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (codes, tab) => {
      val s = ctx.freshName("s")
      val mi = ctx.freshName("mi")
      val m = ctx.freshName("m")
      s"""
         |double $s = 0.0;
         |int $m = $codes.numElements();
         |for (int $mi = 0; $mi < $m; $mi++) {
         |  $s += (double) $tab.getFloat($mi * $ksub + $codes.getInt($mi));
         |}
         |${ev.value} = $s;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** 64-bit SimHash of a bag of element hashes: per bit position, count
  * +1/-1 votes across elements; the result bit is 1 iff the vote sum
  * is positive. Token multiplicity is intentionally kept (a bag, not
  * a set) so repeated tokens weigh more, matching classic SimHash.
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"simhash expects array<bigint>, got $t")
  }

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val votes = new Array[Int](64)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = arr.getLong(i)
        var b = 0
        while (b < 64) {
          if (((h >>> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
          b += 1
        }
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) { if (votes(b) > 0) out |= (1L << b); b += 1 }
    out
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, in => {
      val votes = ctx.freshName("votes")
      val i = ctx.freshName("i")
      val b = ctx.freshName("b")
      val h = ctx.freshName("h")
      val n = ctx.freshName("n")
      val out = ctx.freshName("out")
      s"""
         |int[] $votes = new int[64];
         |int $n = $in.numElements();
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$in.isNullAt($i)) {
         |    long $h = $in.getLong($i);
         |    for (int $b = 0; $b < 64; $b++) {
         |      if ((($h >>> $b) & 1L) == 1L) $votes[$b]++; else $votes[$b]--;
         |    }
         |  }
         |}
         |long $out = 0L;
         |for (int $b = 0; $b < 64; $b++) if ($votes[$b] > 0) $out |= (1L << $b);
         |${ev.value} = $out;
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** Count of `bounds` entries <= value, by binary search over a SORTED
  * constant cut array — the quantile-bucket rank of the Z-order
  * rewrite. Replaces the `size(filter(boundsArrayCol, b => b <= v))`
  * HOF shape, which allocated a filtered array and made |bounds|
  * comparisons PER ROW PER COLUMN (the q_zorder hot loop — |bounds|=63
  * at 6 bits); the search makes ~log2(|bounds|) comparisons and
  * allocates nothing. Semantics match the HOF exactly: NULL input
  * yields 0 (every `b <= v` comparison fails, never NULL) and NaN
  * yields |bounds| — Spark's comparison total order sorts NaN above
  * every double, so every bound passes.
  */
case class SortedBucket(child: Expression, bounds: Array[Double])
    extends UnaryExpression {

  override def dataType: DataType = LongType
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case DoubleType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"sorted_bucket expects double, got $t")
  }

  private def search(v: Double): Long = {
    // Spark's comparison total order puts NaN ABOVE every double
    // (b <= NaN is TRUE for all b) — match it, unlike java's
    // NaN-poisoned primitive compare.
    if (java.lang.Double.isNaN(v)) return bounds.length.toLong
    // upper bound: first index with bounds(i) > v == count of <= v
    var lo = 0; var hi = bounds.length
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (bounds(mid) <= v) lo = mid + 1 else hi = mid
    }
    lo.toLong
  }

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) 0L else search(v.asInstanceOf[Double])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val b = ctx.addReferenceObj("bounds", bounds, "double[]")
    val c = child.genCode(ctx)
    val lo = ctx.freshName("lo")
    val hi = ctx.freshName("hi")
    val mid = ctx.freshName("mid")
    ev.copy(isNull = FalseLiteral, code =
      code"""
         |${c.code}
         |long ${ev.value} = 0L;
         |if (!${c.isNull}) {
         |  if (java.lang.Double.isNaN(${c.value})) {
         |    ${ev.value} = (long) $b.length; // NaN sorts above all (Spark total order)
         |  } else {
         |    int $lo = 0; int $hi = $b.length;
         |    while ($lo < $hi) {
         |      int $mid = ($lo + $hi) >>> 1;
         |      if ($b[$mid] <= ${c.value}) $lo = $mid + 1; else $hi = $mid;
         |    }
         |    ${ev.value} = (long) $lo;
         |  }
         |}
       """.stripMargin)
  }

  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
