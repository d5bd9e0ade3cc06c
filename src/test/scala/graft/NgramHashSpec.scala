package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenFallback, GenerateUnsafeProjection}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.Vectors
import graft.operators.DedupOps
import graft.plans.NgramHashes

/** The native n-gram hash kernel against the `transform(sequence(…),
  * i -> xxhash64(…))` composition it replaced in the dedup, SimHash
  * and fingerprint plans: same hashes, same order, on edge-case token
  * arrays and a seeded random corpus, through generated code and
  * through interpreted `eval`.
  */
class NgramHashSpec extends AnyFunSuite {
  import SharedSpark.{sf, spark}

  private val wsType = ArrayType(StringType, containsNull = true)

  /** The higher-order-function composition, for any n (valid for
    * arrays of at least n tokens).
    */
  private def hof(ws: Column, n: Int, distinct: Boolean): Column = {
    val grams = transform(sequence(lit(0), size(ws) - n),
      i => xxhash64((1 to n).map(k => element_at(ws, i + k)): _*))
    if (distinct) array_distinct(grams) else grams
  }

  private val edgeCases: Seq[Seq[String]] = Seq(
    null,
    Seq(),
    Seq("a"),
    Seq("a", "b"),
    Seq("a", "b", "c"),
    Seq("a", "b", "c", "d"),
    "one  two   three ".split(" ", -1).toSeq,   // empty tokens
    Seq("", "", "", "", ""),
    Seq("x", "y", "x", "y", "x", "y", "x", "y", "x"), // repeated n-grams
    Seq("a", "b", "c", "a", "b", "c", "d", "a", "b", "c", "d"),
    Seq("straße", "日本語", "ü", "naïve", "😀", "straße", "日本語", "ü"),
    Seq("a", null, "b", "c", null, "d"))

  /** 3,000 documents over a small vocabulary (so n-grams repeat), with
    * non-ASCII words, empty tokens and lengths 0–40.
    */
  private lazy val randomDocs: Seq[Seq[String]] = {
    val rnd = new scala.util.Random(20240613L)
    val vocab = Vector("the", "a", "cat", "sat", "on", "mat", "dog", "", "ran", "über",
      "café", "数据", "ok", "no", "yes", "x")
    Seq.fill(3000)(Seq.fill(rnd.nextInt(41))(vocab(rnd.nextInt(vocab.size))))
  }

  private def frame(docs: Seq[Seq[String]]) = spark.createDataFrame(
    spark.sparkContext.parallelize(docs.zipWithIndex.map { case (ws, i) => Row(i.toLong, ws) }, 4),
    StructType(Seq(StructField("id", LongType), StructField("ws", wsType))))

  private def longs(a: ArrayData): Seq[Long] = if (a == null) null else a.toLongArray().toSeq

  test("NgramHashes equals the xxhash64 lambda composition for n = 2, 3, 4, distinct on and off") {
    val docs = edgeCases ++ randomDocs
    val df = frame(docs)
    for (n <- Seq(2, 3, 4); distinct <- Seq(true, false)) {
      val rows = df.select(col("id"), col("ws"),
          Vectors.ngramHashes(col("ws"), n, distinct).as("k"),
          when(size(col("ws")) >= n, hof(col("ws"), n, distinct)).as("h"))
        .orderBy("id").collect()
      assert(rows.length == docs.length)
      rows.foreach { r =>
        val ws = r.getSeq[String](1)
        val k = if (r.isNullAt(2)) null else r.getSeq[Long](2)
        val tag = s"n=$n distinct=$distinct ws=$ws"
        if (ws == null) assert(k == null, tag)
        else if (ws.size < n) assert(k == Seq.empty, tag)
        else assert(k == r.getSeq[Long](3), tag)
      }
      // Generated code and interpreted eval agree row by row.
      val expr = NgramHashes(BoundReference(0, wsType, nullable = true), n, distinct)
      val proj = GenerateUnsafeProjection.generate(Seq(expr))
      docs.foreach { ws =>
        val in = InternalRow(if (ws == null) null
          else new GenericArrayData(ws.map(t => if (t == null) null else UTF8String.fromString(t)).toArray[Any]))
        val generated = proj(in)
        val gen = if (generated.isNullAt(0)) null else longs(generated.getArray(0))
        assert(gen == longs(expr.eval(in).asInstanceOf[ArrayData]), s"n=$n distinct=$distinct ws=$ws")
      }
    }
  }

  test("distinct keeps first-occurrence order of repeated n-grams") {
    val hs = frame(Seq(Seq("x", "y", "x", "y", "x")))
      .select(Vectors.ngramHashes(col("ws"), 2, distinct = true),
        Vectors.ngramHashes(col("ws"), 2, distinct = false))
      .head()
    val all = hs.getSeq[Long](1)
    assert(all.size == 4 && all(0) == all(2) && all(1) == all(3) && all(0) != all(1))
    assert(hs.getSeq[Long](0) == Seq(all(0), all(1)))
  }

  test("shingleHashes keeps its wrapper: null and short documents hash the joined tokens") {
    // The whole expression before the kernel, verbatim.
    def before(ws: Column): Column = coalesce(
      when(size(ws) >= 3,
        array_distinct(transform(sequence(lit(0), size(ws) - 3),
          i => xxhash64(element_at(ws, i + 1), element_at(ws, i + 2), element_at(ws, i + 3)))))
        .otherwise(array(xxhash64(concat_ws(" ", ws)))),
      array().cast("array<bigint>"))
    val rows = frame(edgeCases ++ randomDocs.take(500))
      .select(DedupOps.shingleHashes(col("ws")), before(col("ws"))).collect()
    rows.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
    val empty = spark.range(1).select(xxhash64(lit("")).as("h")).head().getLong(0)
    assert(rows.head.getSeq[Long](0) == Seq(empty), "a null token array hashes as \"\"")
  }

  test("NgramHashes generates code: not a CodegenFallback") {
    val expr = NgramHashes(BoundReference(0, wsType, nullable = true), 3, distinct = true)
    assert(!expr.isInstanceOf[CodegenFallback])
    val plan = DedupOps.shingleTable(spark, sf).queryExecution.executedPlan.toString
    assert(plan.contains("ngram_hashes"), plan.take(3000))
  }

  test("a second shingleTable run reuses the classes the first compiled") {
    def run(): Unit = DedupOps.shingleTable(spark, sf).write.format("noop").mode("overwrite").save()
    run()
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    run()
    val n = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
    assert(n == 0, s"second run compiled $n classes")
  }
}
