package graft.tools

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic scale-up of the driver-generated testdata: N
  * key-remapped copies of each SF-scaled table, preserving join
  * semantics (copy i of orders references copy i of customer, etc.),
  * the fixed TPC-H dims (region/nation) untouched. Purpose: measure
  * how each operator's wall time scales when ONLY the data grows —
  * the sf0.1→sf1 ratio table in SURVEY §7.7 — so "would this survive
  * 100×" is a measurement, not prose.
  *
  * Shape choices that keep the scaled corpus honest:
  *   - keys get copy-specific offsets (clean powers of ten far above
  *     the source ranges), so FK joins land inside the same copy and
  *     cardinalities scale linearly;
  *   - timestamps stay as-is: time-window cardinality is fixed while
  *     rows per window grow ×N — the actual shape of a backfill;
  *   - document text gets a copy-salt token woven in every 4 tokens
  *     (copy 0 verbatim): WITHIN a copy the near-dup structure is
  *     preserved (similar texts get the same weave), while ACROSS
  *     copies Jaccard collapses far below the 0.8 thresholds — the
  *     dup profile scales linearly instead of exploding ~N² as
  *     verbatim replication would;
  *   - embeddings get a per-copy dimension ROTATION (circular shift
  *     by i): a permutation is orthogonal, so within-copy geometry —
  *     every inner product, every neighbor ranking — is EXACTLY
  *     preserved, while cross-copy cosines become quasi-random; a
  *     ±1% perturbation instead would leave all 10 copies mutual
  *     near-dups (cos ≈ 0.99998) and inflate dedup outputs ~N², a
  *     data artifact rather than an operator property.
  *
  * `weaveEvery` controls the salt stride (default 4). At 4, ~40% of
  * 3-gram shingle windows stay verbatim across copies, so every rare
  * shingle forms a copies-sized clique — candidate universes in
  * exact near-dup operators then grow ∝ copies² (a replication
  * artifact, measured in SURVEY §7.7). At 2, every 3-gram window
  * contains a salt token, no shingle crosses copies, and the same
  * operators scale ~linearly — the controlled-experiment twin.
  *
  * Usage: runMain graft.tools.ScaleGen [srcDir dstDir copies weaveEvery]
  */
object ScaleGen {

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession.create("local[32]", 32)
    try run(spark,
      args.headOption.getOrElse("/root/testdata/sf0.1"),
      args.lift(1).getOrElse("/root/repo/target/sf1"),
      args.lift(2).map(_.toInt).getOrElse(10),
      args.lift(3).map(_.toInt).getOrElse(4))
    finally spark.stop()
  }

  def run(spark: org.apache.spark.sql.SparkSession, src: String, dst: String,
      copies: Int, weaveEvery: Int = 4): Unit = {

    def rd(t: String): DataFrame = graft.Tables.parquet(spark, s"$src/$t.parquet")
    def wr(df: DataFrame, t: String, files: Int = 8): Unit = {
      df.repartition(files).write.mode("overwrite").parquet(s"$dst/$t.parquet")
      println(s"[scalegen] $t -> ${graft.Tables.parquet(spark, s"$dst/$t.parquet").count()} rows")
    }

    /** N copies with per-column remaps; copy 0 is the verbatim source. */
    def scale(df: DataFrame, remap: (String, Int) => Option[Column]): DataFrame =
      (0 until copies).map { i =>
        df.select(df.columns.toIndexedSeq.map { c =>
          (if (i == 0) None else remap(c, i)).getOrElse(col(c)).as(c)
        }: _*)
      }.reduce(_ unionAll _)

    // key offsets per copy — clean powers of ten above every source range
    val C = 1000000L   // custkey
    val S = 100000L    // suppkey
    val P = 1000000L   // partkey
    val O = 10000000L  // orderkey
    val U = 10000000L  // user_id
    val E = 100000000L // event_id
    val D = 1000000L   // doc_id
    val V = 10000000L  // vec_id (clear of the +200000 planted-batch ids)

    // fixed dims travel verbatim (TPC-H keeps them constant across SF)
    wr(rd("region"), "region", 1)
    wr(rd("nation"), "nation", 1)

    wr(scale(rd("customer"), {
      case ("c_custkey", i) => Some(col("c_custkey") + i * C)
      case _ => None
    }), "customer")

    wr(scale(rd("supplier"), {
      case ("s_suppkey", i) => Some(col("s_suppkey") + i * S)
      case _ => None
    }), "supplier")

    wr(scale(rd("part"), {
      case ("p_partkey", i) => Some(col("p_partkey") + i * P)
      case _ => None
    }), "part")

    wr(scale(rd("orders"), {
      case ("o_orderkey", i) => Some(col("o_orderkey") + i * O)
      case ("o_custkey", i) => Some(col("o_custkey") + i * C)
      case _ => None
    }), "orders")

    wr(scale(rd("lineitem"), {
      case ("l_orderkey", i) => Some(col("l_orderkey") + i * O)
      case ("l_partkey", i) => Some(col("l_partkey") + i * P)
      case ("l_suppkey", i) => Some(col("l_suppkey") + i * S)
      case _ => None
    }), "lineitem")

    wr(scale(rd("events"), {
      case ("event_id", i) => Some(col("event_id") + i * E)
      case ("user_id", i) => Some(col("user_id") + i * U)
      case _ => None
    }), "events")

    // text weave: one salt token after every 4th whitespace-delimited
    // token, applied to the ALREADY-offset copy — see object doc
    val docs0 = rd("documents")
    val docs = (0 until copies).map { i =>
      val base = docs0.select(
        (col("doc_id") + i * D).as("doc_id"),
        (if (i == 0) col("text")
         else regexp_replace(col("text"), s"((\\S+\\s+){$weaveEvery})",
           s"$$1zqslt$i ")).as("text"),
        col("lang"), col("source"))
      base.withColumn("n_chars", length(col("text")).cast("long"))
        .select("doc_id", "text", "lang", "source", "n_chars")
    }.reduce(_ unionAll _)
    wr(docs, "documents")

    wr(scale(rd("embeddings"), {
      case ("vec_id", i) => Some(col("vec_id") + i * V)
      case ("embedding", i) => Some(
        concat(slice(col("embedding"), lit(i + 1), size(col("embedding")) - i),
          slice(col("embedding"), lit(1), lit(i))))
      case _ => None
    }), "embeddings")
  }
}
