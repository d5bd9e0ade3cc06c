package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.GraftSession
import graft.operators.{Clustering, DedupGuard, DedupOps}
import graft.sources.LakeTable
import graft.streaming.EventPipeline

private object Workloads {
  def lines(path: String): Seq[String] =
    Files.readAllLines(Paths.get(path), StandardCharsets.UTF_8).asScala.toSeq.filter(_.nonEmpty)

  def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().toSeq.map(_.toSeq)

  /** Bytes of every file under `dir`. */
  def bytesUnder(spark: SparkSession, dir: String): Long = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }
}

/** Closed loop of SQL clients, each on its own session of one context
  * (a gateway's session per connection), sending seeded statements.
  */
final class SqlInteractive(dir: String) extends Workload {
  import Workloads._
  import Main.median
  private val texts = lines(s"$dir/statements.txt").map { l =>
    val t = l.indexOf('\t'); l.substring(0, t).toInt -> l.substring(t + 1)
  }.toMap
  private val scripts = (0 until clients).map(c => lines(s"$dir/client$c.txt").map(_.split('\t')))
  private val pos = Array.fill(clients)(0)
  private var sessions: IndexedSeq[SparkSession] = IndexedSeq.empty

  def clients: Int = 2
  /** A round runs every template once, split over the two clients. */
  def cycle: Int = 20
  def roundSeconds: Double = 5.5

  def setup(spark: SparkSession, session: Int => SparkSession): Unit = {
    sessions = (0 until clients).map(session)
    sessions.foreach(GraftSession.registerViews(_, dir))
  }

  def next(client: Int, warm: Boolean): Op = {
    val Array(template, id) = scripts(client)(pos(client) % scripts(client).size)
    pos(client) += 1
    val s = sessions(client)
    Op(template, 1L, () => Map("statement" -> id.toInt,
      "rows" -> Trace.call(s, client, "plans", "spark.sql")(rows(s.sql(texts(id.toInt))))))
  }

  def finish(out: String, traced: Seq[OpRecord]): (Map[String, Any], Map[String, Double]) =
    (Map.empty, Map.empty)
}

/** One client on a deletion-vector catalog table: small writes through
  * LakeTable, each followed by catalog-SQL point and range reads.
  */
final class LakeUpsert(dir: String) extends Workload {
  import Workloads._
  import Main.median
  private val table = "graft_cat.bench.orders"
  private val path = GraftSession.catalogRoot + "/bench/orders"
  private val script = lines(s"$dir/ops.txt").toIndexedSeq
  private var pos = 0
  private var s: SparkSession = _
  private var schema: org.apache.spark.sql.types.StructType = _
  private var bytesAtStart = 0L
  private var userRows = 0L

  def clients: Int = 1
  /** The script's warm-up prefix: a merge, an append and three reads. */
  override def warmOps: Int = 5
  /** 6 writes and 14 reads, the same kinds in every round. */
  def cycle: Int = 20
  def roundSeconds: Double = 10

  def setup(spark: SparkSession, session: Int => SparkSession): Unit = {
    s = session(0)
    s.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.bench")
    s.sql(s"DROP TABLE IF EXISTS $table")
    s.sql(s"CREATE TABLE $table AS SELECT * FROM parquet.`$dir/orders.parquet`")
    s.sql("CALL graft_cat.system.enable_dv('bench.orders', true)").collect()
    s.sql(s"SELECT count(*) FROM $table").collect()
    schema = s.table(table).schema
  }

  private def orderRows(spec: String): DataFrame = {
    val rs = spec.split(';').toSeq.map { r =>
      val f = r.split(',')
      Row(f(0).toLong, f(1).toLong, f(2), f(3).toDouble,
        java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(f(4).toLong)), f(5))
    }
    s.createDataFrame(rs.asJava, schema)
  }

  private def keys(spec: String): Seq[Long] = spec.split(',').toSeq.filter(_.nonEmpty).map(_.toLong)

  private def read(where: String): Seq[Seq[Any]] =
    Trace.call(s, 0, "sources", "catalog-sql read") {
      s.sql(s"SELECT * FROM $table WHERE $where").collect().toSeq.map(r =>
        Seq(r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3),
          r.getDate(4).toLocalDate.toEpochDay, r.getString(5))).sortBy(_.head.asInstanceOf[Long])
    }

  private def commit[T](name: String)(f: => T): T = Trace.call(s, 0, "sources", name)(f)

  def next(client: Int, warm: Boolean): Op = {
    if (pos == 0) bytesAtStart = bytesUnder(s, path)
    val f = script(pos % script.size).split('\t')
    pos += 1
    f(0) match {
      case "append" => Op("append", 1, () => {
        val df = orderRows(f(1)); userRows += 200
        commit("LakeTable.append")(LakeTable.append(s, path, df))
      })
      case "merge" => Op("merge", 1, () => {
        val df = orderRows(f(1)); userRows += 300
        commit("LakeTable.merge")(LakeTable.merge(s, path, df, "o_orderkey"))
      })
      case "delete_mor" => Op("delete_mor", 1, () => {
        val ks = keys(f(1)); userRows += ks.size
        commit("LakeTable.deleteMor")(LakeTable.deleteMor(s, path, col("o_orderkey").isin(ks: _*)))
      })
      case "update_mor" => Op("update_mor", 1, () => {
        val ks = keys(f(1)); userRows += ks.size
        commit("LakeTable.updateMor")(LakeTable.updateMor(s, path, col("o_orderkey").isin(ks: _*),
          Map("o_orderstatus" -> lit(f(2)), "o_totalprice" -> (col("o_totalprice") + lit(f(3).toDouble)))))
      })
      case "compact" => Op("compact", 1, () =>
        commit("LakeTable.compact")(LakeTable.compact(s, path, f(1).toInt)))
      case "point" => Op("point", 1, () => read(s"o_orderkey = ${f(1)}"))
      case "range" => Op("range", 1, () => read(s"o_orderkey BETWEEN ${f(1)} AND ${f(2)}"))
    }
  }

  override def liveFiles(op: Op): Int =
    if (op.kind == "point" || op.kind == "range") LakeTable.dataFiles(s, path).size else 0

  private val writes = Seq("append", "merge", "delete_mor", "update_mor", "compact")

  def finish(out: String, traced: Seq[OpRecord]): (Map[String, Any], Map[String, Double]) = {
    val snapshot = s.table(table).collect().map(r => Seq(r.getLong(0), r.getLong(1), r.getString(2),
      r.getDouble(3), r.getDate(4).toLocalDate.toEpochDay, r.getString(5)).mkString("\t"))
    Files.write(Paths.get(out, "final.tsv"), snapshot.mkString("\n").getBytes(StandardCharsets.UTF_8))
    // Space: bytes the live snapshot references (data files plus
    // deletion vectors) over the same rows written once as fresh parquet.
    val fresh = s"$out/fresh_copy"
    s.table(table).coalesce(1).write.mode("overwrite").parquet(fresh)
    val freshBytes = bytesUnder(s, fresh).toDouble
    val fs = new Path(path).getFileSystem(s.sparkContext.hadoopConfiguration)
    val live = LakeTable.dataFiles(s, path)
    val liveBytes = live.map(f => fs.getFileStatus(new Path(f)).getLen).sum
    val dvDir = new Path(path, "_dv")
    val dvFiles = if (fs.exists(dvDir)) fs.listStatus(dvDir).filter(_.getPath.getName.endsWith(".dv")) else Array.empty
    val perRow = freshBytes / math.max(1, snapshot.length)
    val written = bytesUnder(s, path) - bytesAtStart
    val state = Map("ops_run" -> pos, "final_rows" -> snapshot.length,
      "space_amp" -> (liveBytes + dvFiles.map(_.getLen).sum) / freshBytes,
      "live_files" -> live.size, "dv_files" -> dvFiles.length,
      "write_amp" -> written / math.max(1.0, userRows * perRow))

    val commits = traced.filter(r => writes.contains(r.kind) && r.error.isEmpty)
    val reads = traced.filter(r => !writes.contains(r.kind) && r.error.isEmpty)
    val jobsPerOp = Trace.jobsPerOp()
    val nC = math.max(1, commits.size).toDouble
    val layers = writes.map(k => s"sources.commit_ms.$k" -> median(commits.filter(_.kind == k).map(_.ms))) ++
      CountingFileSystem.Kinds.map(k => s"sources.fs_ops_per_commit.$k" ->
        commits.map(_.fsOps(k)).sum / nC) ++
      Seq(
        "sources.fs_ops_per_commit" -> commits.map(_.fsOps.values.sum).sum / nC,
        "sources.commit_jobs" -> commits.map(r => jobsPerOp.getOrElse(r.opId, 0)).sum / nC,
        "sources.read_ms" -> median(reads.map(_.ms)),
        "sources.files_scanned_ratio" ->
          median(reads.filter(_.liveFiles > 0).map(r => r.filesOpened.toDouble / r.liveFiles)),
        "sources.live_files" -> live.size.toDouble,
        "sources.dv_files" -> dvFiles.length.toDouble,
        "sources.space_amp" -> state("space_amp").asInstanceOf[Double],
        "sources.write_amp" -> state("write_amp").asInstanceOf[Double])
    (state, layers.toMap)
  }
}

/** The near-duplicate pipeline over one corpus, call by call. */
final class DedupCorpus(dir: String) extends Workload {
  import Workloads._
  import Main.median
  private val docs = Workloads.lines(s"$dir/docs.txt").head.trim.toLong
  private val calls = Seq("tokenize", "shingle", "pairs", "minhash", "cluster")
  /** Each call covers one stage of the pipeline over the corpus, so a
    * round carries the whole corpus once.
    */
  private val perCall = docs / calls.size
  private var pos = 0
  private var s: SparkSession = _

  def clients: Int = 1
  def cycle: Int = 5
  /** Two rounds: the second is still well slower than later ones (JIT). */
  override def warmOps: Int = 2 * cycle
  def roundSeconds: Double = 4.0

  def setup(spark: SparkSession, session: Int => SparkSession): Unit = {
    s = session(0)
    graft.Tables(s, dir, "documents").count()
  }

  private def call[T](name: String)(f: => T): T = Trace.call(s, 0, "operators", name)(f)

  def next(client: Int, warm: Boolean): Op = {
    val kind = calls(pos % calls.size)
    pos += 1
    kind match {
      case "tokenize" => Op(kind, perCall, () =>
        call("DedupOps.tokenized")(DedupOps.tokenized(s, dir).write.format("noop").mode("overwrite").save()))
      case "shingle" => Op(kind, perCall, () =>
        call("DedupOps.shingleTable")(DedupOps.shingleTable(s, dir).write.format("noop").mode("overwrite").save()))
      case "pairs" => Op(kind, perCall, () =>
        call("DedupOps.ngramPairs")(rows(DedupOps.ngramPairs(s, dir, 0.8))))
      case "minhash" => Op(kind, perCall, () =>
        call("DedupOps.minhashCandidates")(rows(DedupOps.minhashCandidates(s, dir).select("doc_a", "doc_b"))))
      case "cluster" => Op(kind, perCall, () =>
        call("Clustering.dedupClusters")(rows(Clustering.dedupClusters(s, dir))))
    }
  }

  def finish(out: String, traced: Seq[OpRecord]): (Map[String, Any], Map[String, Double]) = {
    val ok = traced.filter(_.error.isEmpty)
    def pairSet(r: OpRecord) = r.result.asInstanceOf[Seq[Seq[Any]]].map(p => (p(0), p(1))).toSet
    // Candidates are MinHash-LSH proposals; the verified ones are those the
    // exact shingle-Jaccard pairs of the same round confirm.
    val rounds = ok.groupBy(_.seq / calls.size).values.toSeq.flatMap { rs =>
      for (c <- rs.find(_.kind == "minhash"); e <- rs.find(_.kind == "pairs"))
        yield (pairSet(c).size.toDouble, pairSet(c).intersect(pairSet(e)).size.toDouble)
    }
    val cand = median(rounds.map(_._1))
    val verified = median(rounds.map(_._2))
    // 1 = uncapped direct plan, 2 = uncapped prefix plan, 3 = routed to
    // the df-capped plan, 0 = no pre-flight recorded.
    val decision = DedupGuard.decision("ngramPairs").fold(0.0)(d =>
      if (!d.uncapped) 3.0 else if (d.coarse <= d.budget) 1.0 else 2.0)
    val layers = calls.map(k => s"operators.${k}_ms" -> median(ok.filter(_.kind == k).map(_.ms))) ++ Seq(
      "operators.candidate_pairs" -> cand,
      "operators.verified_pairs" -> verified,
      "operators.pair_yield" -> (if (cand > 0) verified / cand else 0.0),
      "operators.guard_decision" -> decision)
    (Map("guard_decision" -> decision), layers.toMap)
  }
}

/** The event backlog run to completion through four streaming graphs. */
final class StreamBacklog(dir: String) extends Workload {
  import Main.median
  private val events = Workloads.lines(s"$dir/events.txt").head.trim.toLong
  private val graphs = Seq("tumbling", "dedup", "join", "upsert")
  private var pos = 0
  private var s: SparkSession = _

  def clients: Int = 1
  def cycle: Int = 4
  /** A round on the small backlog, then one on the full backlog: the
    * graphs keep getting faster over the first full round (JIT).
    */
  override def warmOps: Int = 2 * cycle
  def roundSeconds: Double = 6.5

  def setup(spark: SparkSession, session: Int => SparkSession): Unit = {
    s = session(0)
    s.read.parquet(s"$dir/events.parquet").count()
  }

  private def run(name: String)(f: => DataFrame): Seq[Seq[Any]] =
    Trace.call(s, 0, "streaming", name)(Workloads.rows(f))

  def next(client: Int, warm: Boolean): Op = {
    val kind = graphs(pos % graphs.size)
    pos += 1
    val d = if (warm && pos <= graphs.size) s"$dir/warm" else dir
    Op(kind, if (warm) 0L else events, () => kind match {
      case "tumbling" => run("EventPipeline.tumbling")(EventPipeline.tumbling(s, d))
      case "dedup" => run("EventPipeline.dedup")(EventPipeline.dedup(s, d))
      case "join" => run("EventPipeline.streamStreamJoin")(EventPipeline.streamStreamJoin(s, d))
      case "upsert" => run("EventPipeline.upsertToLake")(EventPipeline.upsertToLake(s, d))
    })
  }

  /** The sources layer as the upsert graph's lake sink uses it: one
    * commit per micro-batch (a create, then merges) into a table the
    * graph clears when it starts, so the table left behind is one run's.
    * On this backlog every graph runs as a single micro-batch, so the
    * sink makes one create commit per run.
    */
  def finish(out: String, traced: Seq[OpRecord]): (Map[String, Any], Map[String, Double]) = {
    val runs = traced.filter(r => r.kind == "upsert" && r.error.isEmpty)
    if (runs.isEmpty) return (Map.empty, Map.empty)
    Trace.drain()
    val sink = s"${graft.operators.Lakehouse.scratch}/stream_upsert"
    val n = runs.size * LakeTable.currentVersion(s, sink).fold(1.0)(_ + 1.0)
    val fs = new Path(sink).getFileSystem(s.sparkContext.hadoopConfiguration)
    val live = LakeTable.dataFiles(s, sink)
    val liveBytes = live.map(f => fs.getFileStatus(new Path(f)).getLen).sum
    val jobsPerOp = Trace.jobsPerOp()
    val addBatch = Trace.batchMs("EventPipeline.upsertToLake", "addBatch")
    val layers = CountingFileSystem.Kinds.map(k => s"sources.fs_ops_per_commit.$k" ->
      runs.map(_.fsOps(k)).sum / n) ++ Seq(
      "sources.fs_ops_per_commit" -> runs.map(_.fsOps.values.sum).sum / n,
      "sources.commit_jobs" -> runs.map(r => jobsPerOp.getOrElse(r.opId, 0)).sum / n,
      // Each commit runs inside the sink's foreachBatch (its addBatch time):
      // the first batch creates the table, later ones merge into it.
      "sources.commit_ms.append" -> median(addBatch.flatMap(_.headOption)),
      "sources.commit_ms.merge" -> median(addBatch.flatMap(_.drop(1))),
      "sources.live_files" -> live.size.toDouble,
      "sources.write_amp" -> Workloads.bytesUnder(s, sink) / math.max(1.0, liveBytes.toDouble))
    (Map.empty, layers.toMap)
  }
}
