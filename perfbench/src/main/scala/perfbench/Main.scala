package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One operation a client sends: `units` is the work it covers (one
  * statement, one lake op, the whole corpus, the whole backlog) and
  * `run` returns the result the checker compares.
  */
final case class Op(kind: String, units: Long, run: () => Any)

/** A benchmark workload. `setup` is what a user does on a fresh
  * context before the first op and is timed as set-up; ops come from
  * the seeded script in the data directory.
  */
trait Workload {
  def clients: Int
  /** Ops per client run before measuring (checked, not timed); one round
    * unless the workload says otherwise.
    */
  def warmOps: Int = cycle / clients
  /** Ops (over all clients, split evenly) in one round of the workload's
    * fixed op rotation.
    */
  def cycle: Int
  /** About how long one round takes on a 4-core host. A run measures
    * `seconds / this` rounds, rounded up, so its work is set by `--seconds`,
    * not by how fast the rounds happen to go.
    */
  def roundSeconds: Double
  def setup(spark: SparkSession, session: Int => SparkSession): Unit
  /** The client's next op; `warm` ops may run on smaller inputs. */
  def next(client: Int, warm: Boolean): Op
  /** Live data files the table holds before a traced op (0 where the
    * workload has no table); read outside the op's timing.
    */
  def liveFiles(op: Op): Int = 0
  /** End-of-run state the checker needs, and workload-specific layer
    * metrics computed from the traced op records.
    */
  def finish(out: String, traced: Seq[OpRecord]): (Map[String, Any], Map[String, Double])
}

final case class OpRecord(client: Int, seq: Int, kind: String, phase: String, traced: Boolean,
    ms: Double, units: Long, error: Option[String], result: Any,
    opId: Long, gcMs: Long, fsOps: Map[String, Long], filesOpened: Int, liveFiles: Int)

/** Runs one workload in this JVM and writes `result.json` (and, when
  * traced, `spans.jsonl`) to the output directory:
  *
  * {{{
  *   Main --workload <name> --data <dir> --out <dir> --seconds <s> --trace <0|1>
  *        --cores <n> --setup-reps <n>
  * }}}
  */
object Main {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val data = a("data")
    val out = a("out")
    val seconds = a("seconds").toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val cores = a("cores").toInt
    val reps = a.getOrElse("setup-reps", "3").toInt
    val phases = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    var mark = System.nanoTime()
    def phaseDone(name: String): Unit = {
      val now = System.nanoTime()
      phases(name) = (now - mark) / 1e9
      mark = now
    }
    // The inputs are generated while this JVM starts; the generator
    // writes READY last.
    lazy val w: Workload = {
      val ready = Paths.get(data, "READY")
      val deadline = System.nanoTime() + 120e9.toLong
      while (!Files.exists(ready)) {
        if (System.nanoTime() > deadline) throw new IllegalStateException(s"no $ready")
        Thread.sleep(20)
      }
      a("workload") match {
        case "sql_interactive" => new SqlInteractive(data)
        case "lake_upsert" => new LakeUpsert(data)
        case "dedup_corpus" => new DedupCorpus(data)
        case "stream_backlog" => new StreamBacklog(data)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    }
    Files.createDirectories(Paths.get(out))

    def context(): SparkSession = {
      val b = graft.GraftSession.builder(s"local[$cores]", cores)
        .config("spark.local.dir", s"$out/spark-local")
        .config("spark.sql.warehouse.dir", s"$out/warehouse")
      if (traced) CountingFileSystem.sparkConf(graft.GraftSession.catalogRoot.stripSuffix("/graft_cat"))
        .foreach { case (k, v) => b.config(k, v) }
      val s = b.getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    // Set-up, several times on fresh contexts; the last one is kept.
    val createMs = ArrayBuffer.empty[Double]
    val warmMs = ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    for (r <- 1 to reps) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = context()
      createMs += (System.nanoTime() - t0) / 1e6
      w // waits for the inputs, on the first set-up only (outside its timing)
      val t1 = System.nanoTime()
      val last = r == reps
      if (last && traced) Trace.install(spark)
      val root = spark
      w.setup(spark, c => {
        val s = root.newSession()
        if (last && traced) Trace.installSession(s, c)
        s
      })
      warmMs += (System.nanoTime() - t1) / 1e6
    }
    phaseDone("setup")

    val records = java.util.Collections.synchronizedList(new java.util.ArrayList[OpRecord]())
    def runOne(client: Int, seq: Int, phase: String, tracedOp: Boolean): Unit = {
      val op = w.next(client, phase == "warm")
      val live = if (tracedOp) w.liveFiles(op) else 0
      CountingFileSystem.counting = tracedOp
      val (fs0, _) = CountingFileSystem.snapshot()
      val g0 = gcMs()
      val t0 = System.nanoTime()
      val (res, err) =
        try {
          (if (tracedOp) Trace.op(spark, client, op.kind)(op.run()) else op.run(), None)
        } catch {
          case scala.util.control.NonFatal(e) => (null, Some(e.toString.take(400)))
        }
      val ms = (System.nanoTime() - t0) / 1e6
      val gc = gcMs() - g0
      val (fs1, opened) = CountingFileSystem.snapshot()
      CountingFileSystem.counting = false
      records.add(OpRecord(client, seq, op.kind, phase, tracedOp, ms, op.units, err, res,
        if (tracedOp) Trace.lastOp else 0L, gc,
        fs1.map { case (k, v) => k -> (v - fs0(k)) }, opened, live))
    }

    // A traced run traces half the rounds, in the order untraced, traced,
    // traced, untraced (so both halves sit at the same mean position in
    // the run), and the untraced ones measure the tracing overhead in the
    // same run. It runs an untraced run's rounds, rounded up to a
    // multiple of four, so it takes about as long as an untraced run.
    val perClient = w.cycle / w.clients
    def isTraced(seq: Int): Boolean =
      traced && seq >= w.warmOps && Set(1, 2)(((seq - w.warmOps) / perClient) % 4)
    val plain = math.max(1, math.ceil(seconds / w.roundSeconds - 1e-9).toInt)
    val rounds = if (traced) 4 * ((plain + 3) / 4) else plain

    val seqs = Array.fill(w.clients)(0)
    def runClients(phase: String, more: Int => Boolean): Unit = {
      val threads = (0 until w.clients).map { c =>
        new Thread(() => while (more(seqs(c))) {
          runOne(c, seqs(c), phase, phase == "measure" && isTraced(seqs(c)))
          seqs(c) += 1
        })
      }
      threads.foreach(_.start())
      threads.foreach(_.join())
    }
    runClients("warm", _ < w.warmOps)
    phaseDone("warm_ops")

    // Measure whole rounds (all clients finish a round before the next
    // starts), so every run times the same mix of op kinds.
    val t0 = System.nanoTime()
    (1 to rounds).foreach { _ =>
      val end = seqs(0) + perClient
      runClients("measure", _ < end)
    }
    val measured = (System.nanoTime() - t0) / 1e9
    phaseDone("measure")

    import scala.jdk.CollectionConverters._
    var recs = records.asScala.toSeq.sortBy(r => (r.phase != "warm", r.client, r.seq))
    records.clear()
    val (finalState, workloadLayers) = w.finish(out, recs.filter(_.traced))
    val tracedRecs = recs.filter(r => r.phase == "measure" && r.traced)
    val opLayers = tracingOverhead(recs) +
      ("spark.gc_ms" -> tracedRecs.map(_.gcMs).sum.toDouble / math.max(1, tracedRecs.size))
    write(s"$out/ops.json", recs.map(r => Map("client" -> r.client, "seq" -> r.seq,
      "kind" -> r.kind, "phase" -> r.phase, "traced" -> r.traced, "ms" -> r.ms,
      "units" -> r.units, "error" -> r.error, "result" -> r.result)))
    // Op results are on disk now; drop them so the heap reading below
    // counts only what the workload left behind.
    recs = null

    // Ownership accounting: what the workload left cached, and the heap
    // still reachable once it is done.
    val persisted = spark.sparkContext.getPersistentRDDs.size
    phaseDone("finish")
    val heapMb = retainedHeapMb()
    phaseDone("heap")

    val layers: Map[String, Double] =
      if (!traced) Map.empty
      else {
        val (m, spans) = Trace.report(cores)
        Files.write(Paths.get(out, "spans.jsonl"), spans.map(s => Json(Map("id" -> s.id,
          "parent" -> s.parent, "op" -> s.op, "layer" -> s.layer, "name" -> s.name,
          "start" -> s.start, "end" -> s.end)) + "\n").mkString.getBytes(StandardCharsets.UTF_8))
        m ++ workloadLayers ++ opLayers ++ Map(
          "session.create_ms" -> median(createMs.toSeq),
          "session.warm_ms" -> median(warmMs.toSeq),
          "session.persisted_rdds_left" -> persisted.toDouble)
      }

    spark.stop()
    phaseDone("report")
    write(s"$out/result.json", Map(
      "phase_s" -> phases,
      "workload" -> a("workload"),
      "traced" -> traced,
      "cores" -> cores,
      "setup_create_ms" -> createMs.toSeq,
      "setup_warm_ms" -> warmMs.toSeq,
      "measured_s" -> measured,
      "persisted_rdds_left" -> persisted,
      "retained_heap_mb" -> heapMb,
      "final" -> finalState,
      "layers" -> layers))
  }

  private def write(path: String, v: Any): Unit =
    Files.write(Paths.get(path), Json(v).getBytes(StandardCharsets.UTF_8))

  /** Heap in use after full collections, in MB. Collections repeat until
    * the reading settles: Spark's context cleaner frees broadcast and
    * shuffle state asynchronously once a collection finds it unreachable.
    */
  private def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    def used() = { System.gc(); Thread.sleep(50); mem.getHeapMemoryUsage.getUsed / 1048576.0 }
    var prev = used()
    var cur = used()
    var n = 2
    while (math.abs(cur - prev) > 0.5 && n < 10) { prev = cur; cur = used(); n += 1 }
    cur
  }

  /** Traced minus untraced median latency per op kind that ran in both
    * halves of the traced run, averaged over kinds, in ms and as a share.
    */
  private def tracingOverhead(recs: Seq[OpRecord]): Map[String, Double] = {
    val ok = recs.filter(r => r.phase == "measure" && r.error.isEmpty)
    val (tr, un) = ok.partition(_.traced)
    val kinds = tr.map(_.kind).toSet.intersect(un.map(_.kind).toSet).toSeq
    val pairs = kinds.map(k => (median(tr.filter(_.kind == k).map(_.ms)),
      median(un.filter(_.kind == k).map(_.ms))))
    if (pairs.isEmpty) Map("trace.overhead_ms" -> 0.0, "trace.overhead_share" -> 0.0)
    else Map(
      "trace.overhead_ms" -> pairs.map(p => p._1 - p._2).sum / pairs.size,
      "trace.overhead_share" -> pairs.map(p => p._1 / p._2 - 1).sum / pairs.size)
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.toArray
      .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean].getCollectionTime).sum

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}
