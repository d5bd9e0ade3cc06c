package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import Main.median

/** Spans for the traced run. The harness records an `op` span per
  * operation and a `call` span per public graft function it calls;
  * Spark's listener APIs supply Catalyst phases, jobs, stages, tasks
  * and micro-batches, which are linked back to the op that caused them
  * (jobs through a thread-local property, query executions and batches
  * by session and time). Everything stays in memory until [[report]].
  */
object Trace {
  val OpKey = "perfbench.op"
  val CallKey = "perfbench.call"

  final case class Span(id: Long, parent: Long, op: Long, layer: String, name: String,
      start: Double, end: Double) {
    def dur: Double = end - start
  }

  private val ids = new AtomicLong(0)
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  /** Wall-clock milliseconds with nanosecond resolution, on the same
    * base as Spark's listener timestamps.
    */
  def nowMs: Double = wall0 + (System.nanoTime() - nano0) / 1e6

  private val harnessSpans = new ConcurrentLinkedQueue[Span]()
  private val callClient = new ConcurrentHashMap[Long, Int]()

  private final case class Job(op: Long, call: Long, start: Long)
  private final case class Stage(id: Int, job: Int, submit: Long, complete: Long)
  private final case class Task(stage: Int, launch: Long, finish: Long, runMs: Long,
      shuffleWrite: Long, shuffleRead: Long, spill: Long)
  private final case class Qe(client: Int, phases: Map[String, (Long, Long)], graftRulesNs: Long)
  private final case class Batch(start: Long, durations: Map[String, Long], stateCommitMs: Long,
      stateRows: Long, stateBytes: Long, statePartitions: Long)

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val jobEnds = new ConcurrentHashMap[Int, Long]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentLinkedQueue[Stage]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private val qes = new ConcurrentLinkedQueue[Qe]()
  private val batches = new ConcurrentLinkedQueue[Batch]()

  private object SparkEvents extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = e.properties
      val op = if (p == null) null else p.getProperty(OpKey)
      if (op != null) {
        jobs.put(e.jobId, Job(op.toLong, Option(p.getProperty(CallKey)).fold(0L)(_.toLong), e.time))
        e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      if (jobs.containsKey(e.jobId)) jobEnds.put(e.jobId, e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      Option(stageJob.get(i.stageId)).foreach { j =>
        stages.add(Stage(i.stageId, j, i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L)))
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (stageJob.containsKey(e.stageId) && e.taskInfo != null) {
        val m = e.taskMetrics
        tasks.add(Task(e.stageId, e.taskInfo.launchTime, e.taskInfo.finishTime,
          if (m == null) 0L else m.executorRunTime,
          if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten,
          if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead,
          if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled))
      }
  }

  private class QeEvents(client: Int) extends QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val t = qe.tracker
      val graftNs = t.rules.collect { case (k, r) if k.startsWith("graft.plans.") => r.totalTimeNs }.sum
      qes.add(Qe(client, t.phases.map { case (k, p) => k -> (p.startTimeMs, p.endTimeMs) }, graftNs))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  private object StreamEvents extends StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val ops = Option(p.stateOperators).map(_.toSeq).getOrElse(Nil)
      batches.add(Batch(java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        ops.map(_.commitTimeMs).sum, ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum,
        ops.map(_.numShufflePartitions).foldLeft(0L)(math.max)))
    }
  }

  /** Register the listeners: Spark's once per context, the query and
    * stream listeners once per client session.
    */
  def install(spark: SparkSession): Unit = spark.sparkContext.addSparkListener(SparkEvents)
  def installSession(s: SparkSession, client: Int): Unit = {
    s.listenerManager.register(new QeEvents(client))
    s.streams.addListener(StreamEvents)
  }

  private val current = new ThreadLocal[Long]
  private val last = new ThreadLocal[Long]

  /** Id of the last op [[op]] ran on this thread. */
  def lastOp: Long = last.get

  /** Run `f` as op `name` of `client`, tagging its Spark jobs. */
  def op[T](spark: SparkSession, client: Int, name: String)(f: => T): T = {
    val id = ids.incrementAndGet()
    val sc = spark.sparkContext
    sc.setLocalProperty(OpKey, id.toString)
    current.set(id)
    last.set(id)
    val t0 = nowMs
    try f finally {
      harnessSpans.add(Span(id, 0L, id, "harness", name, t0, nowMs))
      sc.setLocalProperty(OpKey, null)
      sc.setLocalProperty(CallKey, null)
      current.remove()
    }
  }

  /** Run `f` as a call into graft `layer` inside the current op; a no-op
    * wrapper outside a traced op.
    */
  def call[T](spark: SparkSession, client: Int, layer: String, name: String)(f: => T): T = {
    val op = current.get
    if (op == 0L) return f
    val id = ids.incrementAndGet()
    spark.sparkContext.setLocalProperty(CallKey, id.toString)
    callClient.put(id, client)
    val t0 = nowMs
    try f finally {
      harnessSpans.add(Span(id, op, op, layer, name, t0, nowMs))
      spark.sparkContext.setLocalProperty(CallKey, null)
    }
  }

  /** Wait until the asynchronous listener events of finished jobs have
    * arrived (bounded), so the report sees every job end.
    */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 5000
    var quiet = 0
    var last = -1L
    while (System.currentTimeMillis() < deadline && quiet < 3) {
      val seen = jobEnds.size.toLong + tasks.size + qes.size + batches.size
      val pending = jobs.keySet.asScala.count(j => !jobEnds.containsKey(j))
      quiet = if (seen == last && pending == 0) quiet + 1 else 0
      last = seen
      Thread.sleep(100)
    }
  }

  private def union(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val xs = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    xs.foreach { case (a, b) =>
      if (curS.isNaN || a > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** All spans of traced ops (harness-recorded op and call spans plus
    * phase, job, stage and batch spans derived from listener events), with
    * the query executions and batches that matched a traced call.
    */
  private def derive(): (Seq[Span], Seq[Qe], Seq[Batch]) = {
    val hs = harnessSpans.asScala.toSeq
    val calls = hs.filter(_.parent != 0L)
    val byClient = calls.groupBy(c => callClient.getOrDefault(c.id, -1))
    def callAt(client: Int, t: Double): Option[Span] =
      byClient.getOrElse(client, Nil).find(c => t >= c.start - 1 && t <= c.end + 1)
    val matchedQes = qes.asScala.toSeq.flatMap { q =>
      q.phases.get("analysis").flatMap { case (s, _) => callAt(q.client, s.toDouble) }.map(q -> _)
    }
    val phases = matchedQes.flatMap { case (q, c) =>
      q.phases.toSeq.map { case (name, (s, e)) =>
        Span(ids.incrementAndGet(), c.id, c.op, "plans", name, s.toDouble, math.max(e, s).toDouble)
      }
    }
    val jobSpans = jobs.asScala.toSeq.flatMap { case (jid, j) =>
      Option(jobEnds.get(jid)).map(end =>
        jid -> Span(ids.incrementAndGet(), if (j.call != 0L) j.call else j.op, j.op, "spark",
          s"job $jid", j.start.toDouble, end.toDouble))
    }.toMap
    val stageSpans = stages.asScala.toSeq.flatMap { s =>
      jobSpans.get(s.job).map(j =>
        Span(ids.incrementAndGet(), j.id, j.op, "spark", s"stage ${s.id}", s.submit.toDouble,
          math.max(s.complete, s.submit).toDouble))
    }
    val matchedBatches = batches.asScala.toSeq.flatMap { b =>
      calls.find(c => b.start >= c.start - 1 && b.start <= c.end + 1).map(b -> _)
    }
    val batchSpans = matchedBatches.map { case (b, c) =>
      Span(ids.incrementAndGet(), c.id, c.op, "streaming", "batch", b.start.toDouble,
        (b.start + b.durations.getOrElse("triggerExecution", 0L)).toDouble)
    }
    (hs ++ phases ++ jobSpans.values ++ stageSpans ++ batchSpans,
      matchedQes.map(_._1), matchedBatches.map(_._1))
  }

  /** Per-layer metrics over the traced ops, plus each layer's self time
    * and the op time that no span below the call level covers.
    */
  def report(cores: Int): (Map[String, Double], Seq[Span]) = {
    drain()
    val (all, matchedQes, bs) = derive()
    val children = all.groupBy(_.parent)
    val ops = all.filter(_.layer == "harness")
    val n = math.max(1, ops.size).toDouble
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]

    def self(s: Span): Double =
      s.dur - union(children.getOrElse(s.id, Nil).map(c => (c.start, c.end)), s.start, s.end)
    Seq("harness", "plans", "sources", "operators", "streaming", "spark").foreach { l =>
      out(s"self_ms.$l") = all.filter(_.layer == l).map(self).sum / n
    }
    val leaves = all.filter(s => s.layer == "plans" && s.parent != s.op ||
      s.layer == "spark" || s.layer == "streaming" && s.name == "batch").groupBy(_.op)
    out("op.unattributed_ms") = ops.map(o =>
      o.dur - union(leaves.getOrElse(o.id, Nil).map(c => (c.start, c.end)), o.start, o.end)).sum / n

    val phaseSpans = all.filter(s => s.layer == "plans" && s.parent != s.op)
    Seq("analysis", "optimization", "planning").foreach { p =>
      out(s"plans.${p}_ms") = phaseSpans.filter(_.name == p).map(_.dur).sum / n
    }
    out("plans.graft_rules_ms") = matchedQes.map(_.graftRulesNs).sum / 1e6 / n

    val jobList = jobs.asScala.toSeq
    val stageList = stages.asScala.toSeq
    val taskList = tasks.asScala.toSeq
    out("spark.jobs") = jobList.size / n
    out("spark.stages") = stageList.size / n
    out("spark.tasks") = taskList.size / n
    val stageOp = stageList.map(s => s.id -> jobs.get(s.job).op).toMap
    val tasksByOp = taskList.groupBy(t => stageOp.getOrElse(t.stage, 0L))
    out("spark.sched_gap_ms") = ops.map(o => o.dur - union(
      tasksByOp.getOrElse(o.id, Nil).map(t => (t.launch.toDouble, t.finish.toDouble)),
      o.start, o.end)).sum / n
    out("spark.core_busy") = taskList.map(_.runMs).sum / math.max(1.0, ops.map(_.dur).sum * cores)
    out("spark.shuffle_write_bytes") = taskList.map(_.shuffleWrite).sum / n
    out("spark.shuffle_read_bytes") = taskList.map(_.shuffleRead).sum / n
    out("spark.spill_bytes") = taskList.map(_.spill).sum / n
    out("spark.task_skew") = median(taskList.groupBy(_.stage).values.toSeq
      .filter(_.size >= 2).map { ts =>
        val d = ts.map(t => (t.finish - t.launch).toDouble)
        d.max / math.max(1.0, median(d))
      })

    val streamOps = math.max(1, all.count(s => s.layer == "streaming" && s.parent == s.op)).toDouble
    out("streaming.batches") = bs.size / streamOps
    def dm(k: String) = median(bs.map(_.durations.getOrElse(k, 0L).toDouble))
    out("streaming.batch_ms") = dm("triggerExecution")
    out("streaming.plan_ms") = dm("queryPlanning")
    out("streaming.add_batch_ms") = dm("addBatch")
    out("streaming.wal_commit_ms") = dm("walCommit")
    out("streaming.state_commit_ms") = median(bs.map(_.stateCommitMs.toDouble))
    out("streaming.state_rows") = median(bs.map(_.stateRows.toDouble))
    out("streaming.state_bytes") = median(bs.map(_.stateBytes.toDouble))
    out("streaming.state_partitions") = bs.map(_.statePartitions.toDouble).foldLeft(0.0)(math.max)
    (out.toMap, all)
  }

  /** The `key` duration (as the progress report names it) of the
    * micro-batches of each traced call named `call`, in batch order.
    */
  def batchMs(call: String, key: String): Seq[Seq[Double]] = {
    val bs = batches.asScala.toSeq.sortBy(_.start)
    harnessSpans.asScala.toSeq.filter(c => c.parent != 0L && c.name == call).map { c =>
      bs.filter(b => b.start >= c.start - 1 && b.start <= c.end + 1)
        .map(_.durations.getOrElse(key, 0L).toDouble)
    }
  }

  /** Jobs started by each traced op, for per-op job counts. */
  def jobsPerOp(): Map[Long, Int] = jobs.asScala.values.groupBy(_.op).map { case (k, v) => k -> v.size }
}
