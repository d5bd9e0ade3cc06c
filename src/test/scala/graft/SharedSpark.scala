package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** One SparkSession for the whole test run (suites run sequentially;
  * see build.sbt Test/parallelExecution).
  */
object SharedSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder("local[4]", 8)
      .appName("graft-tests")
      // static conf read by SparkConnectService.start (ConnectGatewaySpec)
      .config("spark.connect.grpc.binding.port", "15999")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf = "/root/testdata/sf0.001"
  val sf01 = "/root/testdata/sf0.01"

  /** Job group of the sentinel job [[listening]] runs. */
  val BarrierGroup = "listener-barrier"

  def jobGroup(e: SparkListenerJobStart): Option[String] =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))

  /** Runs `body` with `listener` attached and returns once `listener`
    * has received every event `body` caused: a sentinel job in
    * [[BarrierGroup]] follows `body`, and the listeners added here
    * share one queue, which delivers events in order.
    */
  def listening[T](listener: SparkListener)(body: => T): T = {
    val sc = spark.sparkContext
    val seen = new CountDownLatch(1)
    val barrier = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (jobGroup(e).contains(BarrierGroup)) seen.countDown()
    }
    sc.addSparkListener(listener)
    sc.addSparkListener(barrier)
    try {
      val result = body
      sc.setJobGroup(BarrierGroup, "listener barrier")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      require(seen.await(60, TimeUnit.SECONDS), "listener barrier job never seen")
      result
    } finally {
      sc.removeSparkListener(barrier)
      sc.removeSparkListener(listener)
    }
  }

  /** The jobs `body` started (the barrier job left out). */
  def jobsDuring(body: => Any): Seq[SparkListenerJobStart] = {
    val started = new java.util.concurrent.ConcurrentLinkedQueue[SparkListenerJobStart]
    listening(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (!jobGroup(e).contains(BarrierGroup)) started.add(e)
    })(body)
    started.toArray(Array.empty[SparkListenerJobStart]).toSeq
  }
}
