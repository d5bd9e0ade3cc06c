package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.EventPipeline

/** Generated code is compiled once per engine. CodeGenerator caches
  * classes by (context classloader, source), so the reuse holds only
  * while every graft session — and the clone each streaming query
  * runs on — shares one executor classloader and the cache holds the
  * working set (both fixed by GraftSession.builder).
  */
class CodegenReuseSpec extends AnyFunSuite {
  import SharedSpark.{sf, spark}

  /** `body`'s result and the Janino compiles it triggered, on the
    * driver and in tasks.
    */
  private def compiling[T](body: => T): (T, Long) = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    val out = body
    (out, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0)
  }

  test("a repeated streaming query reuses the classes its first run compiled") {
    val first = EventPipeline.tumbling(spark, sf).collect().toSeq
    val (second, n) = compiling(EventPipeline.tumbling(spark, sf).collect().toSeq)
    assert(n == 0, s"second run compiled $n classes")
    assert(second == first)
  }

  test("one statement on two fresh sessions compiles only on the first") {
    val query = "SELECT event_type, count(*) AS n, round(sum(value), 2) AS s " +
      "FROM events WHERE value > 0 GROUP BY event_type ORDER BY event_type"
    val first = GraftSession.sql(spark.newSession(), sf, query).collect().toSeq
    val (second, n) = compiling(GraftSession.sql(spark.newSession(), sf, query).collect().toSeq)
    assert(n == 0, s"second session compiled $n classes")
    assert(second == first)
  }
}
