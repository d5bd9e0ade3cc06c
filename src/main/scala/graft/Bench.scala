package graft
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import scala.util.control.NonFatal

/** Benchmark harness. Prints ONE compact JSON line for the driver and
  * writes the complete per-query map to `bench_full.json`.
  *
  * The driver captures only the last ~2000 characters of stdout, and a
  * 120+-query map is ~3x that — so the stdout line carries the total,
  * failure count, and as many of the SLOWEST queries as fit a fixed
  * character budget (the slow tail is what perf grading needs), while
  * the full map goes to the sidecar file referenced by "full".
  *
  * Per-query time is the median of the SUCCESSFUL runs only; a query
  * with zero successful runs reports -1.0 and lands in "failed" —
  * failures are never averaged into a success time.
  */
object Bench {
  /** One timed call: seconds (-1 on failure), and the Janino compiles
    * and compile ms Spark's codegen counters saw during it.
    */
  private final case class Run(sec: Double, compiles: Long, compileMs: Double)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val runs = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt
    val spark = GraftSession.create(s"local[$cpus]", cpus.toInt)
    // Warm the session (FS listing, parquet footers, codegen infra)
    // so the first measured query isn't charged for JVM startup.
    Tables.names.foreach(n => try Tables(spark, sfDir, n).count() catch { case NonFatal(_) => () })
    // Materialize through the noop sink — unlike count(), it cannot
    // elide top-level sorts/projections. Staged queries (Q.staged)
    // re-run their table-staging setup before EACH iteration OUTSIDE
    // the timer, so the reported number is the operator verb alone
    // (a compaction of already-compacted files, or a point lookup
    // charged for the table write, would both be lies).
    def once(q: Q): Run = {
      try q.setup.foreach(_(spark, sfDir))
      catch { case NonFatal(e) =>
        System.err.println(s"[bench] ${q.name} setup failed: ${e.toString.take(500)}")
        return Run(-1.0, 0L, 0.0)
      }
      val fn = q.verb.getOrElse(q.run)
      // Drain the previous query's garbage OUTSIDE the timer: without
      // this, an allocation-heavy neighbor donates a multi-second GC
      // pause to whichever query runs next and the medians grow tails
      // that look like regressions (observed: 0.9 s q_dedup_spans
      // measuring 6-11 s under accumulated heap debt).
      // Also unload state-store providers left by earlier stateful
      // stream rows (Spark's own suites do this between tests):
      // accumulated providers inflated stream rows 3-8x in-suite vs
      // their 5-run standalone medians (stream_tumbling 10.5 s
      // in-suite vs 1.2 s standalone, same build).
      org.apache.spark.sql.graftglue.Glue.unloadStateStores()
      System.gc()
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val compileNs0 = CodeGenerator.compileTime
      def run(sec: Double) = Run(sec, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0,
        (CodeGenerator.compileTime - compileNs0) / 1e6)
      val t0 = System.nanoTime()
      try fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      catch { case NonFatal(e) =>
        System.err.println(s"[bench] ${q.name} failed: ${e.toString.take(500)}")
        return run(-1.0)
      }
      run((System.nanoTime() - t0) / 1e9)
    }
    // Optional first arg: comma-separated query-name filter (local iteration).
    val wanted = args.headOption.map(_.split(",").map(_.trim).toSet)
    val selected = wanted.fold(Registry.all)(w => Registry.all.filter(q => w(q.name)))
    val measured: Map[String, Seq[Run]] = selected.map(q => q.name -> (1 to runs).map(_ => once(q))).toMap
    val samples: Map[String, Seq[Double]] =
      measured.map { case (k, rs) => k -> rs.map(_.sec).filter(_ >= 0.0).sorted }
    val results: Map[String, Double] =
      samples.map { case (k, ok) => k -> (if (ok.isEmpty) -1.0 else ok(ok.size / 2)) }
    val failed = results.collect { case (k, v) if v < 0 => k }.toSeq.sorted
    val good = results.filter(_._2 >= 0)
    val total = good.values.sum

    def entry(kv: (String, Double)) = "\"" + kv._1 + "\":" + f"${kv._2}%.3f"
    val fullMap = results.toSeq.sortBy(_._1).map(entry).mkString("{", ",", "}")
    // Per-query [min,max] across the runs: the variance record that
    // separates a real regression from machine load (a wide spread
    // says "noisy neighbor", a tight-but-slow one says "regression").
    val spreadMap = samples.toSeq.filter(_._2.nonEmpty).sortBy(_._1)
      .map { case (k, ok) => "\"" + k + f"""\":[${ok.head}%.3f,${ok.last}%.3f]""" }
      .mkString("{", ",", "}")
    // Per-run Janino compiles and compile ms around each timed call:
    // the codegen layer. A warm row that still compiles has lost
    // CodeGenerator cache reuse.
    val codegenMap = measured.toSeq.sortBy(_._1).map { case (k, rs) =>
      "\"" + k + "\":{\"compiles\":" + rs.map(_.compiles).mkString("[", ",", "]") +
        ",\"ms\":" + rs.map(r => f"${r.compileMs}%.1f").mkString("[", ",", "]") + "}"
    }.mkString("{", ",", "}")
    val fullJson = s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","n":${results.size},""" +
      s""""runs":$runs,"failed":${failed.mkString("[\"", "\",\"", "\"]").replace("[\"\"]", "[]")},""" +
      s""""queries":$fullMap,"spread":$spreadMap,"codegen":$codegenMap,"sf":"$sfDir"}"""
    val fullPath = java.nio.file.Paths.get("bench_full.json").toAbsolutePath
    java.nio.file.Files.write(fullPath, fullJson.getBytes("UTF-8"))

    // Stdout line: slowest-first queries, capped so the WHOLE line stays
    // well inside the driver's ~2000-char stdout capture window even if a
    // stray log line lands after it. The driver has never parsed a line
    // that (a) carried an sbt "[info] " prefix or (b) was followed by
    // sbt's "[success]" banner — build.sbt now fixes both (StdoutOutput +
    // showSuccess := false) and this line is printed AFTER spark.stop()
    // so nothing the engine logs can trail it.
    val lineBudget = 1000
    val head = s"""{"metric":"total","value":${f"$total%.3f"},"unit":"sec","n":${results.size},""" +
      s""""failed":${failed.size},"full":"$fullPath","queries":{"""
    val tailTemplate = s"""},"omitted":OMIT,"sf":"$sfDir"}"""
    val queryBudget = lineBudget - head.length - tailTemplate.length - 4
    val slowestFirst = good.toSeq.sortBy(-_._2)
    val sb = new StringBuilder
    var taken = 0
    slowestFirst.foreach { kv =>
      val e = entry(kv)
      if (sb.length + e.length + 1 <= queryBudget) {
        if (sb.nonEmpty) sb.append(',')
        sb.append(e); taken += 1
      }
    }
    val line = head + sb.toString +
      s"""},"omitted":${results.size - failed.size - taken},"sf":"$sfDir"}"""
    // a failing stop must not swallow the JSON line printed below
    try spark.stop()
    catch { case NonFatal(e) => System.err.println(s"[bench] spark.stop failed: $e") }
    println(line)
  }
}
