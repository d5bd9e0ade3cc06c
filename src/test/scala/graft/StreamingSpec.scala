package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.EventPipeline
import graft.streaming.EventPipeline.{Ev, UserAgg}

/** Incremental semantics that the bounded AvailableNow registry runs
  * can't show: watermark-driven window finalization and cross-batch
  * state evolution, driven through MemoryStream micro-batches.
  */
class StreamingSpec extends AnyFunSuite {
  import SharedSpark.{sf, spark}
  import spark.implicits._

  private def ts(minute: Int) = new Timestamp(1700000000000L + minute * 60000L)

  test("watermark finalizes tumbling windows only once it passes") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = ms.toDF()
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 hour")).agg(count(lit(1)).as("cnt"))
      .writeStream.format("memory").queryName("wm_spec")
      .outputMode(OutputMode.Append()).start()
    try {
      ms.addData(Ev(1, ts(0), 1, "a", 1.0), Ev(2, ts(30), 1, "a", 1.0))
      q.processAllAvailable()
      assert(spark.table("wm_spec").count() == 0) // window still open
      ms.addData(Ev(3, ts(200), 1, "a", 1.0)) // watermark jumps past hour 0
      q.processAllAvailable()
      val rows = spark.table("wm_spec").collect()
      assert(rows.length == 1 && rows(0).getLong(1) == 2, rows.toSeq)
    } finally q.stop()
  }

  test("streaming dedup emits each key once across batches") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val q = ms.toDF().select("user_id", "event_type")
      .dropDuplicates("user_id", "event_type")
      .writeStream.format("memory").queryName("dd_spec")
      .outputMode(OutputMode.Append()).start()
    try {
      ms.addData(Ev(1, ts(0), 1, "a", 1.0), Ev(2, ts(1), 1, "a", 1.0))
      q.processAllAvailable()
      ms.addData(Ev(3, ts(2), 1, "a", 1.0), Ev(4, ts(3), 2, "b", 1.0))
      q.processAllAvailable()
      val got = spark.table("dd_spec").collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(got == Set((1L, "a"), (2L, "b")))
    } finally q.stop()
  }

  test("flatMapGroupsWithState accumulates per-user state across batches") {
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Ev]
    val updates = ms.toDS()
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout())(
        (uid: Long, evs: Iterator[Ev], state: GroupState[UserAgg]) => {
          val prev = state.getOption.getOrElse(UserAgg(uid, 0L, 0.0))
          val next = evs.foldLeft(prev)((a, e) => UserAgg(uid, a.cnt + 1, a.sum_val + e.value))
          state.update(next)
          Iterator.single(next)
        })
    val q = updates.toDF().writeStream.format("memory").queryName("st_spec")
      .outputMode(OutputMode.Update()).start()
    try {
      ms.addData(Ev(1, ts(0), 7, "a", 2.0), Ev(2, ts(1), 7, "a", 3.0))
      q.processAllAvailable()
      ms.addData(Ev(3, ts(2), 7, "a", 5.0))
      q.processAllAvailable()
      val rows = spark.table("st_spec").where(col("user_id") === 7).collect()
        .map(r => (r.getLong(1), r.getDouble(2))).toSet
      assert(rows == Set((2L, 5.0), (3L, 10.0)), rows) // batch1 then batch2 cumulative
    } finally q.stop()
  }

  test("streaming state runs on the RocksDB provider (production backend)") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val got = EventPipeline.dedup(spark, sf).count()
      val want = Tables(spark, sf, "events")
        .select("user_id", "event_type").distinct().count()
      assert(got == want)
    } finally spark.conf.unset(key)
  }

  test("RocksDB changelog checkpointing: state survives a mid-stream restart") {
    // The ops-grade restart story for BIG state: with changelog
    // checkpointing the per-batch commit uploads only the batch's
    // changelog (delta), not a full RocksDB snapshot — at 100 TB-scale
    // state, full-snapshot uploads per batch are the bottleneck. The
    // pin: stop a stateful query mid-stream, restart from the same
    // checkpoint with changelog mode on, and the state must converge
    // to the same cumulative answer (a lost store would restart the
    // count); the checkpoint must actually hold .changelog files.
    val pk = "spark.sql.streaming.stateStore.providerClass"
    val ck = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    spark.conf.set(pk,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    spark.conf.set(ck, "true")
    val ckpt = s"${graft.operators.Lakehouse.scratch}/rocksdb_changelog_ckpt"
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(ckpt), true)
    implicit val ctx = spark.sqlContext
    val ms = MemoryStream[Ev]
    // the memory sink refuses checkpoint recovery; foreachBatch is the
    // recoverable sink shape production restarts actually use
    val got = new scala.collection.mutable.ArrayBuffer[(Long, Long, Double)]()
    def start() = ms.toDS()
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout())(
        (uid: Long, evs: Iterator[Ev], state: GroupState[UserAgg]) => {
          val prev = state.getOption.getOrElse(UserAgg(uid, 0L, 0.0))
          val next = evs.foldLeft(prev)((a, e) => UserAgg(uid, a.cnt + 1, a.sum_val + e.value))
          state.update(next)
          Iterator.single(next)
        })
      .toDF().writeStream
      .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
        val rows = df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        got.synchronized { got ++= rows }; ()
      }
      .option("checkpointLocation", ckpt)
      .outputMode(OutputMode.Update()).start()
    try {
      var q = start()
      try {
        ms.addData(Ev(1, ts(0), 7, "a", 2.0), Ev(2, ts(1), 7, "a", 3.0))
        q.processAllAvailable()
        ms.addData(Ev(3, ts(2), 7, "a", 5.0), Ev(4, ts(3), 9, "b", 1.0))
        q.processAllAvailable()
      } finally q.stop()
      // restart from the changelog checkpoint; more data arrives
      q = start()
      try {
        ms.addData(Ev(5, ts(4), 7, "a", 10.0), Ev(6, ts(5), 9, "b", 4.0))
        q.processAllAvailable()
      } finally q.stop()
      val last = got.synchronized {
        got.groupBy(_._1).map { case (uid, rows) =>
          uid -> rows.map(r => (r._2, r._3)).maxBy(_._1)
        }
      }
      // cumulative ACROSS the restart: 3+1 events for user 7, 1+1 for 9
      assert(last(7L) == (4L, 20.0), s"user 7 state lost on restart: $last")
      assert(last(9L) == (2L, 5.0), s"user 9 state lost on restart: $last")
      // and the mechanism is the one claimed: changelog files on disk
      val it = fs.listFiles(new org.apache.hadoop.fs.Path(ckpt), true)
      var changelogs = 0
      while (it.hasNext) {
        if (it.next().getPath.getName.endsWith(".changelog")) changelogs += 1
      }
      assert(changelogs > 0, "no .changelog files - changelog checkpointing was not active")
    } finally {
      spark.conf.unset(pk)
      spark.conf.unset(ck)
      org.apache.spark.sql.graftglue.Glue.unloadStateStores()
    }
  }

  test("state data source reads a dedup checkpoint's exact key set") {
    val got = EventPipeline.stateReader(spark, sf)
    // The offline state read equals batch DISTINCT — the checkpoint
    // holds exactly the keys it should, no more, no fewer.
    val want = Tables(spark, sf, "events")
      .select("user_id", "event_type").distinct()
      .orderBy("user_id", "event_type")
    assert(got.collect().toSeq == want.collect().toSeq)
    // The raw source also surfaces the state SHARDING (partition_id):
    // state for a multi-partition operator spans >1 store instance —
    // what an operator-repair tool must see to rewrite shards in place.
    val ckpt = s"${graft.operators.Lakehouse.scratch}/stream_state_reader_ckpt"
    val raw = spark.read.format("statestore").load(ckpt)
    assert(raw.columns.contains("partition_id"))
    assert(raw.select("partition_id").distinct().count() > 1)
  }

  test("state partitions follow stream volume: floor 8, one per 32 MB, capped") {
    assert(EventPipeline.statePartitions(0L, 200) == 8)
    assert(EventPipeline.statePartitions(300L << 20, 200) == 10)
    assert(EventPipeline.statePartitions(100L << 30, 200) == 200)
    assert(EventPipeline.statePartitions(0L, 4) == 4) // a cap below the floor wins
  }

  test("stream sources under glob metacharacters name only themselves") {
    import org.apache.hadoop.fs.{FileUtil, Path}
    val root = s"${graft.operators.Lakehouse.scratch}/glob_src"
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(root).getFileSystem(conf)
    fs.delete(new Path(root), true)
    // unescaped, `ev [a]{b,c}` would match these decoys, never itself
    val odd = s"$root/ev [a]{b,c}"
    val events = Tables(spark, sf, "events")
    Seq("ab", "ac").foreach(k => events.limit(1).write.parquet(s"$root/ev $k/events.parquet"))
    // a single-file source (the gate tables' shape)...
    FileUtil.copy(fs, new Path(s"$sf/events.parquet"), fs, new Path(s"$odd/events.parquet"),
      false, conf)
    val want = EventPipeline.tumbling(spark, sf).collect().toSeq
    assert(EventPipeline.tumbling(spark, odd).collect().toSeq == want)
    // ...and a directory of part files under the same name
    val oddDir = s"$root/dir [a]{b,c}"
    events.write.parquet(s"$oddDir/events.parquet")
    assert(EventPipeline.tumbling(spark, oddDir).collect().toSeq == want)
  }

  test("registry streaming queries match their batch equivalents") {
    val streamRes = EventPipeline.tumbling(spark, sf).collect()
    val batchRes = Registry.byName("q_events_tumbling").run(spark, sf)
      .select(col("wstart"), col("event_type"), col("cnt"), col("sum_val")).collect()
    assert(streamRes.map(_.toString).sorted.toSeq == batchRes.map(_.toString).sorted.toSeq)
  }
}
