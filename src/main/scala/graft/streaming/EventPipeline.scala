package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftglue.Glue
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types.{LongType, StructType}
import graft.Q

/** C-block stream processing (the reference's `stream` NineClusterType,
  * api/v1alpha1/ninecluster_types.go:41-42) on Structured Streaming.
  *
  * Each registry entry runs a REAL streaming query — file-source
  * readStream over the events table, Trigger.AvailableNow, memory sink
  * — to completion and returns the sink table, so the driver's oracle
  * gate checks genuine incremental execution against batch SQL. The
  * same graphs run unbounded in production with watermarks bounding
  * state; sinks/sources swap for Kafka/Delta without touching the
  * transform.
  */
object EventPipeline {

  final case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class UserAgg(user_id: Long, cnt: Long, sum_val: Double)

  /** Resolve the stream-source path IN PLACE and measure its bytes.
    * The source may be a single parquet FILE (the generated test
    * tables) or a Spark-written DIRECTORY of part files (the sf1
    * scale corpus, any production landing dir). A directory streams
    * as-is (part files sit directly inside — file stream sources do
    * not recurse, but need not); a single file streams through a
    * `{name}` glob so the source's basePath (the parent) is the
    * directory the file-stream source requires. Every glob
    * metacharacter in the path is escaped, so a directory or file
    * name containing `[` or `{` still names only itself. Earlier
    * rounds COPIED the source into a scratch landing dir first — a
    * driver-side, single-threaded byte copy charged to every stream
    * row, and a non-starter at 100 TB where the landing dir must be
    * read in place. File stream sources need an explicit schema: the
    * one Spark would infer, read from the source's footer on the
    * driver (`Glue.parquetFooterSchema` over the literal path), so no
    * Spark job runs before the stream's first batch. The byte count
    * sizes state partitions ([[withStreamPartitions]]).
    */
  private def streamSource(spark: SparkSession, src: org.apache.hadoop.fs.Path): (DataFrame, Long) = {
    val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val path =
      if (fs.getFileStatus(src).isDirectory) globEscape(src.toString)
      else s"${globEscape(src.getParent.toString)}/{${globEscape(src.getName)}}"
    (spark.readStream.schema(Glue.parquetFooterSchema(spark, Seq(src))).parquet(path),
      graft.Tables.pathBytes(spark, src.toString))
  }

  private def globEscape(p: String): String = p.replaceAll("""([\\*?\[\]{},])""", """\\$1""")

  /** Streaming view of the events table plus its source bytes.
    * events.ts is parquet TIMESTAMP(NANOS), read as long (SPARK-40819,
    * under the setting GraftSession fixes) and rescaled, mirroring
    * graft.Tables.
    */
  def eventsStream(spark: SparkSession, dir: String): (DataFrame, Long) = {
    val (raw, bytes) = streamSource(spark, new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
    // Event-time ops (withWatermark, window, session_window) require
    // TIMESTAMP (LTZ); the generated parquet may carry ts as NANOS-long
    // or TIMESTAMP_NTZ depending on writer version. Session tz is UTC,
    // so the NTZ->LTZ cast is wall-clock lossless; windowed outputs
    // cast back to NTZ to match the oracle's naive timestamps.
    val ev = raw
      .withColumn("ts", raw.schema("ts").dataType match {
        case LongType => expr("timestamp_micros(ts div 1000)")
        case org.apache.spark.sql.types.TimestampNTZType => col("ts").cast("timestamp")
        case _ => col("ts")
      })
    (ev, bytes)
  }

  /** State partitions for a stream with `bytes` pending: one per
    * ~32 MB, FLOORED at 8 (the measured local optimum — an
    * interleaved A/B at sf0.1 showed a volume-only rule collapsing to
    * 1 partition loses 2.9 s across the block: per-batch COMPUTE
    * parallelism matters before state volume does), capped at `cap`,
    * the deployment's batch shuffle-partition setting (its
    * parallelism ceiling — a 100 TB landing dir saturates the cap).
    */
  private[graft] def statePartitions(bytes: Long, cap: Int): Int =
    math.min(cap.toLong, math.max(8L, bytes / (32L << 20) + 1)).toInt

  /** Run `f` with `spark.sql.shuffle.partitions` at
    * [[statePartitions]] for `inputBytes` of pending input. Stateful
    * streaming operators pay per-state-store-instance overhead (a
    * store per shuffle partition per stateful operator — a
    * stream-stream join keeps four), so the count follows the stream's
    * OBSERVED VOLUME. Checkpoints here are fresh per run, so the
    * partition count may differ from batch safely.
    */
  private def withStreamPartitions[T](spark: SparkSession, inputBytes: Long)(f: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val old = spark.conf.get(key)
    spark.conf.set(key, statePartitions(inputBytes, old.toInt).toString)
    try f finally spark.conf.set(key, old)
  }

  /** Run `streamed` (with `inputBytes` pending at its source) to
    * completion into a memory sink, return the sink table.
    * AvailableNow processes every pending file then stops — the
    * bounded-input harness for an unbounded pipeline.
    *
    * The closing NO-DATA micro-batch is skipped ONLY where measured
    * to win AND provably output-neutral: the interleaved sf0.1 A/B
    * showed skipping it LOSES ~0.2-0.6 s on most rows (disabling
    * noDataMicroBatches delays AvailableNow termination by more than
    * the batch costs) but WINS ~1.1 s on the inner stream-stream join,
    * whose eviction batch commits 4 state stores x 8 partitions while
    * emitting nothing (inner joins emit on match arrival; eviction
    * only discards state). Outer joins MUST keep the batch — their
    * unmatched rows emit on eviction. `skipNoDataBatch = true` is the
    * per-query opt-in.
    */
  private def runToMemory(spark: SparkSession, streamed: DataFrame, inputBytes: Long,
      name: String, mode: OutputMode, skipNoDataBatch: Boolean = false): DataFrame =
    withStreamPartitions(spark, inputBytes) {
      val ndKey = "spark.sql.streaming.noDataMicroBatches.enabled"
      val ndOld = spark.conf.getOption(ndKey)
      if (skipNoDataBatch) spark.conf.set(ndKey, "false")
      try {
        val q = streamed.writeStream.format("memory").queryName(name)
          .outputMode(mode).trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      } finally if (skipNoDataBatch) ndOld match {
        case Some(v) => spark.conf.set(ndKey, v)
        case None => spark.conf.unset(ndKey)
      }
      spark.table(name)
    }

  /** C04: tumbling-window aggregation. Complete mode so the bounded
    * harness emits every window; unbounded deployments switch to
    * append + the same watermark to bound state and finalize windows.
    */
  def tumbling(spark: SparkSession, dir: String): DataFrame = {
    val (ev, bytes) = eventsStream(spark, dir)
    val agg = ev
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_val"))
    runToMemory(spark, agg, bytes, "graft_stream_tumbling", OutputMode.Complete())
      .select(col("window.start").cast("timestamp_ntz").as("wstart"),
        col("event_type"), col("cnt"), col("sum_val"))
      .orderBy("wstart", "event_type")
  }

  /** C05: streaming dedup — first occurrence of each (user, type) key
    * passes; keys-only projection before dropDuplicates keeps state at
    * key-width (watermark would bound it in unbounded runs).
    */
  def dedup(spark: SparkSession, dir: String): DataFrame = {
    val (ev, bytes) = eventsStream(spark, dir)
    val dd = ev
      .select("user_id", "event_type")
      .dropDuplicates("user_id", "event_type")
    runToMemory(spark, dd, bytes, "graft_stream_dedup", OutputMode.Append())
      .orderBy("user_id", "event_type")
  }

  /** C39: offline state introspection (Spark 4's State Data Source).
    * Run the C05 dedup graph to a DURABLE checkpoint, then read its
    * state store back with `spark.read.format("statestore")` — the ops
    * surface that matters at scale: inspecting (or repairing) the keys
    * a 1000-executor stateful job holds WITHOUT replaying the stream.
    * A dedup operator's state IS its key set, so the offline read-back
    * is gateable against exact batch DISTINCT — a genuine cross-engine
    * check that the checkpoint holds exactly the right state.
    */
  def stateReader(spark: SparkSession, dir: String): DataFrame = {
    val ckpt = s"${graft.operators.Lakehouse.scratch}/stream_state_reader_ckpt"
    val p = new org.apache.hadoop.fs.Path(ckpt)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    val (ev, bytes) = eventsStream(spark, dir)
    val dd = ev
      .select("user_id", "event_type")
      .dropDuplicates("user_id", "event_type")
    withStreamPartitions(spark, bytes) {
      val q = dd.writeStream.format("noop")
        .option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append()).trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    spark.read.format("statestore").load(ckpt)
      .select(col("key.user_id").as("user_id"),
        col("key.event_type").as("event_type"))
      .orderBy("user_id", "event_type")
  }

  /** C19: BOUNDED-STATE streaming dedup (dropDuplicatesWithinWatermark,
    * Spark 3.5+): plain dropDuplicates keeps every key seen FOREVER —
    * state grows with the key domain and eventually kills an unbounded
    * 100 TB stream — while the watermark variant evicts a key's state
    * once the watermark passes it, bounding state by the delay window.
    * The corpus spans 30 days and the delay here covers it, so the
    * output equals exact DISTINCT and the oracle can gate it; in
    * production the delay is the dedup horizon (e.g. 24 h), the price
    * of bounded state.
    */
  def dedupWithinWatermark(spark: SparkSession, dir: String): DataFrame = {
    val (ev, bytes) = eventsStream(spark, dir)
    val dd = ev
      .withWatermark("ts", "800 hours")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select("user_id", "event_type")
    runToMemory(spark, dd, bytes, "graft_stream_dedup_wm", OutputMode.Append())
      .orderBy("user_id", "event_type")
  }

  /** C06: custom per-user state via flatMapGroupsWithState — running
    * (count, sum) per user, emitted on every update; the final emission
    * per user equals the batch aggregate.
    */
  def userState(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (ev, bytes) = eventsStream(spark, dir)
    val updates = ev
      .select("event_id", "ts", "user_id", "event_type", "value").as[Ev]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.NoTimeout())(
        (uid: Long, evs: Iterator[Ev], state: GroupState[UserAgg]) => {
          val prev = state.getOption.getOrElse(UserAgg(uid, 0L, 0.0))
          val next = evs.foldLeft(prev)((acc, e) => UserAgg(uid, acc.cnt + 1, acc.sum_val + e.value))
          state.update(next)
          Iterator.single(next)
        })
    val sink = runToMemory(spark, updates.toDF(), bytes, "graft_stream_state", OutputMode.Update())
    // Multiple micro-batches emit one update each; the final state per
    // user is the row with the highest running count.
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(desc("cnt"))
    sink.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("user_id"), col("cnt"), round(col("sum_val"), 2).as("sum_val"))
      .orderBy("user_id")
  }

  final case class UserTypes(user_id: Long, cnt: Long, sum_val: Double, n_types: Long)

  /** C12: per-user stats on the transformWithState API (Spark 4's
    * arbitrary-state successor to flatMapGroupsWithState): a
    * ValueState carries the running (cnt, sum) and a MapState the
    * per-event-type tallies — the composite state shapes (map/list
    * alongside value, per key, individually evictable with TTL) that
    * the old single-blob GroupState could not express. Requires the
    * RocksDB state store provider.
    */
  private class UserStatsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Ev, UserTypes] {
    import org.apache.spark.sql.{Encoders => E}
    import org.apache.spark.sql.streaming.{MapState, TimeMode, TimerValues, TTLConfig, ValueState}
    @transient private var agg: ValueState[UserAgg] = _
    @transient private var types: MapState[String, Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      agg = getHandle.getValueState("agg", E.product[UserAgg], TTLConfig.NONE)
      types = getHandle.getMapState("types", E.STRING, E.scalaLong, TTLConfig.NONE)
    }
    override def handleInputRows(key: Long, rows: Iterator[Ev],
        timers: TimerValues): Iterator[UserTypes] = {
      var cur = if (agg.exists()) agg.get() else UserAgg(key, 0L, 0.0)
      rows.foreach { e =>
        cur = UserAgg(key, cur.cnt + 1, cur.sum_val + e.value)
        val c = if (types.containsKey(e.event_type)) types.getValue(e.event_type) else 0L
        types.updateValue(e.event_type, c + 1)
      }
      agg.update(cur)
      Iterator.single(UserTypes(key, cur.cnt, cur.sum_val, types.keys().size.toLong))
    }
  }

  def userStateTws(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    val key = "spark.sql.streaming.stateStore.providerClass"
    val old = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val (ev, bytes) = eventsStream(spark, dir)
      val updates = ev
        .select("event_id", "ts", "user_id", "event_type", "value").as[Ev]
        .groupByKey(_.user_id)
        .transformWithState(new UserStatsProcessor,
          TimeMode.None(), OutputMode.Update(), implicitly[org.apache.spark.sql.Encoder[UserTypes]])
      val sink = runToMemory(spark, updates.toDF(), bytes, "graft_stream_tws", OutputMode.Update())
      // one update per user per micro-batch: the final state has max cnt
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("user_id").orderBy(desc("cnt"))
      sink.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .select(col("user_id"), col("cnt"), round(col("sum_val"), 2).as("sum_val"),
          col("n_types"))
        .orderBy("user_id")
    } finally old match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** C07: streaming upsert — each micro-batch reduces to its latest
    * value per user (max_by on event time) and MERGEs into a
    * LakeTable; the table converges to "current value per user"
    * regardless of batch boundaries. This is the stream→lakehouse
    * sink pattern (foreachBatch + COW merge).
    */
  def upsertToLake(spark: SparkSession, dir: String): DataFrame = {
    val lake = s"${graft.operators.Lakehouse.scratch}/stream_upsert"
    val fs = new org.apache.hadoop.fs.Path(lake)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(lake), true)
    val (ev, bytes) = eventsStream(spark, dir)
    withStreamPartitions(spark, bytes) {
    val q = ev
      .select("user_id", "ts", "value")
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val latest = batch.groupBy("user_id")
          .agg(max_by(struct(col("ts"), col("value")), col("ts")).as("m"))
          .select(col("user_id"), col("m.ts").as("ts"), col("m.value").as("value"))
        if (graft.sources.LakeTable.currentVersion(spark, lake).isEmpty)
          graft.sources.LakeTable.create(spark, lake, latest)
        else {
          // cross-batch upsert: keep the later of stored vs incoming
          val stored = graft.sources.LakeTable.read(spark, lake)
          val winner = stored.unionByName(latest)
            .groupBy("user_id")
            .agg(max_by(struct(col("ts"), col("value")), col("ts")).as("m"))
            .select(col("user_id"), col("m.ts").as("ts"), col("m.value").as("value"))
          graft.sources.LakeTable.merge(spark, lake, winner, "user_id")
        }
        ()
      }
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    }
    graft.sources.LakeTable.read(spark, lake)
      .select(col("user_id"), col("value"))
      .orderBy("user_id")
  }

  /** C08: stream-stream inner join — purchases joined to the same
    * user's clicks within the preceding hour. Both sides are
    * watermarked so the join state is bounded: Spark retains only
    * rows inside the watermark+range window. The time-range predicate
    * is what makes this a true streaming join (state eviction), not a
    * static lookup.
    */
  /** C29: full-outer stream-stream join (see the registry entry for
    * the watermark/cutoff reasoning; this is [[streamStreamLeftJoin]]
    * with the cutoff applied to BOTH sides so both sides' unmatched
    * rows can flush).
    */
  def streamStreamFullJoin(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = java.sql.Timestamp.valueOf("2024-01-30 00:00:00")
    val (ev, bytes) = eventsStream(spark, dir)
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_id"))
      .withWatermark("p_ts", "1 hour")
      .where(col("p_ts") < lit(cutoff))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"), col("event_id").as("c_id"))
      .withWatermark("c_ts", "1 hour")
      .where(col("c_ts") < lit(cutoff))
    val joined = purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") <= col("p_ts"),
      "full_outer")
    runToMemory(spark, joined, bytes, "graft_stream_join_full", OutputMode.Append())
      .groupBy(coalesce(col("p_user"), col("c_user")).as("user_id"))
      .agg(sum(when(col("p_id").isNotNull && col("c_id").isNotNull, 1L).otherwise(0L)).as("n_pairs"),
        sum(when(col("c_id").isNull, 1L).otherwise(0L)).as("n_p_alone"),
        sum(when(col("p_id").isNull, 1L).otherwise(0L)).as("n_c_alone"))
      .orderBy("user_id")
  }

  /** Streaming view of the documents table plus its source bytes. */
  private[graft] def documentsStream(spark: SparkSession, dir: String): (DataFrame, Long) =
    streamSource(spark, new org.apache.hadoop.fs.Path(s"$dir/documents.parquet"))

  /** C33: STREAMING near-dedup against the persisted shingle index —
    * the ingest-time shape of q_dedup_incremental: new documents land
    * as a file stream, each micro-batch shingles its docs (stateless
    * map), probes the stored 8-byte-hash index with a stream-static
    * join, and the per-pair intersection counts aggregate in Complete
    * mode (state = candidate pairs, which tracks true collisions, not
    * corpus size). Jaccard verification joins the static per-doc
    * sizes AFTER the sink — in production the joined pairs land in a
    * lake table and the keep/drop verdict is a downstream batch read,
    * exactly this split. Output (and oracle) are identical to the
    * batch verb: streaming ingest must converge to the batch answer.
    */
  def streamIncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Curation, DedupOps}
    // incoming docs stream from the source in place (the eventsStream device)
    val conf = spark.sparkContext.hadoopConfiguration
    val (docs, bytes) = documentsStream(spark, dir)
    val idx = graft.sources.LakeTable.read(spark, s"${Curation.indexPath}/shingles")
      .select(col("doc_id").as("corpus_id"), col("h"))
    // STATELESS micro-batches: a file-stream doc lands in exactly one
    // micro-batch, so each pair's intersection count is complete
    // within the batch that carried its doc — the probe+count runs as
    // a PLAIN batch aggregate inside foreachBatch and appends its
    // pairs to the result dir. No streaming aggregation state at all.
    // The previous Complete-mode aggregation re-emitted the ENTIRE
    // accumulated pair state every micro-batch — quadratic in batch
    // count, invisible on the single-file gate corpus (1 batch),
    // measured 25× wall on 10× data at sf1 (8 landing files ⇒ 8
    // re-emissions of growing state). This is also the production
    // split the paragraph above describes: per-batch pairs land in
    // the lake, the keep/drop verdict is a downstream batch read.
    val outDir = s"${graft.operators.Lakehouse.scratch}/stream_dedup_index_out"
    val outPath = new org.apache.hadoop.fs.Path(outDir)
    outPath.getFileSystem(conf).delete(outPath, true)
    withStreamPartitions(spark, bytes) {
      val q = docs
        .where(col("doc_id") % 10 === 0)
        .writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          b.select(col("doc_id"), split(col("text"), " ").as("ws"))
            .select(col("doc_id"), DedupOps.shingleHashes(col("ws")).as("sh"))
            .select(col("doc_id").as("batch_id"),
              size(col("sh")).cast("long").as("sz_b"), explode(col("sh")).as("h"))
            .join(idx, "h")
            .groupBy("batch_id", "corpus_id")
            .agg(count(lit(1)).as("inter"), max("sz_b").as("sz_b"))
            .write.mode("append").parquet(outDir)
          ()
        }
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    // zero micro-batches (or all-empty batches) leave no parquet behind;
    // read would throw where the old Complete-mode path returned empty
    val wroteAny = {
      val fs = outPath.getFileSystem(conf)
      fs.exists(outPath) && fs.listStatus(outPath)
        .exists(_.getPath.getName.endsWith(".parquet"))
    }
    val pairs =
      if (wroteAny) graft.Tables.parquet(spark, outDir)
      else spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(
          org.apache.spark.sql.types.StructField("batch_id", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("corpus_id", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("inter", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("sz_b", org.apache.spark.sql.types.LongType))))
    val isz = graft.sources.LakeTable.read(spark, s"${Curation.indexPath}/sizes")
      .select(col("doc_id").as("corpus_id"), col("sz").as("sz_c"))
    pairs.join(isz, "corpus_id")
      .withColumn("jaccard", round(
        col("inter").cast("double") / (col("sz_b") + col("sz_c") - col("inter")) + lit(1e-9), 4))
      .where(col("jaccard") >= 0.8)
      .select("batch_id", "corpus_id", "jaccard")
      .orderBy("batch_id", "corpus_id")
  }

  def streamStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    val (ev, bytes) = eventsStream(spark, dir)
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_id"), col("value").as("p_val"))
      .withWatermark("p_ts", "1 hour")
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"), col("event_id").as("c_id"))
      .withWatermark("c_ts", "1 hour")
    val joined = purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") <= col("p_ts"))
    runToMemory(spark, joined, bytes, "graft_stream_join", OutputMode.Append(),
      skipNoDataBatch = true)
      .groupBy(col("p_user").as("user_id"))
      .agg(count(lit(1)).as("n_pairs"), countDistinct(col("p_id")).as("n_purchases"))
      .orderBy("user_id")
  }

  /** C31: stream-stream LEFT OUTER join — the hard half of streaming
    * joins: an unmatched left row can only emit (with nulls) once the
    * watermark proves no matching right row can still arrive, so
    * emission is driven by STATE EVICTION, not by data. Same
    * watermark+range state bounds as C08. The p_ts cutoff (a day
    * before corpus end) makes the bounded harness deterministic: every
    * retained purchase sits far below the final watermark, so all of
    * its outer results are flushed by the closing no-data batch — in
    * an unbounded deployment the cutoff disappears and outer rows
    * simply trail the watermark delay.
    */
  def streamStreamLeftJoin(spark: SparkSession, dir: String): DataFrame = {
    val (ev, bytes) = eventsStream(spark, dir)
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"),
        col("event_id").as("p_id"))
      .withWatermark("p_ts", "1 hour")
      // cutoff BELOW the watermark node: the watermark keeps tracking
      // the full stream's max event time, so it ends far above every
      // retained purchase and all their outer results flush; filtering
      // above the node would stall the watermark at the cutoff and
      // strand the last delay-window of unmatched rows in state.
      .where(col("p_ts") < lit(java.sql.Timestamp.valueOf("2024-01-30 00:00:00")))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"), col("event_id").as("c_id"))
      .withWatermark("c_ts", "1 hour")
    val joined = purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
        col("c_ts") <= col("p_ts"),
      "left_outer")
    runToMemory(spark, joined, bytes, "graft_stream_join_left", OutputMode.Append())
      .groupBy(col("p_user").as("user_id"))
      .agg(count(col("c_id")).as("n_pairs"),
        sum(when(col("c_id").isNull, 1L).otherwise(0L)).as("n_unmatched"))
      .orderBy("user_id")
  }

  /** C13: stream-static enrichment join — the dimension-lookup shape
    * of most production pipelines: the static side (customer) is read
    * fresh per micro-batch and broadcast, so the stream never shuffles
    * and state is zero (nothing to watermark — the static side is not
    * append-only). Inner join drops events with no dimension row, the
    * same semantics the batch oracle has.
    */
  def streamEnrich(spark: SparkSession, dir: String): DataFrame = {
    val dim = graft.Tables(spark, dir, "customer")
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
    val (ev, bytes) = eventsStream(spark, dir)
    val enriched = ev
      .join(broadcast(dim), Seq("user_id"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sum_val"))
    runToMemory(spark, enriched, bytes, "graft_stream_enrich", OutputMode.Complete())
      .orderBy("c_mktsegment")
  }

  /** C29: event-time TEMPORAL (versioned-dim) join — the Flink
    * "temporal table join". A plain stream-static enrich (C13) joins
    * each event to the dim's LATEST value, which is silently wrong
    * for late or replayed events; here each event joins the dim
    * version in force AT ITS EVENT TIME. Dim versions are
    * (key, valid_from, value) rows — exactly the shape a CDC feed of
    * the dimension materializes; the broadcast range join proposes
    * every version with valid_from <= ts and a per-event
    * arg-max(valid_from) picks the one in force. The per-event
    * aggregate groups on the watermarked event time, so in unbounded
    * append-mode deployments state closes as the watermark passes
    * each event — bounded by the delay window regardless of stream
    * length. Complete mode in this bounded harness (the C04 note);
    * versions-per-key is small and bounded by dim churn, the same
    * assumption Flink's temporal join state makes.
    */
  def streamTemporal(spark: SparkSession, dir: String): DataFrame = {
    // Versioned dim, derived deterministically: every user carries a
    // creation-time segment and a mid-corpus (Jan 16) cutover to a
    // rotated segment — as-of answers genuinely differ by event time.
    val users = graft.Tables(spark, dir, "events")
      .select(col("user_id")).distinct()
    val dimv = users.select(col("user_id").as("k"), explode(array(
        struct(lit(java.sql.Timestamp.valueOf("2024-01-01 00:00:00")).as("vf"),
          concat(lit("S"), pmod(col("user_id"), lit(5))).as("seg")),
        struct(lit(java.sql.Timestamp.valueOf("2024-01-16 00:00:00")).as("vf"),
          concat(lit("S"), pmod(col("user_id") + 1, lit(5))).as("seg")))).as("v"))
      .select(col("k"), col("v.vf").as("vf"), col("v.seg").as("seg"))
    val (events, bytes) = eventsStream(spark, dir)
    val ev = events
      .select(col("event_id"), col("ts"), col("user_id"))
      .withWatermark("ts", "1 hour")
    val asOf = ev.join(broadcast(dimv),
        ev("user_id") === dimv("k") && col("vf") <= col("ts"))
      .groupBy(col("event_id"), col("ts"))
      .agg(max_by(col("seg"), col("vf")).as("seg"))
    runToMemory(spark, asOf, bytes, "graft_stream_temporal", OutputMode.Complete())
      .select("event_id", "seg")
      .orderBy("event_id")
  }

  /** C15: streaming FROM the lakehouse table — three committed
    * file groups of the orders fact arrive through the append-stream
    * source and aggregate to exactly the batch answer. The
    * exactly-once-across-restarts property of the source is pinned in
    * LakeTableSpec (a restarted checkpointed stream processes only
    * groups appended since).
    */
  /** Stages the three-file-group lake table [[lakeStream]] reads.
    * Split from the verb (the [[cdcStage]] pattern) so Bench re-stages
    * untimed and times only the append-stream fold — the row claims
    * "streaming FROM the lakehouse table", not the table's own write.
    */
  def lakeStreamStage(spark: SparkSession, dir: String): Unit = {
    val lake = s"${graft.operators.Lakehouse.scratch}/stream_lake_orders"
    val base = graft.Tables(spark, dir, "orders")
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
    graft.sources.LakeTable.create(spark, lake,
      base.where(pmod(col("o_orderkey"), lit(3)) === 0))
    graft.sources.LakeTable.append(spark, lake,
      base.where(pmod(col("o_orderkey"), lit(3)) === 1))
    graft.sources.LakeTable.append(spark, lake,
      base.where(pmod(col("o_orderkey"), lit(3)) === 2))
  }

  def lakeStream(spark: SparkSession, dir: String): DataFrame = {
    val lake = s"${graft.operators.Lakehouse.scratch}/stream_lake_orders"
    val agg = graft.sources.LakeTable.streamAppends(spark, lake)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice") + lit(1e-6), 2).as("rev"))
    runToMemory(spark, agg, graft.Tables.pathBytes(spark, lake), "graft_stream_lake",
      OutputMode.Complete())
      .orderBy("o_orderpriority")
  }

  /** C20: exactly-once APPEND sink under FULL REPLAY — the
    * foreachBatch sink writes through LakeTable.appendOnce (the Delta
    * txnAppId/txnVersion contract), and the whole stream then runs a
    * SECOND time from a fresh checkpoint: every micro-batch replays
    * with its original batch id, every appendOnce is a no-op, and the
    * table still equals ONE clean pass (the oracle is the plain batch
    * aggregate — any duplication fails the hash).
    */
  def appendOnceSink(spark: SparkSession, dir: String): DataFrame = {
    val lake = s"${graft.operators.Lakehouse.scratch}/stream_append_once"
    val fs = new org.apache.hadoop.fs.Path(lake)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(lake), true)
    graft.sources.LakeTable.create(spark, lake,
      graft.Tables(spark, dir, "events")
        .select("event_id", "user_id", "value").limit(0))
    def runOnce(): Unit = {
      val (ev, bytes) = eventsStream(spark, dir)
      withStreamPartitions(spark, bytes) {
        val q = ev
          .select("event_id", "user_id", "value")
          .writeStream
          .foreachBatch { (batch: DataFrame, id: Long) =>
            graft.sources.LakeTable.appendOnce(spark, lake, batch, "ao-sink", id)
            ()
          }
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
      }
    }
    runOnce()
    runOnce() // full replay: same batch ids, all no-ops
    graft.sources.LakeTable.read(spark, lake)
      .groupBy("user_id")
      .agg(count(lit(1)).as("cnt"), round(sum("value") + lit(1e-6), 2).as("sum_val"))
      .orderBy("user_id")
  }

  /** C21: the NATIVE streaming sink — `writeStream.format("graft")`
    * straight into a LakeTable, no foreachBatch: each epoch's tasks
    * write parquet into a staged group (GraftWrite.scala) and the
    * epoch commits with a (queryId, epochId) txn marker, so a
    * replayed micro-batch after a restart is skipped — the same
    * exactly-once contract C20 proves for appendOnce, now as a plain
    * sink format (LakeTableSpec pins the replay case). The oracle is
    * the batch aggregate: any duplication fails the hash.
    */
  def graftSink(spark: SparkSession, dir: String): DataFrame = {
    val lake = s"${graft.operators.Lakehouse.scratch}/stream_graft_sink"
    val ckpt = s"${graft.operators.Lakehouse.scratch}/stream_graft_sink_ckpt"
    val conf = spark.sparkContext.hadoopConfiguration
    Seq(lake, ckpt).foreach { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(conf).delete(hp, true)
    }
    val (ev, bytes) = eventsStream(spark, dir)
    withStreamPartitions(spark, bytes) {
      val q = ev
        .select("event_id", "user_id", "value")
        .writeStream.format("graft")
        .option("path", lake).option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    graft.sources.LakeTable.read(spark, lake)
      .groupBy("user_id")
      .agg(count(lit(1)).as("cnt"), round(sum("value") + lit(1e-6), 2).as("sum_val"))
      .orderBy("user_id")
  }

  /** C16: the same lake-stream aggregate through the COMMIT-LOG
    * source (`readStream.format("graft")`): offsets are table
    * versions, batches are exactly the committed file groups — orphan
    * dirs invisible, rewrites rejected (LakeTableSpec pins both plus
    * exactly-once restart).
    */
  /** [[lakeStreamStage]]'s twin for the commit-log source row. */
  def lakeStreamV2Stage(spark: SparkSession, dir: String): Unit = {
    val lake = s"${graft.operators.Lakehouse.scratch}/stream_lake_v2_orders"
    val base = graft.Tables(spark, dir, "orders")
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
    graft.sources.LakeTable.create(spark, lake,
      base.where(pmod(col("o_orderkey"), lit(3)) === 0))
    graft.sources.LakeTable.append(spark, lake,
      base.where(pmod(col("o_orderkey"), lit(3)) === 1))
    graft.sources.LakeTable.append(spark, lake,
      base.where(pmod(col("o_orderkey"), lit(3)) === 2))
  }

  def lakeStreamV2(spark: SparkSession, dir: String): DataFrame = {
    val lake = s"${graft.operators.Lakehouse.scratch}/stream_lake_v2_orders"
    val agg = spark.readStream.format("graft").load(lake)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("cnt"), round(sum("o_totalprice") + lit(1e-6), 2).as("rev"))
    runToMemory(spark, agg, graft.Tables.pathBytes(spark, lake), "graft_stream_lake_v2",
      OutputMode.Complete())
      .orderBy("o_orderpriority")
  }

  /** C17: streaming the PERSISTED change feed (`LakeTable.enableCdc`
    * change files): appends, a keyed doubling MERGE and a predicate
    * DELETE publish change records with their commits; the stream
    * reads them as version-offset parquet micro-batches (no diff join
    * at read time) and folds signed contributions —
    * insert/update_postimage add, delete/update_preimage subtract —
    * into exactly the direct aggregate of the final table state, which
    * the DuckDB oracle reconstructs relationally.
    */
  /** Stages the CDC-enabled table the stream reads: create + two
    * appends + doubling merge + predicate delete, each publishing
    * change slices with its commit. Split from [[cdcStream]] so Bench
    * can re-stage untimed and time only the change-feed fold.
    */
  def cdcStage(spark: SparkSession, dir: String): Unit = {
    import graft.sources.LakeTable
    val lake = s"${graft.operators.Lakehouse.scratch}/stream_cdc_orders"
    val base = graft.Tables(spark, dir, "orders")
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
    LakeTable.create(spark, lake, base.limit(0))
    LakeTable.enableCdc(spark, lake, "o_orderkey")
    LakeTable.append(spark, lake, base.where(pmod(col("o_orderkey"), lit(3)) === 0))
    LakeTable.append(spark, lake, base.where(pmod(col("o_orderkey"), lit(3)) === 1))
    LakeTable.merge(spark, lake,
      base.where(pmod(col("o_orderkey"), lit(5)) === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2), "o_orderkey")
    LakeTable.delete(spark, lake, col("o_orderpriority") === lit("1-URGENT"))
  }

  def cdcStream(spark: SparkSession, dir: String): DataFrame = {
    val lake = s"${graft.operators.Lakehouse.scratch}/stream_cdc_orders"
    val sign = when(col("change_type").isin("insert", "update_postimage"), 1).otherwise(-1)
    val agg = spark.readStream.format("graft")
      .option("readChangeFeed", "true").load(lake)
      .groupBy("o_orderpriority")
      .agg(sum(sign).cast("long").as("cnt"),
        round(sum(sign * col("o_totalprice")) + lit(1e-6), 2).as("rev"))
    runToMemory(spark, agg, graft.Tables.pathBytes(spark, lake), "graft_stream_cdc",
      OutputMode.Complete())
      .where(col("cnt") > 0) // fully-deleted groups net to zero and drop out
      .orderBy("o_orderpriority")
  }

  val qs: Seq[Q] = Seq(
    Q.staged("stream_cdc",
      setup = (s, d) => cdcStage(s, d),
      verb = (s, d) => cdcStream(s, d),
      oracle = Some("""WITH st AS (
             |  SELECT o_orderkey, o_orderpriority, o_totalprice FROM orders
             |  WHERE o_orderkey % 3 IN (0, 1) AND o_orderkey % 5 <> 0
             |  UNION ALL
             |  SELECT o_orderkey, o_orderpriority, o_totalprice * 2 FROM orders
             |  WHERE o_orderkey % 5 = 0)
             |SELECT o_orderpriority, count(*) AS cnt,
             |round(sum(o_totalprice)+1e-6,2) AS rev
             |FROM st WHERE o_orderpriority <> '1-URGENT'
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q.staged("stream_lake",
      setup = (s, d) => lakeStreamStage(s, d),
      verb = (s, d) => lakeStream(s, d),
      oracle = Some("""SELECT o_orderpriority, count(*) AS cnt,
             |round(sum(o_totalprice)+1e-6,2) AS rev
             |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q.staged("stream_lake_v2",
      setup = (s, d) => lakeStreamV2Stage(s, d),
      verb = (s, d) => lakeStreamV2(s, d),
      oracle = Some("""SELECT o_orderpriority, count(*) AS cnt,
             |round(sum(o_totalprice)+1e-6,2) AS rev
             |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("stream_append_once", (s, d) => appendOnceSink(s, d),
      Some("""SELECT user_id, count(*) AS cnt,
             |round(sum(value)+1e-6,2) AS sum_val
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("stream_graft_sink", (s, d) => graftSink(s, d),
      Some("""SELECT user_id, count(*) AS cnt,
             |round(sum(value)+1e-6,2) AS sum_val
             |FROM events GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("stream_enrich", (s, d) => streamEnrich(s, d),
      Some("""SELECT c_mktsegment, count(*) AS cnt, round(sum(value),2) AS sum_val
             |FROM events e JOIN customer c ON e.user_id = c.c_custkey
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("stream_temporal", (s, d) => streamTemporal(s, d),
      Some("""WITH u AS (SELECT DISTINCT user_id FROM events),
             |d AS (
             |  SELECT user_id AS k, TIMESTAMP '2024-01-01 00:00:00' AS vf,
             |         'S' || (user_id % 5) AS seg FROM u
             |  UNION ALL
             |  SELECT user_id, TIMESTAMP '2024-01-16 00:00:00',
             |         'S' || ((user_id + 1) % 5) FROM u)
             |SELECT e.event_id, arg_max(d.seg, d.vf) AS seg
             |FROM events e JOIN d ON e.user_id = d.k AND d.vf <= e.ts
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("stream_tumbling", (s, d) => tumbling(s, d),
      Some("""SELECT date_trunc('hour', ts) AS wstart, event_type,
             |count(*) AS cnt, round(sum(value),2) AS sum_val
             |FROM events GROUP BY 1, 2 ORDER BY wstart, event_type""".stripMargin)),

    Q("stream_dedup", (s, d) => dedup(s, d),
      Some("""SELECT DISTINCT user_id, event_type FROM events
             |ORDER BY user_id, event_type""".stripMargin)),

    Q("stream_dedup_wm", (s, d) => dedupWithinWatermark(s, d),
      Some("""SELECT DISTINCT user_id, event_type FROM events
             |ORDER BY user_id, event_type""".stripMargin)),

    Q("stream_state_reader", (s, d) => stateReader(s, d),
      Some("""SELECT DISTINCT user_id, event_type FROM events
             |ORDER BY user_id, event_type""".stripMargin)),

    Q("stream_state", (s, d) => userState(s, d),
      Some("""SELECT user_id, count(*) AS cnt, round(sum(value),2) AS sum_val
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    Q("stream_tws", (s, d) => userStateTws(s, d),
      Some("""SELECT user_id, count(*) AS cnt, round(sum(value),2) AS sum_val,
             |count(DISTINCT event_type)::BIGINT AS n_types
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    Q("stream_upsert", (s, d) => upsertToLake(s, d),
      Some("""SELECT user_id, arg_max(value, ts) AS value
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    Q("stream_session", (s, d) => {
      val (ev, bytes) = eventsStream(s, d)
      val agg = ev
        .withWatermark("ts", "1 hour")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_val"))
      runToMemory(s, agg, bytes, "graft_stream_session", OutputMode.Complete())
        .select(col("user_id"),
          col("session_window.start").cast("timestamp_ntz").as("session_start"),
          col("n_events"), col("sum_val"))
        .orderBy("user_id", "session_start")
    },
      // Same islands construction as the batch q_events_session oracle.
      Some("""WITH x AS (SELECT user_id, ts, value,
             |  CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
             |       OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts) >= INTERVAL '30 minutes'
             |       THEN 1 ELSE 0 END AS new_s FROM events),
             |y AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid FROM x)
             |SELECT user_id, min(ts) AS session_start, count(*) AS n_events,
             |round(sum(value),2) AS sum_val
             |FROM y GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin)),

    Q("stream_join", (s, d) => streamStreamJoin(s, d),
      Some("""SELECT p.user_id, count(*) AS n_pairs, count(DISTINCT p.event_id) AS n_purchases
             |FROM events p JOIN events c
             |ON p.user_id = c.user_id AND p.event_type = 'purchase' AND c.event_type = 'click'
             |AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // C29: FULL-outer stream-stream join — unmatched rows from BOTH
    // sides emit as state expires past the watermark. Both sides take
    // the cutoff BELOW their watermark node (the stream_join_left
    // device, doubled): each side's watermark keeps tracking the full
    // stream and ends far above every retained row, so both sides'
    // outer results flush deterministically instead of stranding the
    // last delay-window in state.
    // C33: streaming near-dedup against the persisted index — same
    // output contract (and oracle) as the batch q_dedup_incremental.
    Q.staged("stream_dedup_index",
      setup = (s, d) => graft.operators.Curation.stageIncrementalIndex(s, d),
      verb = (s, d) => streamIncrementalDedup(s, d),
      oracle = Some(graft.operators.Curation.incrementalOracle)),

    Q("stream_join_full", (s, d) => streamStreamFullJoin(s, d),
      Some("""WITH p AS (SELECT user_id, ts AS p_ts, event_id AS p_id FROM events
             |           WHERE event_type = 'purchase'
             |             AND ts < TIMESTAMP '2024-01-30 00:00:00'),
             |c AS (SELECT user_id, ts AS c_ts, event_id AS c_id FROM events
             |      WHERE event_type = 'click'
             |        AND ts < TIMESTAMP '2024-01-30 00:00:00'),
             |j AS (SELECT coalesce(p.user_id, c.user_id) AS user_id, p.p_id, c.c_id
             |      FROM p FULL JOIN c ON p.user_id = c.user_id
             |        AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR AND c.c_ts <= p.p_ts)
             |SELECT user_id, sum(CASE WHEN p_id IS NOT NULL AND c_id IS NOT NULL
             |    THEN 1 ELSE 0 END)::BIGINT AS n_pairs,
             |  sum(CASE WHEN c_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_p_alone,
             |  sum(CASE WHEN p_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_c_alone
             |FROM j GROUP BY 1 ORDER BY 1""".stripMargin)),

    Q("stream_join_left", (s, d) => streamStreamLeftJoin(s, d),
      Some("""WITH p AS (SELECT user_id, ts AS p_ts, event_id AS p_id FROM events
             |           WHERE event_type = 'purchase'
             |             AND ts < TIMESTAMP '2024-01-30 00:00:00'),
             |c AS (SELECT user_id, ts AS c_ts, event_id AS c_id FROM events
             |      WHERE event_type = 'click'),
             |j AS (SELECT p.user_id, p.p_id, c.c_id
             |      FROM p LEFT JOIN c ON p.user_id = c.user_id
             |        AND c.c_ts >= p.p_ts - INTERVAL 1 HOUR AND c.c_ts <= p.p_ts)
             |SELECT user_id, count(c_id)::BIGINT AS n_pairs,
             |  sum(CASE WHEN c_id IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_unmatched
             |FROM j GROUP BY 1 ORDER BY 1""".stripMargin)),
  )
}
