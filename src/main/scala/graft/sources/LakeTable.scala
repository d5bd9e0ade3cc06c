package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.charset.StandardCharsets

/** Minimal lakehouse table format: versioned snapshots of parquet
  * file-groups with a JSON commit log — the capability slice the
  * reference platform gets from Hive Metastore + object storage
  * (reference: internal/controller/metastore.go manages the catalog,
  * minio.go the storage; tables live under DataHouseDir,
  * api/v1alpha1/ninecluster_types.go:29).
  *
  * Layout:
  * {{{
  *   <path>/_graft_log/v00000.json   // {"version":0,"action":"create","dirs":["d0"],
  *                                   //  "meta":"meta-00000-1a2b3c4d.json","ts":...}
  *   <path>/_graft_log/meta-00000-1a2b3c4d.json  // table meta in force (write-once)
  *   <path>/d0/part-*.parquet        // file group written by commit 0
  *   <path>/d1/...                   // appended by commit 1
  * }}}
  *
  * A version's snapshot is the union of its listed file-group dirs.
  * Append adds a dir; row-level DML (merge/delete/update/agg-merge) is
  * FILE-GROUP-GRANULAR copy-on-write: stats-sidecar pruning picks the
  * groups that can contain affected rows, only those are rewritten into
  * a new group, and untouched dirs ride the commit forward verbatim
  * (old groups stay for time travel). The commit point is an atomic
  * rename of the log JSON; on an object store this maps to a
  * conditional PUT. Readers resolve the latest committed version and
  * never see partial writes (snapshot isolation). Each commit names the
  * table meta (partition spec, schema, mapping chain, ...) in force at
  * its version, so a DDL is one more commit under the same claim.
  *
  * Scale notes: metadata is O(commits), data files never move on
  * append; merge shuffles once on the key and rewrites only the groups
  * its key range intersects; compaction is the standard bin-pack
  * rewrite targeting ~128 MB files.
  *
  * Merge-on-read deletion vectors (`_dv/`, B46) need NO conditional
  * PUT on an object store: every DV file is written under a unique
  * name and only applies once the commit referencing it publishes —
  * write-once immutable objects, with the commit's own conditional
  * PUT as the sole synchronization point (losers' files are inert
  * orphans vacuumed later).
  */
object LakeTable {

  /** One log entry `_graft_log/v<N>.json`.
    *
    * @param cdcDir change-records dir under `_cdc/` published atomically
    *   with the commit (None = commit produced no change records —
    *   pre-enablement history, layout rewrites, pruned no-ops)
    * @param txns per-application high-water marks of idempotent writes
    *   (application id → newest application version committed), carried
    *   forward by every commit so [[txnVersion]] reads the head alone
    * @param meta the table-meta object in force at this version (a name
    *   under `_graft_log/`; [[EmptyMeta]] = the empty meta, no object).
    *   "" = the empty meta of a commit written before tags and the CDC
    *   key joined the meta; None = a commit written before meta objects
    *   existed: its meta is the legacy `_table.json`
    */
  final case class Commit(version: Long, action: String, dirs: Seq[String],
      cdcDir: Option[String] = None, ts: Long = 0L,
      txns: Map[String, Long] = Map.empty,
      dvFiles: Seq[String] = Nil,
      meta: Option[String] = None)

  /** The commit body format: one JSON object; `cdc`, `dv`, `meta` and
    * `txns` are omitted when empty. Bodies of earlier writers carry one
    * `txnApp`/`txnVer` pair instead of `txns`, and no `meta`.
    */
  object Commit {
    import org.json4s.{JArray, JInt, JObject, JString, JValue}

    def render(c: Commit): String = {
      def strings(vs: Seq[String]) = JArray(vs.map(JString(_)).toList)
      val fields: Seq[Option[(String, JValue)]] = Seq(
        Some("version" -> JInt(c.version)), Some("action" -> JString(c.action)),
        Some("dirs" -> strings(c.dirs)),
        c.cdcDir.map("cdc" -> JString(_)),
        Option.when(c.dvFiles.nonEmpty)("dv" -> strings(c.dvFiles)),
        c.meta.map("meta" -> JString(_)),
        Option.when(c.txns.nonEmpty)("txns" -> JObject(c.txns.toSeq.sortBy(_._1)
          .map { case (app, v) => app -> (JInt(v): JValue) }.toList)),
        Some("ts" -> JInt(c.ts)))
      org.json4s.jackson.JsonMethods.compact(JObject(fields.flatten.toList))
    }

    def parse(body: String): Commit = {
      val fields = org.json4s.jackson.JsonMethods.parse(body) match {
        case JObject(fs) => fs.toMap
        case other => throw new IllegalArgumentException(s"not a JSON object: $other")
      }
      def long(k: String): Option[Long] = fields.get(k).collect { case JInt(v) => v.toLong }
      def string(k: String): Option[String] = fields.get(k).collect { case JString(v) => v }
      def strings(k: String): Seq[String] = fields.get(k).toSeq.flatMap {
        case JArray(vs) => vs.map { case JString(s) => s
          case v => throw new IllegalArgumentException(s"$k holds $v") }
        case v => throw new IllegalArgumentException(s"$k holds $v")
      }
      val txns = fields.get("txns") match {
        case Some(JObject(kvs)) => kvs.map {
          case (app, JInt(v)) => app -> v.toLong
          case (app, v) => throw new IllegalArgumentException(s"txns.$app holds $v")
        }.toMap
        case _ => (for (app <- string("txnApp"); v <- long("txnVer")) yield app -> v).toMap
      }
      Commit(
        version = long("version").getOrElse(
          throw new IllegalArgumentException(s"commit without a version: $body")),
        action = string("action").getOrElse(""),
        dirs = strings("dirs"), cdcDir = string("cdc"), ts = long("ts").getOrElse(0L),
        txns = txns, dvFiles = strings("dv"), meta = string("meta"))
    }
  }

  /** A table as one verb sees it: the snapshot `version`, its commit,
    * and the table meta in force — resolved once ([[state]]) and passed
    * down, so a verb's reads, writes and commit agree on one value.
    * `legacy`: the meta was read from a layout older than meta objects
    * holding tags and the CDC key, so the next commit writes it afresh.
    * `stamp`: the head commit file's modification time when resolved —
    * a table dropped and created again at its path can reach the same
    * version, not the same file.
    */
  final case class State(version: Long, commit: Commit, meta: TableMeta,
      legacy: Boolean = false, stamp: Long = 0L)

  /** The action of a commit that changes only the table meta. */
  private[graft] val MetaAction = "meta"

  /** A commit's `meta` reference to the empty meta (no object). */
  private[graft] val EmptyMeta = "empty"

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def logDir(path: String) = new Path(path, "_graft_log")

  private def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
  }

  // ---- log checkpointing (the Delta `_last_checkpoint` capability) ---
  //
  // Without a checkpoint, resolving the latest version LISTS the whole
  // log — O(commits) per read, a real metadata bottleneck once a
  // streaming upsert writer has committed 10⁵-10⁶ times. Every Nth
  // publish (and every vacuum) refreshes a single `_checkpoint.json`
  // hint; resolution then reads the hint and probes the ≤ N-commit
  // tail with existence checks — O(N), independent of table age. The
  // hint is advisory only: absent, torn, or pointing at a vacuumed
  // version, resolution falls back to the full listing, and a failed
  // hint write never fails a commit.

  private[graft] val CheckpointInterval = 10L

  /** Diagnostic/test hook: log-resolution cost in file-level ops — each
    * open and existence probe counts 1, a directory listing counts one
    * PER ENTRY (matching what object-store list paging actually costs).
    */
  private[graft] val logOps = new java.util.concurrent.atomic.LongAdder

  /** Diagnostic/test hook: every open of a table-meta object (or of a
    * legacy `_table.json`).
    */
  private[graft] val metaReads = new java.util.concurrent.atomic.LongAdder

  private def checkpointFile(path: String) = new Path(logDir(path), "_checkpoint.json")

  private def writeCheckpoint(spark: SparkSession, path: String, v: Long): Unit =
    try {
      val p = checkpointFile(path)
      val out = fsOf(spark, p).create(p, true)
      try out.write(s"""{"version":$v}""".getBytes(StandardCharsets.UTF_8))
      finally out.close()
    } catch { case _: java.io.IOException => () } // hint only

  private def checkpointVersion(spark: SparkSession, path: String): Option[Long] =
    try {
      val p = checkpointFile(path)
      val fs = fsOf(spark, p)
      logOps.increment()
      if (!fs.exists(p)) None
      else {
        logOps.increment()
        val body = readText(fs, p)
        """"version"\s*:\s*(\d+)""".r.findFirstMatchIn(body).map(_.group(1).toLong)
      }
    } catch { case _: Exception => None } // torn/corrupt hint → listing

  def currentVersion(spark: SparkSession, path: String): Option[Long] =
    headCommit(spark, path, None).map(_._1)

  /** The head version and its commit file's modification time, probed
    * forward from `from` or else the hint; listed when that version's
    * file is gone (vacuumed past) or there is no hint.
    */
  private def headCommit(spark: SparkSession, path: String,
      from: Option[Long]): Option[(Long, Long)] = {
    val ld = logDir(path)
    val fs = fsOf(spark, ld)
    def stat(v: Long): Option[(Long, Long)] = {
      logOps.increment()
      try Some(v -> fs.getFileStatus(commitFile(path, v)).getModificationTime)
      catch { case _: java.io.FileNotFoundException => None }
    }
    @scala.annotation.tailrec
    def forward(h: (Long, Long)): (Long, Long) = stat(h._1 + 1) match {
      case Some(next) => forward(next)
      case None => h
    }
    from.orElse(checkpointVersion(spark, path)).flatMap(stat).map(forward).orElse {
      if (!fs.exists(ld)) None
      else {
        val listed = fs.listStatus(ld)
        logOps.add(listed.length.toLong)
        val vs = listed.map(st => st.getPath.getName -> st.getModificationTime).collect {
          case (n, t) if n.startsWith("v") && n.endsWith(".json") =>
            n.stripPrefix("v").stripSuffix(".json").toLong -> t
        }
        if (vs.isEmpty) None else Some(vs.maxBy(_._1))
      }
    }
  }

  private def commitFile(path: String, v: Long) = new Path(logDir(path), f"v$v%05d.json")

  def readCommit(spark: SparkSession, path: String, version: Long): Commit = {
    val p = commitFile(path, version)
    val fs = fsOf(spark, p)
    // A store whose rename is copy + delete (S3's) can show a reader a
    // commit mid-copy; a body that does not parse is re-read a few times
    // (the copy lands within milliseconds) before it counts as corrupt.
    def attempt(left: Int): Commit = {
      logOps.increment()
      val body = readText(fs, p)
      try Commit.parse(body)
      catch { case scala.util.control.NonFatal(_) if left > 0 =>
        Thread.sleep(1L << (4 - left)); attempt(left - 1) }
    }
    attempt(4)
  }

  /** Read a commit iff its file exists; a MISSING file (below a
    * clone's base, or vacuumed past) → None. Any OTHER failure —
    * transient IO, throttling, a torn/corrupt body — rethrows:
    * callers that treat None as "this version references nothing"
    * (vacuum's keep-set, the CDC slice walk) would otherwise turn a
    * store hiccup into permanent deletion of live data.
    */
  private[graft] def readCommitOpt(spark: SparkSession, path: String,
      version: Long): Option[Commit] =
    try Some(readCommit(spark, path, version))
    catch { case _: java.io.FileNotFoundException => None }

  /** A committer lost the per-version claim: some other writer
    * published this version first. Retryable — the table simply moved;
    * rebase on the new head and try the next version. Subtype of
    * IllegalStateException so pre-existing handlers keep working.
    */
  final class CommitRaceLostException(msg: String) extends IllegalStateException(msg)

  /** Optimistic-concurrency abort: the operation read table state a
    * concurrent writer changed (or rebasing retries were exhausted),
    * and blindly re-publishing could lose or resurrect rows. The
    * caller should re-run the whole operation against the new
    * snapshot — the Delta ConcurrentModificationException contract.
    */
  final class ConcurrentWriteException(msg: String) extends IllegalStateException(msg)

  private[graft] def writeCommit(spark: SparkSession, path: String, c: Commit): Unit = {
    val target = commitFile(path, c.version)
    val tmp = new Path(logDir(path), s".tmp-v${c.version}-${java.util.UUID.randomUUID.toString.take(8)}.json")
    val fs = fsOf(spark, target)
    fs.mkdirs(logDir(path))
    val json = Commit.render(if (c.ts > 0) c else c.copy(ts = System.currentTimeMillis()))
    val out = fs.create(tmp, true)
    try out.write(json.getBytes(StandardCharsets.UTF_8)) finally out.close()
    // Local-FS (and POSIX) rename silently REPLACES an existing target,
    // so rename alone is not exclusive: two racers at the same version
    // would both "succeed" and one commit would vanish. Claim the
    // version first with an exclusive create of a lock marker
    // (create(overwrite=false) throws if it exists) — on an object
    // store this maps to a conditional PUT (If-None-Match) of the
    // commit object itself. Content atomicity still comes from the
    // tmp→target rename; the "." prefix keeps markers out of the
    // version listing.
    val lock = new Path(logDir(path), f".claim-v${c.version}%05d")
    val claimed = tryExclusiveCreate(fs, lock)
    if (!claimed) {
      fs.delete(tmp, false)
      throw new CommitRaceLostException(s"commit v${c.version} lost the race for $target")
    }
    if (!fs.rename(tmp, target)) {
      fs.delete(tmp, false)
      // Distinguish "rename failed, nothing published" from "target
      // already exists": releasing the claim in the second case would
      // let a retrying committer re-claim and silently REPLACE the
      // published commit (local-FS rename overwrites) — the exact
      // double-publish the lock prevents. Keep the claim when the
      // target is live; release it only when the version is truly
      // unpublished so the next committer can retry. A live target is
      // a lost race like a lost claim (a store whose exclusive create
      // is not atomic let two writers claim): the caller may rebase.
      if (fs.exists(target))
        throw new CommitRaceLostException(
          s"commit v${c.version} already published at $target")
      fs.delete(lock, false)
      throw new IllegalStateException(s"commit v${c.version} rename failed for $target")
    }
    // Published. Refresh the resolution hint every Nth commit (the
    // winner does it — losers threw above).
    if (c.version > 0 && c.version % CheckpointInterval == 0)
      writeCheckpoint(spark, path, c.version)
  }

  /** One atomic exclusive create — the commit log's claim primitive,
    * under data and table-meta commits alike. Hadoop's RawLocalFileSystem
    * implements create(overwrite=false) as a non-atomic
    * exists()-then-create, so two local racers could both "claim";
    * java.nio CREATE_NEW is a single atomic O_EXCL open — used
    * whenever the path is local. For a remote store, create with
    * overwrite=false stands in for the conditional PUT (If-None-Match)
    * the store would provide — through FileSystem's abstract full-form
    * create, the one overload every store implements (a subclass of
    * RawLocalFileSystem inherits the shorter ones, which check
    * existence first).
    */
  private def tryExclusiveCreate(fs: org.apache.hadoop.fs.FileSystem, lock: Path): Boolean = {
    val lockUri = fs.makeQualified(lock).toUri
    if (lockUri.getScheme == "file") {
      try { java.nio.file.Files.createFile(java.nio.file.Paths.get(lockUri.getPath)); true }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
    } else {
      try {
        fs.create(lock, org.apache.hadoop.fs.permission.FsPermission.getFileDefault, false,
          4096, fs.getDefaultReplication(lock), fs.getDefaultBlockSize(lock), null).close()
        true
      } catch { case _: java.io.IOException => false }
    }
  }

  /** Write `df` as a new file group for the commit after `base` (the
    * caller's resolved state; [[unborn]] for a create), under `base`'s
    * CHECK constraints. Returns the group dir name.
    */
  private def writeGroup(spark: SparkSession, path: String, base: State,
      df: DataFrame, partitionBy: Seq[String]): String = {
    // Type normalization: a column arriving NARROWER than the table's
    // recorded type (an INT literal into a BIGINT column) up-casts
    // in-stream (codegen'd, lossless only) — storing the narrower
    // physical type would make the groups' footer schemas unmergeable
    // (CANNOT_MERGE_INCOMPATIBLE_DATA_TYPE) and every later read a
    // per-root union. First write (create) has no schema to align to
    // and passes through.
    val aligned =
      if (base.version < 0) df
      else {
        val t = tableSchema(spark, path, base)
        df.schema.fields.foldLeft(df) { case (d, f) =>
          t.fields.find(_.name.equalsIgnoreCase(f.name)) match {
            case Some(tf) if tf.dataType != f.dataType &&
                org.apache.spark.sql.catalyst.expressions.Cast
                  .canUpCast(f.dataType, tf.dataType) =>
              d.withColumn(f.name, col(f.name).cast(tf.dataType))
            case _ => d
          }
        }
      }
    // CHECK constraints guard every API-verb write in-stream: an
    // assert_true filter per constraint (codegen'd, no extra pass) —
    // the first violating row fails the job before anything commits.
    // SQL semantics: NULL passes (coalesce to true).
    val guarded = base.meta.checks.foldLeft(aligned) { case (d, (n, sql)) =>
      import org.apache.spark.sql.functions.{assert_true, expr, lit}
      d.filter(assert_true(expr(s"coalesce(($sql), true)"),
        lit(s"CHECK constraint $n violated: $sql")).isNull)
    }
    // Optimize-write (Delta's optimizeWrite): a 100 TB table dies by a
    // thousand small files — every upstream task fragment becomes a
    // file, and metadata/open costs dominate reads long before data
    // does. With spark.graft.optimizeWrite.targetBytes set, the frame
    // is re-bucketed so each task writes ~one target-sized file: the
    // file count follows the DATA SIZE (estimated from plan statistics
    // — the B52 report makes these real for graft sources), not the
    // incoming task count. Partitioned writes hash on the partition
    // columns so one hive-partition's rows collapse into few tasks
    // instead of tasks×partitions fragments. The price is one extra
    // shuffle of the written data — the same trade Delta makes; leave
    // the conf unset for write paths where upstream layout is already
    // right. Unknown/unbounded size estimates skip the rewrite.
    val sized = spark.conf.getOption("spark.graft.optimizeWrite.targetBytes")
      .map(_.toLong).filter(_ > 0) match {
      case Some(t) =>
        val est = guarded.queryExecution.optimizedPlan.stats.sizeInBytes
        if (est <= 0 || est >= BigInt(Long.MaxValue) / 2) guarded
        else {
          val n = math.min(10000L, (est.toLong + t - 1) / t).toInt.max(1)
          if (partitionBy.nonEmpty)
            guarded.repartition(n, partitionBy.map(org.apache.spark.sql.functions.col): _*)
          else guarded.repartition(n)
        }
      case None => guarded
    }
    // Unique suffix: concurrent writers racing for the same version
    // must stage DISTINCT dirs — only the commit rename decides the
    // winner; the loser's dir is orphaned (vacuum reclaims it).
    val dir = s"d${base.version + 1}-${java.util.UUID.randomUUID.toString.take(8)}"
    val w = sized.write.mode("overwrite")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(new Path(path, dir).toString)
    writeStats(spark, path, dir)
    dir
  }

  // ---- per-file column statistics (Doris/Delta-style file skipping) --

  /** Sidecar name inside each file-group dir; the underscore keeps it
    * invisible to parquet directory scans.
    */
  private val StatsFile = "_stats.tsv"

  private def enc(s: String): String =
    java.net.URLEncoder.encode(s, StandardCharsets.UTF_8)
  private def dec(s: String): String =
    java.net.URLDecoder.decode(s, StandardCharsets.UTF_8)

  /** Footer → sidecar lines for ONE file (runs on executors). */
  private val StatStringCap = 64

  /** Lower-bound truncation: a prefix compares ≤ the full string. The
    * cut lands on a CODE-POINT boundary — an unpaired high surrogate
    * at the cut would be mangled by the sidecar's UTF-8 encoding and
    * the persisted bound would no longer equal what was computed.
    */
  private def truncStatMin(s: String): String =
    if (s.length <= StatStringCap) s
    else s.substring(0,
      if (Character.isHighSurrogate(s.charAt(StatStringCap - 1))) StatStringCap - 1
      else StatStringCap)

  /** Upper-bound truncation: prefix with the last kept char bumped —
    * compares > every string carrying the original prefix. The bump
    * char must survive the sidecar's UTF-8 round trip, so positions
    * where it can't are skipped: a surrogate (either half — bumping a
    * low one would also strand its high partner in the prefix), 0xD7FF
    * (bumps INTO the surrogate range; URLEncoder would persist it as
    * '?', an unsound SMALLER bound), and Char.MaxValue (no bump
    * exists). If no position qualifies (degenerate), keep the full
    * value rather than emit an unsound bound.
    */
  private def truncStatMax(s: String): String =
    if (s.length <= StatStringCap) s
    else {
      def bumpable(c: Char): Boolean =
        c != Char.MaxValue && c != '\uD7FF' && !Character.isSurrogate(c)
      var i = StatStringCap - 1
      while (i >= 0 && !bumpable(s.charAt(i))) i -= 1
      if (i < 0) s
      else s.substring(0, i) + (s.charAt(i) + 1).toChar
    }

  /** Exact numeric comparison of two sidecar stat strings. Integral
    * stats serialize as exact decimal strings (a double round-trip
    * corrupts |v| > 2^53 and can round a min UP — unsound for pruning
    * and for the bounds the HMS facade serves), so comparisons go
    * through BigDecimal; mixed old (double-form "123.0") and new
    * (long-form "123") lines merge losslessly. Non-finite doubles
    * (Infinity) fall back to IEEE ordering.
    */
  private[graft] def numCmp(a: String, b: String): Int =
    try new java.math.BigDecimal(a).compareTo(new java.math.BigDecimal(b))
    catch { case _: NumberFormatException =>
      java.lang.Double.compare(a.toDouble, b.toDouble) }

  /** A bound number as an exact BigDecimal: integral and decimal
    * values never detour through double; throws NumberFormatException
    * on a non-finite floating value.
    */
  private def exactOf(n: Number): java.math.BigDecimal = n match {
    case _: java.lang.Long | _: java.lang.Integer | _: java.lang.Short | _: java.lang.Byte =>
      java.math.BigDecimal.valueOf(n.longValue())
    case bi: java.math.BigInteger => new java.math.BigDecimal(bi)
    case bd: java.math.BigDecimal => bd
    case _ => java.math.BigDecimal.valueOf(n.doubleValue())
  }

  /** Exact comparison of a sidecar stat string to a query-bound
    * Number; throws NumberFormatException if `v` is not numeric —
    * callers treat that as "unknown, keep the file".
    */
  private[graft] def cmpStatToNumber(v: String, n: Number): Int =
    try new java.math.BigDecimal(v).compareTo(exactOf(n))
    catch { case _: NumberFormatException if isNumeric(v) =>
      // non-finite on either side: IEEE ordering is still the right
      // conservative answer (NaN sorts greatest, matches nothing real)
      java.lang.Double.compare(v.toDouble, n.doubleValue()) }

  /** Exact comparison of two bound numbers (IEEE ordering only for a
    * non-finite floating value), so bounds past 2^53 stay distinct.
    */
  private def cmpNumbers(a: Number, b: Number): Int =
    try exactOf(a).compareTo(exactOf(b))
    catch { case _: NumberFormatException =>
      java.lang.Double.compare(a.doubleValue(), b.doubleValue()) }

  private def isNumeric(s: String): Boolean =
    try { s.toDouble; true } catch { case _: NumberFormatException => false }

  private def statsLinesOf(conf: org.apache.hadoop.conf.Configuration,
      file: Path, rel: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val meta = org.apache.parquet.hadoop.ParquetFileReader.readFooter(
      conf, file,
      org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
    val mins = scala.collection.mutable.Map.empty[String, (Char, String)]
    val maxs = scala.collection.mutable.Map.empty[String, (Char, String)]
    // Per-column null totals (field 6) and the file's row count
    // (field 7): exact from the footer when every block reports them;
    // they let the HMS facade serve real numNulls/NDV bounds instead
    // of fabricated zeros. -1 = unknown.
    val nulls = scala.collection.mutable.Map.empty[String, Long]
    var fileRows = 0L
    meta.getBlocks.asScala.foreach { b =>
      fileRows += b.getRowCount
      b.getColumns.asScala.foreach { c =>
        val st = c.getStatistics
        if (st != null) {
          val nm = c.getPath.toDotString
          nulls.updateWith(nm) {
            case Some(-1L) => Some(-1L)
            case prev if st.isNumNullsSet =>
              Some(prev.getOrElse(0L) + st.getNumNulls)
            case _ => Some(-1L)
          }
        }
        if (st != null && st.hasNonNullValue) {
          val colName = c.getPath.toDotString
          // A TIMESTAMP(MILLIS) column's stats are millis; Spark reads
          // (and `boundsOf` bounds) timestamps in micros.
          val scale = c.getPrimitiveType.getLogicalTypeAnnotation match {
            case t: org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation
                if t.getUnit == org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.MILLIS => 1000L
            case _ => 1L
          }
          (st.genericGetMin, st.genericGetMax) match {
            case (mn: Number, mx: Number) =>
              // INT32/INT64 footer stats arrive as boxed integrals:
              // keep them EXACT (see numCmp) instead of detouring
              // through Double.
              def encNum(n: Number): String = n match {
                case _: java.lang.Long | _: java.lang.Integer |
                     _: java.lang.Short | _: java.lang.Byte =>
                  Math.multiplyExact(n.longValue(), scale).toString
                case _ => n.doubleValue().toString
              }
              val (lo, hi) = (encNum(mn), encNum(mx))
              mins.updateWith(colName) {
                case Some((k, v)) if k == 'n' && numCmp(v, lo) <= 0 => Some((k, v))
                case _ => Some(('n', lo)) }
              maxs.updateWith(colName) {
                case Some((k, v)) if k == 'n' && numCmp(v, hi) >= 0 => Some((k, v))
                case _ => Some(('n', hi)) }
            case (mn: org.apache.parquet.io.api.Binary, mx: org.apache.parquet.io.api.Binary) =>
              // Sidecar lines must stay METADATA-sized on document-
              // scale string columns: a megabyte text column would
              // otherwise put two megabytes of min/max into every
              // file's stats line (×10⁶ files). Truncate like parquet
              // column indexes do — min to a PREFIX (a prefix sorts ≤
              // the value: still a sound lower bound), max to a prefix
              // with its last kept char BUMPED (sorts > any string it
              // prefixes: still a sound upper bound). Bounds loosen,
              // pruning stays conservative-correct.
              val (lo, hi) = (truncStatMin(mn.toStringUsingUTF8),
                truncStatMax(mx.toStringUsingUTF8))
              mins.updateWith(colName) {
                case Some((k, v)) if k == 's' && v <= lo => Some((k, v))
                case _ => Some(('s', lo)) }
              maxs.updateWith(colName) {
                case Some((k, v)) if k == 's' && v >= hi => Some((k, v))
                case _ => Some(('s', hi)) }
            case _ => () // booleans etc. — not useful for skipping
          }
        }
      }
    }
    val lines = mins.keySet.intersect(maxs.keySet).toSeq.sorted.map { colName =>
      val (k, lo) = mins(colName); val (_, hi) = maxs(colName)
      val nn = nulls.getOrElse(colName, -1L)
      s"${enc(rel)}\t${enc(colName)}\t$k\t${enc(lo)}\t${enc(hi)}\t$nn\t$fileRows"
    }
    // A file with no stat-bearing column still records its row count
    // (empty column marker) so the null/row aggregation sees EVERY
    // file — absent-column nulls and the snapshot row count stay exact.
    if (lines.isEmpty && fileRows > 0)
      Seq(s"${enc(rel)}\t\t-\t\t\t-1\t$fileRows")
    else lines
  }

  /** Harvest per-file per-column min/max from the parquet FOOTERS of a
    * just-written group (metadata-only — no data re-read) into
    * `<dir>/_stats.tsv` lines
    * `file \t column \t kind \t min \t max \t nulls \t fileRows`
    * (kind n=numeric, s=string; nulls -1 = footer didn't report;
    * pre-upgrade 5-field lines still parse). Integral bounds are
    * exact decimal strings — never a double round-trip — and a file
    * with no stat-bearing column writes a row-count marker line so
    * the null/row aggregation sees every file. The footer reads are
    * DISTRIBUTED
    * (one tiny task per batch of files): at 100 TB a commit can add
    * thousands of files, and a serial driver loop over footer RPCs
    * would become the commit bottleneck. Commit-log-level stats are
    * what serve point lookups without opening files — the OLAP-engine
    * trick the reference gets from Doris (doris.go).
    */
  private def writeStats(spark: SparkSession, path: String, dir: String): Unit = {
    val dirPath = new Path(path, dir)
    val fs = fsOf(spark, dirPath)
    val base = fs.makeQualified(dirPath).toString
    val files = Seq.newBuilder[(String, String)] // (full, rel)
    val it = fs.listFiles(dirPath, true)
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) {
        val full = fs.makeQualified(f.getPath).toString
        files += ((full, full.stripPrefix(base + "/")))
      }
    }
    val fileList = files.result()
    // Driver memory stance: a typical commit's stat lines (files x
    // stat columns) collect fine, but the harvest must not be the
    // reason a 10^6-file commit OOMs the driver — past the threshold,
    // sort DISTRIBUTED and stream the lines through toLocalIterator
    // (the bloom build's shape: one partition in driver memory at a
    // time). Below it, skip the extra sort stage and keep small-commit
    // latency.
    val StreamThreshold = 65536
    // Below this many files the footer harvest runs on the driver
    // (no Spark job); above it, distributed (executors read footers).
    val DriverHarvestThreshold = 32
    val out = new java.io.BufferedOutputStream(
      fs.create(new Path(dirPath, StatsFile), true))
    try {
      if (fileList.isEmpty) out.write("\n".getBytes(StandardCharsets.UTF_8))
      else if (fileList.size <= DriverHarvestThreshold) {
        // Small commit: read the handful of footers on the driver
        // thread. A parallelize() job for <= 32 footers costs a full
        // scheduler round-trip (~100 ms) to distribute microseconds of
        // work — and per-commit latency is what streaming sinks and
        // metadata-sized writes actually pay per micro-batch.
        val conf = spark.sparkContext.hadoopConfiguration
        val lines = fileList.flatMap { case (full, rel) =>
          statsLinesOf(conf, new Path(full), rel) }.sorted
        lines.foreach(l => out.write((l + "\n").getBytes(StandardCharsets.UTF_8)))
      } else {
        val confB = org.apache.spark.sql.graftglue.Glue
          .broadcastHadoopConf(spark.sparkContext)
        val lineRdd = spark.sparkContext
          .parallelize(fileList, math.max(1, math.min(fileList.size, 64)))
          .flatMap { case (full, rel) =>
            statsLinesOf(org.apache.spark.sql.graftglue.Glue.confOf(confB),
              new Path(full), rel)
          }
        val it: Iterator[String] =
          if (fileList.size <= StreamThreshold) lineRdd.collect().sorted.iterator
          else lineRdd.sortBy(identity).toLocalIterator
        while (it.hasNext)
          out.write((it.next() + "\n").getBytes(StandardCharsets.UTF_8))
      }
    } finally out.close()
  }

  /** Inclusive conjunctive bounds on one column; None = unbounded. */
  final case class ColumnBounds(lo: Option[Any], hi: Option[Any])

  /** Parsed sidecar lines of one group root (raw split fields; empty
    * when the sidecar is absent). Shared by the snapshot aggregates
    * and the per-partition stats slice.
    */
  private def sidecarLines(spark: SparkSession, path: String,
      root: String): Seq[Array[String]] = {
    val statsPath = new Path(new Path(path, root), StatsFile)
    val fs = fsOf(spark, statsPath)
    if (!fs.exists(statsPath)) return Nil
    val body = readText(fs, statsPath)
    body.split("\n").filter(_.nonEmpty).map(_.split("\t")).toSeq
  }

  /** Per-PARTITION column stats: (kind, min, max) plus exact
    * (rows, nulls) aggregated over ONLY the files under the given
    * leaf dirs (absolute path strings under `path`) — the partition
    * slice of the sidecar harvest, serving the HMS facade's
    * `get_partition_column_statistics`. Returns (bounds, rows,
    * nulls); nulls is None when any contributing line predates the
    * null/row fields.
    */
  private[graft] def leafColumnStats(spark: SparkSession, path: String,
      leafDirs: Seq[String])
      : (Map[String, (Char, String, String)], Option[(Long, Map[String, Long])]) = {
    val base = fsOf(spark, new Path(path)).makeQualified(new Path(path)).toString
    // leaf -> (group root, rel prefix under the root; "" = whole group)
    val slices = leafDirs.map { l =>
      val q = fsOf(spark, new Path(l)).makeQualified(new Path(l)).toString
      val entry = q.stripPrefix(base + "/")
      val root = groupRoot(entry)
      (root, q.stripPrefix(
        fsOf(spark, new Path(path, root)).makeQualified(new Path(path, root)).toString)
        .stripPrefix("/"))
    }.distinct
    val acc = scala.collection.mutable.Map.empty[String, (Char, String, String)]
    val dropped = scala.collection.mutable.Set.empty[String]
    val perFile = scala.collection.mutable.Map.empty[String, (Long, Map[String, Long])]
    var nullsKnown = true
    slices.groupBy(_._1).foreach { case (root, ss) =>
      val prefixes = ss.map(_._2)
      sidecarLines(spark, path, root)
        .filter(a => a.length >= 5 && {
          val rel = dec(a(0))
          prefixes.exists(p => p.isEmpty || rel.startsWith(p + "/"))
        })
        .foreach { a =>
          val c = dec(a(1))
          if (c.nonEmpty && !dropped(c)) {
            val (kind, mn, mx) = (a(2).head, dec(a(3)), dec(a(4)))
            acc.get(c) match {
              case None => acc(c) = (kind, mn, mx)
              case Some((k0, lo, hi)) if k0 == kind =>
                val (nlo, nhi) =
                  if (kind == 'n')
                    (if (numCmp(mn, lo) < 0) mn else lo,
                     if (numCmp(mx, hi) > 0) mx else hi)
                  else (if (mn < lo) mn else lo, if (mx > hi) mx else hi)
                acc(c) = (kind, nlo, nhi)
              case Some(_) => dropped += c; acc.remove(c)
            }
          }
          if (a.length < 7) nullsKnown = false
          else {
            val file = root + "/" + dec(a(0))
            val rows = a(6).toLong
            val (_, m) = perFile.getOrElse(file, (rows, Map.empty[String, Long]))
            perFile(file) = (rows,
              if (c.isEmpty) m else m + (c -> a(5).toLong))
          }
        }
    }
    val nulls =
      if (!nullsKnown) None
      else {
        val totalRows = perFile.valuesIterator.map(_._1).sum
        val allCols = perFile.valuesIterator.flatMap(_._2.keysIterator).toSet
        val m = allCols.flatMap { c =>
          var total = 0L; var known = true
          perFile.valuesIterator.foreach { case (rows, cm) =>
            cm.get(c) match {
              case Some(n) if n >= 0L => total += n
              case Some(_)            => known = false
              case None               => total += rows
            }
          }
          if (known) Some(c -> total) else None
        }.toMap
        Some((totalRows, m))
      }
    (acc.toMap, nulls)
  }

  /** Snapshot-wide (kind, min, max) per column, aggregated from the
    * per-group stats sidecars — what the HMS facade serves external
    * optimizers as table column statistics. Kind 'n' compares
    * numerically, 's' lexicographically (truncated string bounds are
    * sound: the stored min is ≤ the true min, the stored max ≥).
    * O(groups) tiny sidecar reads; columns whose sidecars disagree on
    * kind (a widened/retyped history) are dropped rather than merged
    * unsoundly. Over the snapshot of commit dirs `dirs`.
    */
  private[graft] def aggregatedColumnStats(spark: SparkSession, path: String,
      dirs: Seq[String]): Map[String, (Char, String, String)] = {
    val roots = dirs.map(groupRoot).distinct
    val acc = scala.collection.mutable.Map.empty[String, (Char, String, String)]
    val dropped = scala.collection.mutable.Set.empty[String]
    roots.foreach { root =>
      sidecarLines(spark, path, root).filter(_.length >= 5)
        .foreach { a =>
          val (c, kind, mn, mx) = (dec(a(1)), a(2).head, dec(a(3)), dec(a(4)))
          if (c.nonEmpty && !dropped(c)) acc.get(c) match {
            case None => acc(c) = (kind, mn, mx)
            case Some((k0, lo, hi)) if k0 == kind =>
              val (nlo, nhi) =
                if (kind == 'n')
                  (if (numCmp(mn, lo) < 0) mn else lo,
                   if (numCmp(mx, hi) > 0) mx else hi)
                else (if (mn < lo) mn else lo, if (mx > hi) mx else hi)
              acc(c) = (kind, nlo, nhi)
            case Some(_) => dropped += c; acc.remove(c)
          }
        }
    }
    acc.toMap
  }

  /** Exact snapshot row count and per-column null totals, aggregated
    * from sidecar fields 6-7 (per-column nulls, per-file rows). A
    * column with NO stat line in a file has no non-null values there
    * (numeric/string parquet stats exist whenever a value does), so
    * that file's whole row count is null for it. Returns None when any
    * contributing line predates the fields (pre-upgrade sidecars):
    * better no number than a wrong one — the same stance the HMS
    * facade takes for the stats it cannot know. Columns whose footers
    * didn't report null counts are absent from the map, the rest stay
    * exact, over the snapshot of commit dirs `dirs`.
    */
  private[graft] def aggregatedColumnNulls(spark: SparkSession, path: String,
      dirs: Seq[String]): Option[(Long, Map[String, Long])] = {
    val roots = dirs.map(groupRoot).distinct
    // file -> (rows, col -> nulls); -1 nulls = footer didn't say
    val perFile = scala.collection.mutable.Map.empty[String, (Long, Map[String, Long])]
    roots.foreach { root =>
      // a MISSING sidecar hides that group's rows entirely → unknown;
      // an existing-but-empty one (empty create) holds zero rows and
      // contributes nothing — correct as-is
      if (!fsOf(spark, new Path(path, root))
        .exists(new Path(new Path(path, root), StatsFile))) return None
      sidecarLines(spark, path, root).foreach { a =>
        if (a.length < 7) return None // pre-upgrade sidecar
        val file = root + "/" + dec(a(0))
        val rows = a(6).toLong
        val col = dec(a(1))
        val (_, m) = perFile.getOrElse(file, (rows, Map.empty[String, Long]))
        perFile(file) = (rows,
          if (col.isEmpty) m else m + (col -> a(5).toLong))
      }
    }
    val totalRows = perFile.valuesIterator.map(_._1).sum
    val allCols = perFile.valuesIterator.flatMap(_._2.keysIterator).toSet
    val nulls = allCols.flatMap { c =>
      var total = 0L
      var known = true
      perFile.valuesIterator.foreach { case (rows, m) =>
        m.get(c) match {
          case Some(n) if n >= 0L => total += n
          case Some(_)            => known = false // footer had no null count
          case None               => total += rows // column absent: all null there
        }
      }
      if (known) Some(c -> total) else None
    }.toMap
    Some((totalRows, nulls))
  }

  /** A commit entry may name a whole file-group dir (`d3-ab12`) or —
    * after a partition-granular DML — a partition SUBDIR of one
    * (`d3-ab12/g=en`). The group root is the entry minus its trailing
    * `col=value` segments; it anchors the stats sidecar, the
    * `basePath` option (so reads recover partition columns), and
    * vacuum's referenced-dir check. Group dir names (`dN-uuid`) never
    * contain '=', and Hive-escaping (%3D) keeps '=' out of encoded
    * partition values, so the strip is unambiguous.
    */
  private[graft] def groupRoot(entry: String): String = {
    val segs = entry.split("/")
    segs.reverse.dropWhile(_.contains("=")).reverse.mkString("/")
  }

  /** Filesystem-independent group identity: the group root's LAST path
    * segment (`d3-ab12cd34`). Commit entries can be relative names or
    * ABSOLUTE URIs (shallow clones, branches) — deletion-vector file
    * names can only embed the bare segment, so every DV group match
    * normalizes through this. The uuid suffix in group names makes
    * last-segment collisions across roots negligible.
    */
  private[graft] def groupKey(entry: String): String = {
    val r = groupRoot(entry)
    r.substring(r.lastIndexOf('/') + 1)
  }

  /** One data file's pruning outcome: its path, the finest commit
    * entry that could carry it (its partition leaf dir — the entry
    * itself for flat files), and whether its stats/partition values
    * intersect the bounds.
    */
  private[graft] final case class PrunedFile(file: String, leaf: String, kept: Boolean,
      len: Long = 0L)

  /** One commit entry's pruning outcome: the entry (as named in the
    * commit), the qualified GROUP ROOT path (a valid `basePath` read
    * option), and its files' outcomes.
    */
  private[graft] final case class PrunedDir(dir: String, base: String,
      files: Seq[PrunedFile]) {
    def kept: Seq[String] = files.collect { case f if f.kept => f.file }
  }

  /** Hive-style path unescape (`%xx` sequences, the encoding Spark
    * writes into partition dir names).
    */
  private[graft] def unescapePath(s: String): String =
    if (!s.contains('%')) s
    else {
      val sb = new StringBuilder(s.length)
      var i = 0
      while (i < s.length) {
        val c = s.charAt(i)
        if (c == '%' && i + 2 < s.length) {
          try { sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar); i += 3 }
          catch { case _: NumberFormatException => sb.append(c); i += 1 }
        } else { sb.append(c); i += 1 }
      }
      sb.toString
    }

  /** Per-dir stats/partition pruning: for each dir, the files whose
    * [min,max] sidecar stats AND partition-dir values (`col=value`
    * path segments are exact per-file bounds — the layout's free
    * statistics) intersect every bound. `flat` is false when any file
    * sits under a partition subdir — a bare file-list read of those
    * would lose the partition columns, so only callers that either
    * need the keep/empty DECISION (DML group pruning) or re-read with
    * `basePath` may use a non-flat result. Files or columns without
    * stats are always kept: skipping is an optimization, never a
    * filter.
    */
  private[graft] def pruneFilesByDir(spark: SparkSession, path: String,
      renameChain: Seq[RenameRec], dirs: Seq[String],
      bounds: Map[String, ColumnBounds]): (Seq[PrunedDir], Boolean) = {
    // Groups written before a RENAME COLUMN carry stats (and possibly
    // partition dirs) under the old physical name — resolve each bound
    // column's prior names once so those files still prune instead of
    // degrading to must-read.
    val priorNames: Map[String, Seq[String]] =
      if (renameChain.isEmpty) Map.empty
      else bounds.keys.map { c =>
        var cur = c
        val out = Seq.newBuilder[String]
        renameChain.reverse.foreach { r =>
          if (r.to == cur) { out += r.old; cur = r.old }
        }
        c -> out.result()
      }.toMap
    var flat = true
    val out = dirs.map { d =>
      val dirPath = new Path(path, d) // the entry (maybe a partition subdir)
      val root = groupRoot(d)
      val rootPath = new Path(path, root)
      val fs = fsOf(spark, dirPath)
      val statsPath = new Path(rootPath, StatsFile)
      // (file, column) -> (kind, min, max) — rels are group-root-relative
      val stats: Map[(String, String), (Char, String, String)] =
        if (!fs.exists(statsPath)) Map.empty
        else {
          val body = readText(fs, statsPath)
          body.split("\n").filter(_.nonEmpty).map(_.split("\t"))
            .filter(a => a.length >= 5 && a(1).nonEmpty)
            .map(a => (dec(a(0)), dec(a(1))) -> (a(2).head, dec(a(3)), dec(a(4)))).toMap
        }
      val base = fs.makeQualified(rootPath).toString
      val acc = Seq.newBuilder[PrunedFile]
      val it = fs.listFiles(dirPath, true)
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) {
          val rel = fs.makeQualified(f.getPath).toString.stripPrefix(base + "/")
          if (rel.contains("/")) flat = false // partition-encoded layout
          // col -> partition value (None = __HIVE_DEFAULT_PARTITION__).
          val partVals: Map[String, Option[String]] =
            rel.split("/").dropRight(1).toSeq.filter(_.contains("="))
              .map { seg =>
                val i = seg.indexOf('=')
                val raw = unescapePath(seg.substring(i + 1))
                seg.substring(0, i) ->
                  (if (raw == "__HIVE_DEFAULT_PARTITION__") None else Some(raw))
              }.toMap
          // Exact bound check against a partition value; None = the
          // column is not partition-encoded for this file.
          def partOverlaps(column: String, b: ColumnBounds): Option[Boolean] =
            partVals.get(column).map {
              case None => false // NULL partition: comparisons never match
              case Some(v) =>
                def side(bound: Option[Any], okC: Int => Boolean,
                    okS: (String, String) => Boolean): Boolean = bound.forall {
                  case n: Number => scala.util.Try(cmpStatToNumber(v, n))
                    .toOption.forall(okC)
                  case s: String => okS(v, s)
                  case _ => true
                }
                side(b.lo, _ >= 0, _ >= _) && side(b.hi, _ <= 0, _ <= _)
            }
          val overlaps = bounds.forall { case (column, b) =>
            val names = column +: priorNames.getOrElse(column, Nil)
            names.iterator.flatMap(nm => partOverlaps(nm, b)).nextOption()
              .getOrElse(names.iterator.flatMap(nm => stats.get((rel, nm))).nextOption() match {
              case Some(('n', mn, mx)) =>
                b.lo.forall { case l: Number =>
                  scala.util.Try(cmpStatToNumber(mx, l)).toOption.forall(_ >= 0)
                  case _ => true } &&
                b.hi.forall { case h: Number =>
                  scala.util.Try(cmpStatToNumber(mn, h)).toOption.forall(_ <= 0)
                  case _ => true }
              case Some(('s', mn, mx)) =>
                b.lo.forall { case l: String => mx >= l; case _ => true } &&
                b.hi.forall { case h: String => mn <= h; case _ => true }
              case _ => true // no stats: must read it
            })
          }
          val leaf =
            if (!rel.contains("/")) d
            else root + "/" + rel.substring(0, rel.lastIndexOf('/'))
          acc += PrunedFile(f.getPath.toString, leaf, overlaps, f.getLen)
        }
      }
      PrunedDir(d, base, acc.result())
    }
    (out, flat)
  }

  /** Enumerate (partition values, leaf dir) across group dirs — the
    * explicit PartitionSpec a cross-group partitioned scan needs
    * (Spark cannot DISCOVER partitions across multiple file-group
    * roots; see Glue.partitionedParquetScanBuilder). Values follow
    * `partCols` order; None = null partition.
    */
  private[graft] def partitionLeaves(spark: SparkSession, dirPaths: Seq[String],
      partCols: Seq[String]): Seq[(Seq[Option[String]], Path)] = {
    val seen = scala.collection.mutable.LinkedHashMap
      .empty[String, (Seq[Option[String]], Path)]
    dirPaths.foreach { p =>
      val dirPath = new Path(p)
      val fs = fsOf(spark, dirPath)
      if (fs.exists(dirPath)) {
        // Partition values parse relative to the GROUP ROOT, so a
        // subdir entry (…/d0/g=b) still yields its k=v segments.
        val base = fs.makeQualified(new Path(groupRoot(p))).toString
        val it = fs.listFiles(dirPath, true)
        while (it.hasNext) {
          val f = it.next()
          if (f.getPath.getName.endsWith(".parquet")) {
            val parent = fs.makeQualified(f.getPath.getParent)
            if (!seen.contains(parent.toString)) {
              val kvs = parent.toString.stripPrefix(base).stripPrefix("/")
                .split("/").filter(_.contains("=")).map { seg =>
                  val i = seg.indexOf('=')
                  val raw = unescapePath(seg.substring(i + 1))
                  seg.substring(0, i) ->
                    (if (raw == "__HIVE_DEFAULT_PARTITION__") None else Some(raw))
                }.toMap
              seen(parent.toString) = (partCols.map(kvs.getOrElse(_, None)), parent)
            }
          }
        }
      }
    }
    seen.values.toSeq
  }

  /** Flat-layout file pruning (see [[pruneFilesByDir]]); None when the
    * layout is partition-encoded and a bare file list would lose the
    * partition columns.
    */
  private[graft] def pruneFiles(spark: SparkSession, path: String, renameChain: Seq[RenameRec],
      dirs: Seq[String], bounds: Map[String, ColumnBounds]): Option[Seq[String]] = {
    val (pruned, flat) = pruneFilesByDir(spark, path, renameChain, dirs, bounds)
    if (flat) Some(pruned.flatMap(_.kept)) else None
  }

  /** File-skipping snapshot read at version `v`: only the files a
    * [[pruneFilesByDir]] result keeps, assembled exactly like a full
    * read by [[readDirsDv]] — mapping chain, tombstone projection and
    * deletion vectors (sound: vectors key by (file, row), so a skipped
    * file takes its marks with it) — and shaped to the snapshot's
    * `schema`: its column order and types (a subset of files may merge
    * to a narrower type), a column no surviving file carries reading
    * as NULL.
    */
  private[graft] def readKept(spark: SparkSession, path: String, st: State,
      schema: org.apache.spark.sql.types.StructType, pruned: Seq[PrunedDir]): DataFrame = {
    val live = pruned.filter(_.kept.nonEmpty)
    if (live.isEmpty)
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val dirs = live.map(_.dir)
    val df = readDirsDv(spark, path, st.meta, dirs, dvFor(spark, path, st.version, dirs),
      withPos = false,
      kept = Some(live.map(pd => pd.dir -> pd.kept).toMap))
    import org.apache.spark.sql.catalyst.types.DataTypeUtils
    val have = df.schema.fields.map(f => f.name -> f.dataType).toMap
    def same(f: org.apache.spark.sql.types.StructField) =
      have.get(f.name).exists(DataTypeUtils.sameType(_, f.dataType))
    if (df.columns.toSeq == schema.fieldNames.toSeq && schema.fields.forall(same)) df
    else df.select(schema.fields.toIndexedSeq.map { f =>
      val c = col("`" + f.name.replace("`", "``") + "`")
      if (same(f)) c
      else if (have.contains(f.name)) c.cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }: _*)
  }

  /** Snapshot `v` (of `schema`) pruned by the bounds
    * [[predicateBounds]] mines from `predicate` (see
    * [[pruneFilesByDir]] for the `flat` flag).
    */
  private def pruneFor(spark: SparkSession, path: String, st: State,
      schema: org.apache.spark.sql.types.StructType,
      predicate: org.apache.spark.sql.Column): (Seq[PrunedDir], Boolean) =
    pruneFilesByDir(spark, path, st.meta.renames, st.commit.dirs,
      predicateBounds(spark, schema, predicate))

  /** File-skipping range read: keep only the files of the snapshot
    * whose `[min,max]` for `column` intersects `[lo, hi]` (both
    * inclusive; pass lo==hi for a point lookup); the residual
    * predicate is applied on top, so the result is exactly
    * `read(...).where(column between lo and hi)` at a fraction of the
    * files opened.
    */
  def readRange(spark: SparkSession, path: String, column: String,
      lo: Any, hi: Any, version: Option[Long] = None): DataFrame = {
    val st = snapshot(spark, path, version)
    val schema = tableSchema(spark, path, st)
    val predicate = col(column) >= lit(lo) && col(column) <= lit(hi)
    readKept(spark, path, st, schema, pruneFor(spark, path, st, schema, predicate)._1)
      .where(predicate)
  }

  // ---- per-file bloom sidecars (point lookups on UNCLUSTERED columns) --

  /** Sidecar name per file-group dir: `rel \t column \t base64(bloom)`. */
  private val BloomFile = "_blooms.tsv"

  /** Build per-file bloom-filter sidecars for `columns` over the
    * current snapshot. Min/max skipping (the free footer stats) is
    * useless for a column the layout is NOT clustered on — every
    * file's [min,max] spans the domain — but a bloom answers "value
    * definitely absent from this file" regardless of layout. Opt-in,
    * because unlike the footer harvest it costs one column-pruned scan
    * of the group (the same trade Delta/Doris make for bloom indexes).
    *
    * The scan is distributed: each task builds partial blooms for the
    * files in its partition, partials OR-merge per (file, column) —
    * identical create parameters make them mergeable — and the driver
    * only streams the final one-bloom-per-file lines to the sidecar
    * (~`-ln(fpp)/ln(2)^2/8` bytes per row capacity, ≈120 KB per file
    * at 100k rows / 1% fpp).
    */
  def buildBlooms(spark: SparkSession, path: String, columns: Seq[String],
      expectedRowsPerFile: Long = 100000L, fpp: Double = 0.01): Unit = {
    import org.apache.spark.util.sketch.BloomFilter
    val v = currentVersion(spark, path)
      .getOrElse(throw new IllegalArgumentException(s"no LakeTable at $path"))
    val c = readCommit(spark, path, v)
    c.dirs.foreach { d =>
      val dirPath = new Path(path, d)
      val fs = fsOf(spark, dirPath)
      val base = fs.makeQualified(dirPath).toString
      val cols = columns
      val df = graft.Tables.parquet(spark, dirPath.toString)
        .select(input_file_name().as("__file") +: cols.map(col): _*)
      import spark.implicits._
      val partials = df.mapPartitions { rows =>
        val acc = scala.collection.mutable.Map.empty[(String, String), BloomFilter]
        rows.foreach { r =>
          val file = r.getString(0)
          var i = 0
          while (i < cols.length) {
            if (!r.isNullAt(i + 1)) {
              val bf = acc.getOrElseUpdate((file, cols(i)),
                BloomFilter.create(expectedRowsPerFile, fpp))
              r.get(i + 1) match {
                case l: java.lang.Long => bf.putLong(l)
                case n: java.lang.Integer => bf.putLong(n.longValue())
                case s: String => bf.putString(s)
                case other => bf.putString(other.toString)
              }
            }
            i += 1
          }
        }
        acc.iterator.map { case ((f, cn), bf) =>
          val bos = new java.io.ByteArrayOutputStream()
          bf.writeTo(bos)
          (f, cn, bos.toByteArray)
        }
      }
      val merged = partials
        .groupByKey { case (f, cn, _) => (f, cn) }
        .reduceGroups { (a, b) =>
          val x = BloomFilter.readFrom(new java.io.ByteArrayInputStream(a._3))
          x.mergeInPlace(BloomFilter.readFrom(new java.io.ByteArrayInputStream(b._3)))
          val bos = new java.io.ByteArrayOutputStream()
          x.writeTo(bos)
          (a._1, a._2, bos.toByteArray)
        }
        .map(_._2)
      val out = fs.create(new Path(dirPath, BloomFile), true)
      try {
        // toLocalIterator: one final bloom per (file, column) streams
        // through the driver — never the whole set at once.
        val it = merged.toLocalIterator()
        while (it.hasNext) {
          val (f, cn, bytes) = it.next()
          val rel = new Path(f).toString match {
            case full if full.startsWith(base + "/") => full.stripPrefix(base + "/")
            case full => fs.makeQualified(new Path(full)).toString.stripPrefix(base + "/")
          }
          val b64 = java.util.Base64.getEncoder.encodeToString(bytes)
          out.write(s"${enc(rel)}\t${enc(cn)}\t$b64\n".getBytes(StandardCharsets.UTF_8))
        }
      } finally out.close()
    }
  }

  /** Point lookup using BOTH skipping tiers: footer min/max first,
    * then bloom "definitely absent" on whatever sidecars exist. Files
    * without a bloom entry are kept — skipping is an optimization,
    * never a filter. Returns exactly `read(...).where(column = value)`
    * opening only the files that might contain the value.
    */
  def readPoint(spark: SparkSession, path: String, column: String, value: Any,
      version: Option[Long] = None): DataFrame = {
    val st = snapshot(spark, path, version)
    val schema = tableSchema(spark, path, st)
    readKept(spark, path, st, schema, prunePoint(spark, path, st, schema, column, value)._1)
      .where(col(column) === lit(value))
  }

  /** Files a point lookup must open: footer-stats prune, then bloom
    * "definitely absent" per surviving file. None = partitioned layout
    * (file-level pruning unsafe). Also used by specs to assert skipping.
    */
  private[graft] def pointCandidateFiles(spark: SparkSession, path: String,
      column: String, value: Any, version: Option[Long] = None): Option[Seq[String]] = {
    val st = snapshot(spark, path, version)
    val (pruned, flat) = prunePoint(spark, path, st, tableSchema(spark, path, st), column, value)
    if (flat) Some(pruned.flatMap(_.kept)) else None
  }

  /** The point lookup's prune: stats/partition values, then — in a
    * flat layout, where the sidecars key each file — the bloom tier.
    */
  private def prunePoint(spark: SparkSession, path: String, st: State,
      schema: org.apache.spark.sql.types.StructType, column: String,
      value: Any): (Seq[PrunedDir], Boolean) = {
    import org.apache.spark.util.sketch.BloomFilter
    val (pruned, flat) = pruneFor(spark, path, st, schema, col(column) === lit(value))
    if (!flat) return (pruned, flat)
    // cache per-dir sidecar parses: (dir -> (rel, column) -> bloom b64)
    val sidecars = scala.collection.mutable.Map.empty[String, Map[(String, String), String]]
    def sidecarOf(dirPath: Path, fs: FileSystem): Map[(String, String), String] =
      sidecars.getOrElseUpdate(dirPath.toString, {
        val bloomPath = new Path(dirPath, BloomFile)
        if (!fs.exists(bloomPath)) Map.empty
        else {
          val body = readText(fs, bloomPath)
          body.split("\n").filter(_.nonEmpty).map(_.split("\t"))
            .collect { case Array(r, cn, b64) => (dec(r), dec(cn)) -> b64 }.toMap
        }
      })
    def mightContain(f: String): Boolean = {
      val fp = new Path(f)
      val fs = fsOf(spark, fp.getParent)
      val base = fs.makeQualified(fp.getParent).toString
      val rel = fs.makeQualified(fp).toString.stripPrefix(base + "/")
      sidecarOf(fp.getParent, fs).get((rel, column)) match {
        case None => true // no bloom: must read the file
        case Some(b64) =>
          val bf = BloomFilter.readFrom(new java.io.ByteArrayInputStream(
            java.util.Base64.getDecoder.decode(b64)))
          value match {
            case l: java.lang.Long => bf.mightContainLong(l)
            case n: java.lang.Integer => bf.mightContainLong(n.longValue())
            case s: String => bf.mightContainString(s)
            case other => bf.mightContainString(other.toString)
          }
      }
    }
    (pruned.map(pd => pd.copy(files = pd.files.map(f =>
      if (f.kept && !mightContain(f.file)) f.copy(kept = false) else f))), flat)
  }

  /** Append-driven STREAMING read of the table (the Delta
    * streaming-source usage): a file stream over the table's
    * file-group dirs — every appended group's files arrive as a
    * micro-batch, offsets checkpoint per file, so a restarted stream
    * resumes exactly after what it has processed (spec-verified).
    * Contract (same as Delta's source): the table must be
    * APPEND-ONLY while streamed — a COW rewrite (merge/delete/
    * compact) writes a consolidated group the glob would replay as
    * new rows. This is the file-glob approximation of a log-aware
    * source; a commit-log-driven DSv2 MicroBatchStream (skipping
    * orphaned racer dirs, erroring on rewrites) is the planned
    * upgrade.
    */
  def streamAppends(spark: SparkSession, path: String): DataFrame = {
    val schema = read(spark, path).schema
    spark.readStream.schema(schema)
      .option("pathGlobFilter", "*.parquet")
      .parquet(new Path(path, "d*").toString)
  }

  /** Zero-copy SHALLOW CLONE (the Delta capability): the clone's first
    * commit references the source snapshot's file groups by ABSOLUTE
    * path — no data moves, clone cost is one commit-log write
    * regardless of table size. The clone's version numbering continues
    * from the source's (returned) so copied mapping-chain stamps stay
    * comparable with both the referenced dirs and clone-side writes. The clone then evolves independently:
    * its own appends/merges/compactions write under its own root
    * (`new Path(path, dir)` resolves absolute shared dirs to the
    * source and relative new dirs to the clone), and its vacuum only
    * ever deletes `d*` dirs under its OWN root, never shared ones.
    * Caveat shared with Delta: vacuuming the SOURCE below the cloned
    * snapshot orphans the clone's shared files — pin source retention
    * to the clone point. Deletion-vector state at the cloned version
    * PINS into the clone's own `_dv` (group identity is the dir's
    * last path segment, [[groupKey]]), so a clone of a merge-on-read
    * table serves the vectored state, isolated from later source DML.
    */
  def shallowClone(spark: SparkSession, sourcePath: String, targetPath: String,
      version: Option[Long] = None): Long = {
    val src = snapshot(spark, sourcePath, version)
    val (v, c, srcMeta) = (src.version, src.commit, src.meta)
    val srcFs = fsOf(spark, new Path(sourcePath))
    // Fully-qualified URIs (scheme + authority), not bare paths: a
    // clone rooted on a DIFFERENT filesystem/bucket must keep reading
    // the source's dirs — `new Path(parent, child)` resolves a
    // scheme-bearing child to itself, so qualified refs survive every
    // reader; a bare /path would silently rebind to the clone's FS.
    val absDirs = c.dirs.map(d =>
      srcFs.makeQualified(new Path(sourcePath, d)).toString)
    // The clone's version numbering CONTINUES past everything it
    // copies — source head, referenced dir versions, mapping-chain
    // stamps — so the one version axis [[groupVersionOf]] compares
    // stays totally ordered: copied stamps confine to the source-named
    // groups they predate, and every clone-side write (dir version >
    // base) postdates the whole copied chain. Starting the clone at 0
    // instead would put fresh clone data "before" copied stamps and a
    // copied DROP tombstone would capture it.
    val base = (Seq(v) ++ c.dirs.map(groupVersionOf).filter(_ > 0) ++
      srcMeta.mappings.map(_.stamp)).max + 1
    val p = new Path(targetPath)
    val fs = fsOf(spark, p)
    if (fs.exists(p)) fs.delete(p, true)
    invalidateSchemaCache(spark, targetPath)
    // PIN the source's deletion-vector state (B46): the clone's reads
    // resolve DVs from its OWN `_dv`, so the resolved per-group state
    // at the cloned version is re-serialized there under v0 — blob
    // keys are absolute file paths and stay valid (no file moves), and
    // later source deletes can never leak into the pinned snapshot.
    val dvNames = dvResolve(spark, sourcePath, v, c.dirs).toSeq.sortBy(_._1)
      .map { case (g, (_, files)) => writeDvFile(spark, targetPath, base, g, files) }
    // Carry the TABLE META verbatim (partition spec, sort order, CHECK
    // constraints, DV flag, column-mapping chain): without it a clone
    // of a partitioned table loses pruning/partition columns and a
    // clone of a renamed/dropped/widened table would serve the OLD
    // physical schema. Clone-side reads apply copied mappings to the
    // source-named dirs under the copied stamps (groupVersionOf parses
    // source version numbers out of the absolute refs). Tags and the
    // CDC key stay behind: the clone starts untagged, with its feed off.
    writeCommit(spark, targetPath, Commit(base, "clone", absDirs, dvFiles = dvNames,
      meta = Some(writeMeta(spark, targetPath, base,
        srcMeta.copy(tags = Map.empty, cdcKey = None)))))
    base
  }

  /** Delta DEEP CLONE: an independent PHYSICAL copy of the snapshot,
    * vs [[shallowClone]]'s O(1) metadata pin. The copy reads through
    * the source's deletion vectors — the clone materializes the
    * RESOLVED state, so no DV debt travels — and re-applies the
    * recorded partition layout, sort order and CHECK constraints;
    * stats sidecars are rebuilt on the copied files. O(data): the
    * backup/migration verb (survives source vacuum/drop), where
    * shallow clone is the dev/test-against-prod verb.
    */
  def deepClone(spark: SparkSession, sourcePath: String, targetPath: String,
      version: Option[Long] = None): Long = {
    val src = snapshot(spark, sourcePath, version)
    // The copy satisfies the source's CHECKs (it IS the source's rows).
    // ANALYZE results stay valid (identical data, logical names) —
    // re-stamped to the clone's own create version.
    create(spark, targetPath, read(spark, sourcePath, src), partitionBy = src.meta.partitionBy,
      meta = TableMeta(sortBy = src.meta.sortBy, checks = src.meta.checks,
        ndv = src.meta.ndv.map { case (c, r) => c -> r.copy(asOf = 0L) }))
  }

  // ---- table meta (commit-log entries) --------------------------------
  //
  // The metastore half of the format: the partition spec, write sort
  // order, recorded schema, CHECK constraints, DV mode, column-mapping
  // chain, tags and CDC key every verb needs beside the data. Each commit names
  // the meta in force at its version: a write-once object under
  // `_graft_log/` (written before the commit that references it, never
  // renamed over anything — the DV-file rule), so data and DDL publish
  // through ONE claim, the commit version's. [[state]] resolves a
  // version's commit and meta together; a verb resolves it once and
  // passes it down, so everything it does sees ONE meta.

  /** Where tables written before meta objects keep their meta; read only. */
  private def legacyMetaFile(path: String) = new Path(logDir(path), "_table.json")

  /** One table's meta at meta version `ver` (0 = none yet, or a body
    * from before meta versioning); every meta change bumps it.
    *
    * @param partitionBy partition columns new groups are written under
    *   (empty = flat): every COW rewrite re-applies them, so DML never
    *   degrades a partition-pruned layout into flat files
    * @param sortBy write sort order for native writes and compaction
    * @param schema the DDL-recorded schema: an empty partitioned create
    *   writes no parquet, and ADD COLUMNS, DEFAULTs and comments live
    *   only here
    * @param checks CHECK constraints as (name, boolean SQL), enforced on
    *   every write path (SQL semantics: NULL passes)
    * @param dvMode Delta's enableDeletionVectors: SQL DELETE/UPDATE/MERGE
    *   take the merge-on-read verbs
    * @param mixedLayouts set once a spec change or a data-era column DDL
    *   may have left groups of different layouts (monotonic)
    * @param mappings the column-mapping chain (renames, drops, widenings)
    *   — metadata-only; readers apply each group the entries that
    *   postdate it
    * @param ndv stored ANALYZE / write-back results by column
    * @param pndv the same per Hive partition name ("col=v/col2=v2")
    * @param tags named snapshot pins (Iceberg tags): name → version
    * @param cdcKey the change feed's row identity; None = feed off
    */
  final case class TableMeta(ver: Long = 0L, partitionBy: Seq[String] = Nil,
      sortBy: Seq[String] = Nil,
      schema: Option[org.apache.spark.sql.types.StructType] = None,
      checks: Seq[(String, String)] = Nil, dvMode: Boolean = false,
      mixedLayouts: Boolean = false, mappings: Seq[MapRec] = Nil,
      ndv: Map[String, ColumnNdv] = Map.empty,
      pndv: Map[String, Map[String, ColumnNdv]] = Map.empty,
      tags: Map[String, Long] = Map.empty, cdcKey: Option[String] = None) {
    /** Rename/drop entries only — what prior-name resolution consumes. */
    def renames: Seq[RenameRec] = mappings.collect { case r: RenameRec => r }
    /** Tags for display: `name=version`, comma-joined, by name. */
    def tagList: String = tags.toSeq.sortBy(_._1).map { case (n, v) => s"$n=$v" }.mkString(",")
  }

  /** The meta body format (meta objects, legacy `_table.json`): a
    * JSON object whose free-text entries (stats, mapping records, CHECK
    * SQL, the schema) are base64 of tab-separated fields, so they never
    * touch the JSON syntax. Keys are omitted when empty (`partitionBy`
    * and `metaVer` always appear), except that a meta object always
    * carries `tags`: bodies without it predate tags and the CDC key
    * joining the meta, and take both from legacy side files.
    */
  object TableMeta {
    import org.json4s.{JArray, JBool, JInt, JObject, JString, JValue}

    val empty: TableMeta = TableMeta()

    private def b64(s: String): JString = JString(java.util.Base64.getEncoder
      .encodeToString(s.getBytes(StandardCharsets.UTF_8)))
    private def unb64(s: String): String =
      new String(java.util.Base64.getDecoder.decode(s), StandardCharsets.UTF_8)
    private def ndvLine(r: ColumnNdv): String = s"${r.ndv}\t${r.maxLen}\t${r.avgLen}\t${r.asOf}"
    private def ndvAt(a: Array[String], i: Int): ColumnNdv =
      ColumnNdv(a(i).toLong, a(i + 1).toLong, a(i + 2).toDouble, a(i + 3).toLong)

    /** `marked`: write `tags` even when empty (a meta object's body). */
    def render(m: TableMeta, marked: Boolean = false): String = {
      def arr(vs: Seq[JValue]) = JArray(vs.toList)
      val fields: Seq[Option[(String, JValue)]] = Seq(
        Some("partitionBy" -> arr(m.partitionBy.map(JString(_)))),
        Option.when(m.ndv.nonEmpty)("ndvB64" -> arr(m.ndv.toSeq.sortBy(_._1).map {
          case (c, r) => b64(s"$c\t${ndvLine(r)}") })),
        Option.when(m.pndv.nonEmpty)("pndvB64" -> arr(m.pndv.toSeq.sortBy(_._1).flatMap {
          case (part, cols) =>
            val pb = b64(part).s
            cols.toSeq.sortBy(_._1).map { case (c, r) => b64(s"$pb\t$c\t${ndvLine(r)}") }
        })),
        Option.when(m.mappings.nonEmpty)("mappingsB64" -> arr(m.mappings.map {
          case RenameRec(o, n, v) => b64(s"r\t$o\t$n\t$v")
          case WidenRec(c, t, v) => b64(s"w\t$c\t$t\t$v")
        })),
        Option.when(m.mixedLayouts)("mixedLayouts" -> JBool(true)),
        Option.when(m.dvMode)("dvMode" -> JBool(true)),
        Option.when(m.sortBy.nonEmpty)("sortBy" -> arr(m.sortBy.map(JString(_)))),
        Option.when(m.checks.nonEmpty)("checksB64" -> arr(m.checks.map {
          case (n, sql) => b64(s"$n\t$sql") })),
        m.schema.map(s => "schemaB64" -> b64(s.json)),
        Option.when(m.tags.nonEmpty || marked)("tags" -> JObject(m.tags.toSeq.sortBy(_._1)
          .map { case (n, v) => n -> (JInt(v): JValue) }.toList)),
        m.cdcKey.map("cdcKey" -> JString(_)),
        Some("metaVer" -> JInt(m.ver)))
      org.json4s.jackson.JsonMethods.compact(JObject(fields.flatten.toList))
    }

    def parse(body: String): TableMeta = parseMarked(body)._1

    /** [[parse]], and whether the body carries `tags` (see [[render]]). */
    private[graft] def parseMarked(body: String): (TableMeta, Boolean) = {
      val fields = org.json4s.jackson.JsonMethods.parse(body) match {
        case JObject(fs) => fs.toMap
        case other => throw new IllegalArgumentException(s"not a JSON object: $other")
      }
      def strings(k: String): Seq[String] = fields.get(k).toSeq.flatMap {
        case JArray(vs) => vs.map { case JString(s) => s
          case v => throw new IllegalArgumentException(s"$k holds $v") }
        case v => throw new IllegalArgumentException(s"$k holds $v")
      }
      def flag(k: String): Boolean = fields.get(k).contains(JBool(true))
      (TableMeta(
        ver = fields.get("metaVer").collect { case JInt(v) => v.toLong }.getOrElse(0L),
        partitionBy = strings("partitionBy"),
        sortBy = strings("sortBy"),
        schema = fields.get("schemaB64").collect { case JString(s) =>
          org.apache.spark.sql.types.DataType.fromJson(unb64(s))
            .asInstanceOf[org.apache.spark.sql.types.StructType] },
        checks = strings("checksB64").map(unb64).map { s =>
          val i = s.indexOf('\t')
          (s.substring(0, i), s.substring(i + 1))
        },
        dvMode = flag("dvMode"),
        mixedLayouts = flag("mixedLayouts"),
        mappings = strings("mappingsB64").map(unb64).map(_.split("\t") match {
          case Array("r", o, n, v) => RenameRec(o, n, v.toLong)
          case Array("w", c, t, v) => WidenRec(c, t, v.toLong)
          case other => throw new IllegalArgumentException(
            s"bad mapping record '${other.mkString("\\t")}'")
        }),
        ndv = strings("ndvB64").map(unb64).map { s =>
          val a = s.split("\t")
          a(0) -> ndvAt(a, 1)
        }.toMap,
        pndv = strings("pndvB64").map(unb64).map { s =>
          val a = s.split("\t")
          (unb64(a(0)), a(1), ndvAt(a, 2))
        }.groupBy(_._1).map { case (p, g) => p -> g.map(t => t._2 -> t._3).toMap },
        tags = fields.get("tags").fold(Map.empty[String, Long])(tagsOf),
        cdcKey = fields.get("cdcKey").collect { case JString(k) => k }),
        fields.contains("tags"))
    }

    /** A `tags` object (or a legacy `_tags.json` body): name → version. */
    private[graft] def tagsOf(j: JValue): Map[String, Long] = j match {
      case JObject(kvs) => kvs.map {
        case (n, JInt(v)) => n -> v.toLong
        case (n, v) => throw new IllegalArgumentException(s"tag $n holds $v")
      }.toMap
      case v => throw new IllegalArgumentException(s"tags holds $v")
    }
  }

  /** Record a write sort order (the Iceberg `write.sort.by` table
    * property): subsequent NATIVE writes range-distribute flat tables
    * on these columns (and sort within the partition leaves of
    * partitioned ones), so data files land with DISJOINT footer
    * min/max ranges and the stats pruner (B18) opens only the files a
    * point/range read can match. Metadata-only — existing files are
    * untouched until rewritten.
    */
  def setSortBy(spark: SparkSession, path: String, cols: Seq[String]): TableMeta = {
    val base = state(spark, path)
    updateMeta(spark, path, base, (_, m) => m.copy(sortBy = cols))
  }

  /** DSv2 statistics for SupportsReportStatistics scans — what
    * Spark's OWN cost-based optimizer (join reorder keys on rowCount ×
    * NDV) consumes: the sidecars' exact row count (empty when unknown)
    * and per column NDV and string lengths from the stored ANALYZE
    * results, null counts footer-exact from the same sidecar read.
    * Snapshot-level, so callers must only attach it to UNPRUNED scans.
    */
  private[graft] def v2Stats(spark: SparkSession, path: String, st: State,
      cols: Seq[String]): (java.util.OptionalLong, java.util.Map[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics]) = {
    val m = new java.util.HashMap[
      org.apache.spark.sql.connector.expressions.NamedReference,
      org.apache.spark.sql.connector.read.colstats.ColumnStatistics]()
    val ndv = st.meta.ndv
    val agg = aggregatedColumnNulls(spark, path, st.commit.dirs)
    val nulls = agg.fold(Map.empty[String, Long])(_._2)
    cols.foreach { c =>
      val nd = ndv.get(c)
      val nn = nulls.get(c)
      if (nd.isDefined || nn.isDefined) {
        m.put(org.apache.spark.sql.connector.expressions.Expressions.column(c),
          new org.apache.spark.sql.connector.read.colstats.ColumnStatistics {
            override def distinctCount(): java.util.OptionalLong =
              nd.fold(java.util.OptionalLong.empty())(r =>
                java.util.OptionalLong.of(r.ndv))
            override def nullCount(): java.util.OptionalLong =
              nn.fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)
            override def maxLen(): java.util.OptionalLong =
              nd.filter(_.maxLen >= 0).fold(java.util.OptionalLong.empty())(r =>
                java.util.OptionalLong.of(r.maxLen))
            override def avgLen(): java.util.OptionalLong =
              nd.filter(_.avgLen >= 0).fold(java.util.OptionalLong.empty())(r =>
                java.util.OptionalLong.of(math.round(r.avgLen)))
          })
      }
    }
    (agg.fold(java.util.OptionalLong.empty())(t => java.util.OptionalLong.of(t._1)), m)
  }

  /** One column's stored ANALYZE result: approximate distinct count,
    * string length stats (-1 when not a string column), and the
    * snapshot version it measured — Hive/Delta ANALYZE semantics:
    * stats are as-of their collection, staleness is the caller's
    * trade, and a planner treats them as estimates.
    */
  final case class ColumnNdv(ndv: Long, maxLen: Long, avgLen: Double, asOf: Long)

  /** ANALYZE TABLE: one distributed aggregate pass collecting
    * approx_count_distinct per column (HLL — exact below its sparse
    * threshold, ~2-5% beyond) plus max/avg byte length for strings,
    * recorded in the table meta via the CAS (so concurrent DDL can't
    * be lost) and stamped with the snapshot version measured. This is
    * what upgrades the HMS facade's served numDVs from a sound bound
    * to a real estimate — the statistic CBOs (Hive/Trino/Spark) key
    * join-order decisions on — and makes string columns servable
    * (StringColumnStatsData needs lengths). Unlike the footer
    * sidecars, the scan applies deletion vectors: DV'd rows don't
    * count. O(data) but single-pass and column-pruned to the targets;
    * at 100 TB you run it per-partition-load or sampled, same as
    * every warehouse. Empty `cols` = all atomic columns.
    */
  def analyze(spark: SparkSession, path: String,
      cols: Seq[String] = Nil): Map[String, ColumnNdv] = {
    import org.apache.spark.sql.functions._
    val base = state(spark, path)
    val df = read(spark, path, base)
    val atomic: org.apache.spark.sql.types.DataType => Boolean = {
      case _: org.apache.spark.sql.types.NumericType => true
      case org.apache.spark.sql.types.StringType | org.apache.spark.sql.types.BooleanType |
           org.apache.spark.sql.types.DateType | org.apache.spark.sql.types.TimestampType |
           org.apache.spark.sql.types.TimestampNTZType => true
      case _ => false
    }
    val targets =
      (if (cols.isEmpty) df.schema.fields.toSeq
       else cols.flatMap(c => df.schema.fields.find(_.name.equalsIgnoreCase(c))))
        .filter(f => atomic(f.dataType))
    if (targets.isEmpty) return base.meta.ndv
    val aggs = targets.zipWithIndex.flatMap { case (f, i) =>
      val ndvAgg = approx_count_distinct(col(f.name)).as(s"__ndv$i")
      f.dataType match {
        case org.apache.spark.sql.types.StringType =>
          Seq(ndvAgg, max(octet_length(col(f.name))).cast("long").as(s"__max$i"),
            avg(octet_length(col(f.name))).as(s"__avg$i"))
        case _ => Seq(ndvAgg)
      }
    }
    val row = df.agg(aggs.head, aggs.drop(1): _*).head()
    val fresh = targets.zipWithIndex.map { case (f, i) =>
      val ndv = row.getAs[Long](s"__ndv$i")
      val (mx, av) = f.dataType match {
        case org.apache.spark.sql.types.StringType =>
          (if (row.isNullAt(row.fieldIndex(s"__max$i"))) -1L
           else row.getAs[Long](s"__max$i"),
           if (row.isNullAt(row.fieldIndex(s"__avg$i"))) -1.0
           else row.getAs[Double](s"__avg$i"))
        case _ => (-1L, -1.0)
      }
      f.name -> ColumnNdv(ndv, mx, av, base.version)
    }.toMap
    updateMeta(spark, path, base, (_, m) => m.copy(ndv = m.ndv ++ fresh)).ndv
  }

  /** Stats WRITE-BACK: record externally-computed column statistics
    * (an HMS client's ANALYZE — Hive's `update_table_column_statistics`
    * verb) into the same store [[analyze]] fills, so an external
    * engine's stats round-trip through the facade and feed Spark's own
    * CBO identically, under the same meta CAS.
    */
  def recordNdv(spark: SparkSession, path: String,
      fresh: Map[String, ColumnNdv]): Map[String, ColumnNdv] = {
    val base = state(spark, path)
    requireColumns(spark, path, base, fresh.keys)
    updateMeta(spark, path, base, (_, m) => m.copy(ndv = m.ndv ++ fresh)).ndv
  }

  /** Written-back stats arrive keyed by names the caller resolved
    * before this verb read `base`: a name `base`'s schema lacks means a
    * column DDL published in between, and recording it would resurrect
    * a pre-rename key.
    */
  private def requireColumns(spark: SparkSession, path: String, base: State,
      names: Iterable[String]): Unit = {
    val stale = names.toSeq.diff(tableSchema(spark, path, base).fieldNames.toSeq)
    if (stale.nonEmpty)
      throw new ConcurrentWriteException(
        s"stats for ${stale.mkString(", ")} name no column of $path at v${base.version}: " +
        "a concurrent DDL renamed or dropped them — re-run against the new table state")
  }

  /** Drop one column's stored ANALYZE/write-back record (Hive's
    * `delete_table_column_statistics`). No-op when absent.
    */
  def dropNdv(spark: SparkSession, path: String, colName: String): Unit = {
    val base = state(spark, path)
    val remaining = base.meta.ndv.filterNot(_._1.equalsIgnoreCase(colName))
    if (remaining.size != base.meta.ndv.size)
      updateMeta(spark, path, base, (_, m) => m.copy(ndv = remaining))
  }

  /** PARTITION-level stats write-back (Hive's
    * `update_partition_column_statistics`): merge one partition's
    * externally-computed column records into the per-partition store
    * the HMS facade serves reads from ([[TableMeta.pndv]]).
    */
  def recordPartitionNdv(spark: SparkSession, path: String, partName: String,
      fresh: Map[String, ColumnNdv]): Unit = {
    val base = state(spark, path)
    requireColumns(spark, path, base, fresh.keys)
    val cur = base.meta.pndv
    updateMeta(spark, path, base,
      (_, m) => m.copy(pndv = cur + (partName -> (cur.getOrElse(partName, Map.empty) ++ fresh))))
  }

  /** Drop one partition-column record — or, with colName null, ALL of
    * the partition's records (the Hive wire's
    * `delete_partition_column_statistics` convention, mirroring the
    * table-level verb). No-op when absent.
    */
  def dropPartitionNdv(spark: SparkSession, path: String, partName: String,
      colName: String): Unit = {
    val base = state(spark, path)
    val cur = base.meta.pndv
    val pruned = cur.get(partName) match {
      case None => return
      case Some(_) if colName == null => cur - partName
      case Some(cols) =>
        val remaining = cols.filterNot(_._1.equalsIgnoreCase(colName))
        if (remaining.size == cols.size) return
        if (remaining.isEmpty) cur - partName else cur + (partName -> remaining)
    }
    updateMeta(spark, path, base, (_, m) => m.copy(pndv = pruned))
  }

  /** PARTITION EVOLUTION (the Iceberg marquee): change the table's
    * partition spec WITHOUT rewriting a byte of data. Metadata-only —
    * subsequent appends and COW rewrites lay their new file groups out
    * under the new spec while existing groups keep theirs; the read
    * path already unions per-group layouts by name (partition columns
    * surface from paths or data files interchangeably) and the stats
    * pruner derives each FILE's partition values from its own path, so
    * old-spec and new-spec groups each prune under whatever layout
    * they actually have. At 100 TB this is the difference between
    * "repartitioning the table" being a metadata commit vs a
    * multi-day rewrite. Old snapshots are untouched: time travel
    * before the spec change reads exactly what it always did.
    */
  def setPartitioning(spark: SparkSession, path: String, cols: Seq[String]): TableMeta = {
    val base = state(spark, path)
    // spec changed under existing groups → old and new ones may differ
    updateMeta(spark, path, base, (_, m) => m.copy(partitionBy = cols, mixedLayouts = true))
  }

  /** One column-mapping change, stamped with the first table version
    * it does NOT apply to: a group whose dir version < stamp was
    * written under the pre-change schema and needs the mapping at scan
    * assembly; groups at/after wrote the current schema natively. The
    * stamp is what disambiguates DROP-then-re-ADD of the same name:
    * without it, a chain entry would capture the RE-ADDED column in
    * groups that postdate the change.
    */
  private[graft] sealed trait MapRec { def stamp: Long }
  /** RENAME (and, via a tombstone target, DROP): physical `old` in
    * pre-stamp groups is what the logical schema calls `to`.
    */
  private[graft] final case class RenameRec(old: String, to: String, stamp: Long)
      extends MapRec {
    def dropped: Boolean = to.startsWith(DroppedPrefix)
  }
  /** TYPE WIDENING: pre-stamp groups carry `col` at a narrower
    * physical type; scan assembly casts them to `toDdl`.
    */
  private[graft] final case class WidenRec(col: String, toDdl: String, stamp: Long)
      extends MapRec
  private[graft] val DroppedPrefix = "__graft_dropped_"

  /** RENAME COLUMN as a metadata-only change (ALTER TABLE ... RENAME
    * COLUMN): no file is rewritten. The rename chain applies at read
    * time per file group, so old-physical-name and new-name groups
    * serve one logical schema; writes after the rename use the new
    * name natively; pruning consults sidecar stats under BOTH names.
    * Applies to the whole table (all snapshots) — the Delta
    * column-mapping semantic: rename is logical, history shows the
    * current logical names.
    */
  def renameColumn(spark: SparkSession, path: String, oldName: String,
      newName: String): Unit = {
    val base = state(spark, path)
    val sch = tableSchema(spark, path, base)
    require(sch.fieldNames.contains(oldName), s"no column $oldName in ${sch.fieldNames.mkString(",")}")
    require(!sch.fieldNames.contains(newName), s"column $newName already exists")
    // A CHECK holding the old name would silently stop resolving on
    // the next write — reject, like dropColumn does.
    val ref = ("""\b""" + java.util.regex.Pattern.quote(oldName) + """\b""").r
    base.meta.checks.foreach { case (cn, expr) =>
      require(ref.findFirstIn(expr).isEmpty,
        s"cannot rename $oldName: CHECK constraint $cn references it ($expr)")
    }
    appendMapping(spark, path, base, oldName, newName)
  }

  /** DROP COLUMN as a metadata-only change (B59): no file is
    * rewritten. The column maps to a reserved tombstone name on the
    * same stamped chain renames use; scan assembly projects tombstones
    * away, so every snapshot serves the narrowed schema while old
    * files keep their bytes. Re-ADDing the same name later is safe:
    * the stamp confines the tombstone mapping to pre-drop groups, so
    * the new column's data in newer groups is never captured. The
    * next COW rewrite / compaction physically sheds the column.
    */
  def dropColumn(spark: SparkSession, path: String, name: String): Unit = {
    val base = state(spark, path)
    val sch = tableSchema(spark, path, base)
    require(sch.fieldNames.contains(name), s"no column $name in ${sch.fieldNames.mkString(",")}")
    require(sch.fields.length > 1, s"cannot drop the only column $name")
    require(!base.meta.partitionBy.contains(name),
      s"cannot drop partition column $name (change the partition spec first)")
    require(!base.meta.sortBy.contains(name),
      s"cannot drop sort column $name (clear write.sort.by first)")
    val ref = ("""\b""" + java.util.regex.Pattern.quote(name) + """\b""").r
    base.meta.checks.foreach { case (cn, expr) =>
      require(ref.findFirstIn(expr).isEmpty,
        s"cannot drop $name: CHECK constraint $cn references it ($expr)")
    }
    appendMapping(spark, path, base, name,
      DroppedPrefix + java.util.UUID.randomUUID.toString.take(8))
  }

  /** ALTER COLUMN TYPE as a metadata-only change (B61), restricted to
    * LOSSLESS widenings (the Delta/Iceberg type-widening sets): no
    * file is rewritten; pre-change groups keep the narrow physical
    * type and scan assembly casts them per group; writes after the
    * change carry the wide type natively; the next COW rewrite
    * migrates. Lossy conversions (narrowing, long→double past 2^53,
    * scale truncation) reject.
    */
  /** The Delta/Iceberg lossless type-widening set. */
  private[graft] def losslessWidening(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (f, t) if f == t => false // no-op rejects loudly at the caller
      case (ByteType, ShortType | IntegerType | LongType | DoubleType) => true
      case (ShortType, IntegerType | LongType | DoubleType) => true
      case (IntegerType, LongType | DoubleType) => true
      case (FloatType, DoubleType) => true
      case (f: DecimalType, t: DecimalType) =>
        t.scale >= f.scale && t.precision - t.scale >= f.precision - f.scale
      case _ => false
    }
  }

  def widenColumn(spark: SparkSession, path: String, name: String,
      newType: org.apache.spark.sql.types.DataType): Unit = {
    val base = state(spark, path)
    val sch = tableSchema(spark, path, base)
    require(sch.fieldNames.contains(name), s"no column $name in ${sch.fieldNames.mkString(",")}")
    require(!base.meta.partitionBy.contains(name),
      s"cannot change the type of partition column $name")
    val from = sch(name).dataType
    require(losslessWidening(from, newType),
      s"$from -> $newType is not a lossless widening for $name")
    appendToChain(spark, path, base, WidenRec(name, newType.catalogString, 0L),
      metaUpdate = m => org.apache.spark.sql.types.StructType(
        m.fields.map(f => if (f.name == name) f.copy(dataType = newType) else f)))
  }

  private def appendMapping(spark: SparkSession, path: String, base: State,
      oldName: String, newName: String): Unit = {
    val dropped = newName.startsWith(DroppedPrefix)
    appendToChain(spark, path, base, RenameRec(oldName, newName, 0L),
      metaUpdate = m => org.apache.spark.sql.types.StructType(
        if (dropped) m.fields.filterNot(_.name == oldName)
        else m.fields.map(f => if (f.name == oldName) f.copy(name = newName) else f)),
      partsUpdate = _.map(c => if (c == oldName) newName else c))
  }

  private def appendToChain(spark: SparkSession, path: String, base: State, rec: MapRec,
      metaUpdate: org.apache.spark.sql.types.StructType => org.apache.spark.sql.types.StructType,
      partsUpdate: Seq[String] => Seq[String] = identity): Unit =
    commitColumnDdl(spark, path, base, Seq(rec), partsUpdate(base.meta.partitionBy),
      // renames follow through the write sort order too — a stale old
      // name there would break the next native write's distribution
      partsUpdate(base.meta.sortBy), base.meta.schema.map(metaUpdate))

  /** ONE atomic multi-change column DDL (ALTER TABLE with several
    * clauses): all mapping records land on the chain in statement
    * order under a single stamp and ONE meta CAS — a statement that
    * fails validation persists nothing, and a rename of a column
    * ADDed in the same statement works because `finalSchema` is the
    * caller's fold over every clause. `parts`/`sortBy` are the fold's
    * incrementally-renamed partition spec and sort order (computed
    * clause by clause — re-deriving them here from disk via a rename
    * map mis-follows chained renames), and `base` is the state the
    * caller's fold read.
    */
  private[graft] def alterColumnsAtomic(spark: SparkSession, path: String,
      recs: Seq[MapRec], finalSchema: org.apache.spark.sql.types.StructType,
      parts: Seq[String], sortBy: Seq[String], base: State): Unit =
    commitColumnDdl(spark, path, base, recs, parts, sortBy, Some(finalSchema))

  /** Shared stamp-and-publish tail of every column DDL: computes the
    * confinement stamp, appends `recs` (in order, one shared stamp) to
    * the chain, and publishes the table meta once over `base`.
    */
  private def commitColumnDdl(spark: SparkSession, path: String, base: State,
      recs: Seq[MapRec], parts: Seq[String], sortBy: Seq[String],
      schema: Option[org.apache.spark.sql.types.StructType]): Unit = {
    // ANALYZE entries follow the DDL: a renamed column keeps its stats
    // under the new name, a dropped one sheds them (a later re-ADD of
    // the same name must NOT inherit the dead column's NDV — stats for
    // a different column under a reused name are worse than none),
    // widening keeps them (lossless, same value set). The PER-PARTITION
    // records follow the same rule, per partition — preserving them
    // verbatim would leave stale keys a re-ADDed column would resurrect.
    def follow(m: Map[String, ColumnNdv]): Map[String, ColumnNdv] = recs.foldLeft(m) {
      case (acc, r: RenameRec) if r.dropped => acc - r.old
      case (acc, r: RenameRec) => acc.get(r.old).fold(acc)(v => (acc - r.old) + (r.to -> v))
      case (acc, _) => acc
    }
    val pndvFollowed = base.meta.pndv.map { case (pn, cols) => pn -> follow(cols) }
      .filter(_._2.nonEmpty)
    updateMeta(spark, path, base, { (v, m) =>
      // Stamp = the version after this commit's: a writer that read the
      // pre-change meta read a head below v, so its group is named d<=v
      // (the clone base, a shallow clone's commit, already clears every
      // copied dir and stamp); every writer at or past v reads this meta
      // and writes the new logical schema natively.
      val stamped = recs.map {
        case r: RenameRec => r.copy(stamp = v + 1)
        case w: WidenRec  => w.copy(stamp = v + 1)
      }
      m.copy(partitionBy = parts, sortBy = sortBy, schema = schema,
        // pre-change groups and post-change groups must read per root —
        // only when the chain actually grew (schema-only DDL keeps the
        // single-scan fast path)
        mixedLayouts = stamped.nonEmpty,
        mappings = m.mappings ++ stamped, ndv = follow(m.ndv),
        pndv = pndvFollowed)
    })
  }

  /** Apply the mapping chain to one file group's frame. Only entries
    * stamped AFTER the group's creation version apply (the group was
    * written under the pre-change schema); within those, the presence
    * guards keep re-introduced names from double-mapping and widening
    * casts fire only while the physical type still differs. Entries
    * apply in chain order, so a widen recorded before a later rename
    * sees the column under its then-current name. Tombstone targets
    * are projected away at the end.
    */
  private def applyMappings(df: DataFrame, mappings: Seq[MapRec],
      groupVersion: Long): DataFrame = {
    val mapped = mappings.foldLeft(df) {
      case (d, r: RenameRec) =>
        if (groupVersion < r.stamp && d.columns.contains(r.old)
            && !d.columns.contains(r.to)) d.withColumnRenamed(r.old, r.to)
        else d
      case (d, w: WidenRec) =>
        if (groupVersion < w.stamp && d.columns.contains(w.col)) {
          val target = org.apache.spark.sql.types.DataType.fromDDL(w.toDdl)
          if (d.schema(w.col).dataType != target)
            d.withColumn(w.col, org.apache.spark.sql.functions.col(w.col).cast(target))
          else d
        } else d
    }
    val tombs = mapped.columns.filter(_.startsWith(DroppedPrefix))
    if (tombs.isEmpty) mapped else mapped.drop(tombs.toIndexedSeq: _*)
  }

  /** A group dir's creation version, parsed from its `dN-uuid` name.
    * Absolute-URI entries (shallow-clone / branch references) parse the
    * same way: clone dirs carry the SOURCE table's version numbers, the
    * copied chain's stamps are source-version-based (directly
    * comparable), and [[shallowClone]] starts the clone's own
    * numbering ABOVE everything it copied — so one version axis spans
    * referenced and native groups. Collapsing absolute refs to
    * MinValue instead would discard the stamp confinement: a source
    * that dropped then re-added a column would have the re-added data
    * tombstoned in every clone.
    */
  private def groupVersionOf(entry: String): Long = {
    val k = groupKey(entry)
    if (k.startsWith("d") && k.indexOf('-') > 1)
      try k.substring(1, k.indexOf('-')).toLong
      catch { case _: NumberFormatException => Long.MinValue }
    else Long.MinValue
  }

  /** The head state; None when no table exists at `path`. */
  def head(spark: SparkSession, path: String): Option[State] =
    headCommit(spark, path, None).map { case (v, t) => stateAt(spark, path, v, t) }

  /** The head state; throws when no table exists at `path`. */
  def state(spark: SparkSession, path: String): State =
    head(spark, path).getOrElse(throw new IllegalArgumentException(s"no LakeTable at $path"))

  /** `st` advanced to the head: two stats when nothing was published
    * since (`v<N>.json` is the same file, `v<N+1>.json` is not there).
    */
  private[graft] def advance(spark: SparkSession, path: String, st: State): State =
    headCommit(spark, path, Some(st.version)) match {
      case Some((st.version, st.stamp)) => st
      case Some((v, t)) => stateAt(spark, path, v, t)
      case None => throw new IllegalArgumentException(s"no LakeTable at $path")
    }

  private def stateAt(spark: SparkSession, path: String, v: Long, stamp: Long): State = {
    val c = readCommit(spark, path, v)
    val (m, legacy) = readMeta(spark, path, c.meta)
    State(v, c, m, legacy, stamp)
  }

  /** Snapshot `version` (the head when None) under the HEAD's meta —
    * time travel reads old data with the current schema and mappings.
    */
  def snapshot(spark: SparkSession, path: String, version: Option[Long]): State = {
    val h = state(spark, path)
    version.fold(h)(at(spark, path, h, _))
  }

  /** Snapshot `v` under the meta of head state `h`. */
  private[graft] def at(spark: SparkSession, path: String, h: State, v: Long): State =
    if (v == h.version) h else h.copy(version = v, commit = readCommit(spark, path, v))

  /** The head's table meta; empty when no table exists at `path`. */
  def meta(spark: SparkSession, path: String): TableMeta =
    head(spark, path).fold(TableMeta.empty)(_.meta)

  /** The meta a commit's `meta` entry names. FAILS LOUDLY on a
    * malformed body — the mapping chain determines column identity, so
    * "unparseable → empty chain" would silently serve wrong columns;
    * objects are write-once and only referenced once whole, so a bad
    * body is real corruption. Also returns whether the meta is legacy
    * ([[State.legacy]]).
    */
  private def readMeta(spark: SparkSession, path: String,
      ref: Option[String]): (TableMeta, Boolean) = {
    val p = ref match {
      case Some(EmptyMeta) => return (TableMeta.empty, false)
      case Some("") => return (withSideFiles(spark, path, TableMeta.empty), true)
      case Some(name) => new Path(logDir(path), name)
      case None => legacyMetaFile(path)
    }
    val fs = fsOf(spark, p)
    if (ref.isEmpty && !fs.exists(p)) return (withSideFiles(spark, path, TableMeta.empty), true)
    metaReads.increment()
    val body = readText(fs, p)
    val (m, marked) = try TableMeta.parseMarked(body)
    catch { case scala.util.control.NonFatal(e) =>
      throw new IllegalStateException(
        s"corrupt table meta at $p (${body.length} bytes): ${body.take(80)}", e)
    }
    if (marked) (m, false) else (withSideFiles(spark, path, m), true)
  }

  /** `m` with the tags and CDC key that writers before meta objects
    * carried them kept in side files — read only, for a legacy head.
    */
  private def withSideFiles(spark: SparkSession, path: String, m: TableMeta): TableMeta = {
    def json(name: String): Option[org.json4s.JValue] = {
      val p = new Path(logDir(path), name)
      val fs = fsOf(spark, p)
      Option.when(fs.exists(p))(org.json4s.jackson.JsonMethods.parse(readText(fs, p)))
    }
    m.copy(tags = json("_tags.json").fold(Map.empty[String, Long])(TableMeta.tagsOf),
      cdcKey = json("_cdc.json").map(_ \ "key").collect { case org.json4s.JString(k) => k })
  }

  /** Write `m` as a new meta object for commit `v`; returns the name
    * the commit references ([[EmptyMeta]] for the empty meta). The name
    * is unique, so a racer that loses the commit claim leaves an inert
    * orphan.
    */
  private def writeMeta(spark: SparkSession, path: String, v: Long, m: TableMeta): String =
    if (m == TableMeta.empty) EmptyMeta
    else {
      val name = f"meta-$v%05d-${java.util.UUID.randomUUID.toString.take(8)}.json"
      val p = new Path(logDir(path), name)
      val out = fsOf(spark, p).create(p, false)
      try out.write(TableMeta.render(m, marked = true).getBytes(StandardCharsets.UTF_8))
      finally out.close()
      name
    }

  /** Per-application txn high-water marks as of `st`. A commit from
    * before the marks were carried names only its own, so a legacy
    * head folds the retained log back to the newest carrying commit.
    */
  private def txnsOf(spark: SparkSession, path: String, st: State): Map[String, Long] = {
    var acc = st.commit.txns
    var (v, carrying) = (st.version, st.commit.meta.isDefined)
    while (!carrying && v > 0) {
      v -= 1
      readCommitOpt(spark, path, v).foreach { c =>
        acc = withTxns(acc, c.txns); carrying = c.meta.isDefined
      }
    }
    acc
  }

  private def withTxns(a: Map[String, Long], b: Iterable[(String, Long)]): Map[String, Long] =
    b.foldLeft(a) { case (m, (app, v)) => m.updated(app, m.get(app).fold(v)(math.max(_, v))) }

  /** Publish `c` as the commit after `base`, carrying `base`'s meta
    * (a legacy head's migrates into an object here) and txn marks plus
    * `txn`. Throws [[CommitRaceLostException]] when another writer took
    * the version.
    */
  private def commitOver(spark: SparkSession, path: String, base: State, c: Commit,
      txn: Option[(String, Long)] = None): Unit =
    writeCommit(spark, path, c.copy(version = base.version + 1,
      meta = Some(base.commit.meta match {
        case Some(ref) if !base.legacy => ref
        case _ => writeMeta(spark, path, base.version + 1, base.meta)
      }),
      txns = withTxns(txnsOf(spark, path, base), txn)))

  /** Publish `next(v, m)` over `base`, where `v` is the version it
    * publishes at (column DDL stamps with it) and `m` the meta it
    * replaces — the ONLY meta writer, so no path drops a key another
    * recorded. Returns what it published, at meta version `m.ver + 1`,
    * with the mixed-layout marker kept MONOTONIC (once set by a spec
    * change, every later rewrite preserves it; readers route mixed
    * tables through the per-group-root union and keep the single-scan
    * fast path for never-evolved flat tables).
    *
    * Concurrency: the meta commit claims the version after the head
    * like any commit. Losing the claim to commits that kept the meta
    * (appends, DML) rebases onto the new head. Losing it to another
    * meta change throws [[ConcurrentWriteException]] — the caller
    * derived its change from a meta that is gone and must re-run —
    * unless `rederive`: a change that is a pure function of the meta
    * (tags, the CDC key) derives again from the new one.
    */
  private def updateMeta(spark: SparkSession, path: String, base: State,
      next: (Long, TableMeta) => TableMeta, rederive: Boolean = false): TableMeta = {
    var (from, head) = (base.meta, base)
    var attempts = 0
    while (true) {
      val v = head.version + 1
      val n = next(v, from)
      val published = n.copy(ver = from.ver + 1,
        mixedLayouts = n.mixedLayouts || from.mixedLayouts)
      val name = writeMeta(spark, path, v, published)
      try {
        writeCommit(spark, path, Commit(v, MetaAction, head.commit.dirs,
          meta = Some(name), txns = txnsOf(spark, path, head)))
        return published
      } catch {
        case e: CommitRaceLostException =>
          attempts += 1
          val now = state(spark, path)
          if (now.meta != from) {
            if (!rederive)
              throw new ConcurrentWriteException(
                s"table-meta change at $path lost v$v to a concurrent meta change " +
                s"(expected meta version ${from.ver}) — re-run against the new table state")
            from = now.meta
          }
          if (attempts >= 32)
            throw new ConcurrentWriteException(
              s"table-meta change at $path gave up after $attempts rebases: ${e.getMessage}")
          if (now.version < v) Thread.sleep(5L * attempts) // winner mid-publish
          if (now.version > head.version) head = now
      }
    }
    from // unreachable
  }

  /** Add a CHECK constraint (the Delta `ALTER TABLE ADD CONSTRAINT`
    * capability): EXISTING data is validated first — one scan; a
    * violated constraint is rejected rather than recorded — then the
    * constraint guards every subsequent write.
    */
  def addCheck(spark: SparkSession, path: String, name: String, sql: String): TableMeta = {
    import org.apache.spark.sql.functions.{expr => fexpr}
    val base = state(spark, path)
    require(!base.meta.checks.exists(_._1 == name), s"constraint $name already exists")
    val violations = read(spark, path, base)
      .where(fexpr(s"NOT coalesce(($sql), true)")).limit(1).count()
    require(violations == 0,
      s"cannot add CHECK constraint $name: existing rows violate ($sql)")
    updateMeta(spark, path, base, (_, m) => m.copy(checks = m.checks :+ (name -> sql)))
  }

  def dropCheck(spark: SparkSession, path: String, name: String): TableMeta = {
    val base = state(spark, path)
    updateMeta(spark, path, base,
      (_, m) => m.copy(checks = m.checks.filterNot(_._1 == name)))
  }

  def setDvMode(spark: SparkSession, path: String, on: Boolean): TableMeta = {
    val base = state(spark, path)
    updateMeta(spark, path, base, (_, m) => m.copy(dvMode = on))
  }

  /** The state before a table's first commit, under meta `m`. */
  private def unborn(m: TableMeta) = State(-1L, Commit(-1L, "create", Nil), m)

  /** Create (or replace) the table as version 0, with `meta` as its
    * initial table meta — one commit, whatever the meta holds.
    */
  def create(spark: SparkSession, path: String, df: DataFrame,
      partitionBy: Seq[String] = Nil, meta: TableMeta = TableMeta.empty): Long = {
    val p = new Path(path)
    val fs = fsOf(spark, p)
    if (fs.exists(p)) fs.delete(p, true)
    invalidateSchemaCache(spark, path)
    // A partitioned create records the schema: an EMPTY partitioned
    // create writes no parquet files at all, so schema inference has
    // nothing to read until the first insert — the meta is the
    // fallback that keeps DDL-then-INSERT resolvable.
    val initial =
      if (partitionBy.isEmpty) meta
      else meta.copy(partitionBy = partitionBy, schema = meta.schema.orElse(Some(df.schema)))
    val m = if (initial == TableMeta.empty) initial else initial.copy(ver = 1L)
    val dir = writeGroup(spark, path, unborn(m), df, partitionBy)
    writeCommit(spark, path,
      Commit(0L, "create", Seq(dir), meta = Some(writeMeta(spark, path, 0L, m))))
    0L
  }

  /** Record `schema` (and keep the partitioning) in the table meta —
    * the ALTER TABLE ADD COLUMNS persistence: files stay untouched,
    * reads surface the new columns as NULL until data arrives.
    */
  private[graft] def updateSchemaMeta(spark: SparkSession, path: String,
      schema: org.apache.spark.sql.types.StructType): Unit = {
    val base = state(spark, path)
    updateMeta(spark, path, base, (_, m) => m.copy(schema = Some(schema)))
  }

  /** Bounded process-wide schema cache. Spark's analyzer asks a table
    * for its schema many times per statement (schema(), capabilities(),
    * scan build, write build), and each derivation merges the
    * snapshot's group footers and the meta. The key is exact:
    * (qualified path, data version, meta version) — a version pins its
    * commit, and the meta version the meta time travel reads under —
    * so entries are immutable once computed. LRU-bounded;
    * access-ordered.
    */
  private val schemaCache = lru[(String, Long, Long), org.apache.spark.sql.types.StructType](256)

  /** A synchronized, access-ordered map that drops its eldest entry
    * past `max` entries.
    */
  private def lru[K, V](max: Int): java.util.Map[K, V] = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[K, V](64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean = size() > max
    })

  /** Drop every cached table schema for `path`. Needed when a table is
    * RE-CREATED at the same path (create-replace, clone onto an
    * existing path, catalog DROP + CREATE): the new generation starts
    * again at data version 0 and may reuse the old metaVer, so the
    * (path, dataVer, metaVer) key would collide and serve the DROPPED
    * generation's schema. In-JVM only — a re-create from another host
    * is the same caveat as any non-notifying store; the first write
    * or DDL there moves a version component and self-heals.
    */
  private[graft] def invalidateSchemaCache(spark: SparkSession, path: String): Unit = {
    val q = fsOf(spark, new Path(path)).makeQualified(new Path(path)).toString
    schemaCache.synchronized {
      schemaCache.keySet.removeIf(k => k._1 == q)
    }
  }

  /** One file group's schema: its footer's data schema and the names
    * of the `col=value` dirs its files sit in (its write's partition
    * columns, under their write-time names).
    */
  private final case class GroupSchema(data: org.apache.spark.sql.types.StructType,
      partCols: Seq[String])

  /** Qualified group root → its [[GroupSchema]] (None: no parquet file,
    * as in a schema-only create). A group dir is written once, by one
    * writer, with one schema, and its name (`dN-<uuid>`,
    * `ds-<uuid>-eN`) never comes back, so an entry never goes stale.
    */
  private val groupSchemaCache = lru[String, Option[GroupSchema]](4096)

  /** The group at qualified root `q`: one listing, then the footer of
    * its path-sorted first parquet file, read on the driver.
    */
  private def groupSchema(spark: SparkSession, q: String): Option[GroupSchema] =
    Option(groupSchemaCache.get(q)).getOrElse {
      val root = new Path(q)
      val fs = fsOf(spark, root)
      val files = if (!fs.exists(root)) Nil else {
        val it = fs.listFiles(root, true)
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
          .filter(_.getPath.getName.endsWith(".parquet")).toSeq
      }
      // The first footer that reads (a corrupt one yields none only
      // under spark.sql.files.ignoreCorruptFiles).
      val g = files.sortBy(_.getPath.toString).iterator.flatMap { f =>
        org.apache.spark.sql.graftglue.Glue.footerSchema(spark, f).map { data =>
          val rel = fs.makeQualified(f.getPath.getParent).toString.stripPrefix(q)
          GroupSchema(data, rel.split("/").toSeq.filter(_.contains("=")).map(seg =>
            unescapePath(seg.substring(0, seg.indexOf('=')))))
        }
      }.nextOption()
      groupSchemaCache.put(q, g)
      g
    }

  /** The schemas of the groups `dirs` read, keyed by group root, in
    * the order Spark's parquet merge folds files (qualified path);
    * groups without a parquet file are left out.
    */
  private def groupSchemas(spark: SparkSession, path: String,
      dirs: Seq[String]): Seq[(String, GroupSchema)] =
    dirs.map(groupRoot).distinct
      .map(r => r -> fsOf(spark, new Path(path, r)).makeQualified(new Path(path, r)).toString)
      .sortBy(_._2)
      .flatMap { case (r, q) => groupSchema(spark, q).map(r -> _) }

  /** Table schema: the UNION of the snapshot's file-inferred schema
    * and the meta-recorded one (create-time for empty partitioned
    * tables, updated by ALTER TABLE ADD COLUMNS) — file-evolved and
    * DDL-evolved columns both surface, each nullable until data lands.
    */
  def tableSchema(spark: SparkSession, path: String,
      version: Option[Long] = None): org.apache.spark.sql.types.StructType =
    tableSchema(spark, path, snapshot(spark, path, version))

  /** [[tableSchema]] of the state the calling verb resolved. */
  private[graft] def tableSchema(spark: SparkSession, path: String,
      st: State): org.apache.spark.sql.types.StructType = {
    val key = (fsOf(spark, new Path(path)).makeQualified(new Path(path)).toString,
      st.version, st.meta.ver)
    Option(schemaCache.get(key)).getOrElse {
      val computed = tableSchemaUncached(spark, path, st)
      schemaCache.put(key, computed)
      computed
    }
  }

  private def tableSchemaUncached(spark: SparkSession, path: String,
      st: State): org.apache.spark.sql.types.StructType = {
    val i =
      try read(spark, path, st).schema
      catch {
        case e: org.apache.spark.sql.AnalysisException => return st.meta.schema.getOrElse(throw e)
      }
    st.meta.schema match {
      case Some(m) =>
        val have = i.fieldNames.toSet
        val byName = m.fields.map(f => f.name -> f).toMap
        org.apache.spark.sql.types.StructType(
          // The meta schema's field METADATA (column DEFAULTs,
          // comments) is authoritative over whatever the files
          // round-tripped: files pin the metadata of their write
          // time, and ALTER COLUMN SET/DROP DEFAULT must take effect
          // without rewriting them.
          i.fields.map(f => byName.get(f.name) match {
            case Some(mf) => f.copy(metadata = mf.metadata)
            case None => f
          }) ++ m.fields.filterNot(f => have(f.name)).map(_.copy(nullable = true)))
      case None => i
    }
  }

  /** Append a new file group; existing groups are untouched.
    *
    * BLIND-APPEND optimistic concurrency (the Delta semantic): an
    * append reads no table data, so it conflicts with NO concurrent
    * commit — losing the version-claim race rebases the already-staged
    * group onto the new head and retries the METADATA commit only.
    * N concurrent appenders each write their data exactly once and
    * all N succeed at consecutive versions; at 100 TB this is the
    * difference between a multi-writer ingest fleet and "retry the
    * whole job". Data written under a since-evolved partition spec or
    * column mapping stays correct: the group keeps its write-time
    * layout/names and the per-group readers (B57/B58) assemble it.
    */
  def append(spark: SparkSession, path: String, df: DataFrame,
      partitionBy: Seq[String] = Nil): Long = {
    // No explicit layout → the table's CURRENT spec (which partition
    // evolution may have changed since create): new groups always land
    // under the spec in force at write time.
    val base = state(spark, path)
    val spec = if (partitionBy.nonEmpty) partitionBy else base.meta.partitionBy
    val dir = writeGroup(spark, path, base, df, spec)
    commitBlindAppend(spark, path, base, Seq(dir), txn = None).get
  }

  /** Publish already-staged groups as an append, rebasing past
    * concurrent winners (their commits plus these dirs compose — blind
    * appends have an empty read set). Every attempt carries the meta of
    * the head it claims over, so a DDL that landed meanwhile stays in
    * force. Claim losses where the winner's publish is still in flight
    * (claim marker up, commit rename not yet visible) back off briefly
    * and re-resolve. With a `txn` (application id, version), every
    * attempt first checks the head's marks: None = that application
    * version is already committed (a replay, or a twin that won), and
    * nothing was published.
    */
  private def commitBlindAppend(spark: SparkSession, path: String, base: State,
      dirs: Seq[String], txn: Option[(String, Long)]): Option[Long] = {
    var head = base
    var attempts = 0
    while (true) {
      if (txn.exists { case (app, tv) => txnsOf(spark, path, head).get(app).exists(_ >= tv) })
        return None
      val v = head.version + 1
      // CDC: an append's change records ARE the appended rows, so no
      // change file is written at all — the commit carries an `@dir`
      // marker and readers synthesize (change_type='insert',
      // _commit_version=v) from the data group. Appends with the feed
      // on pay ZERO write amplification (the Delta insert-only-commit
      // optimization); only row-mutating commits write change files.
      val cdc = dirs.headOption.flatMap(d => head.meta.cdcKey.map(_ => "@" + d))
      try {
        commitOver(spark, path, head, Commit(v, "append", head.commit.dirs ++ dirs, cdc), txn)
        return Some(v)
      } catch {
        case e: CommitRaceLostException =>
          attempts += 1
          if (attempts >= 32)
            throw new ConcurrentWriteException(
              s"append to $path gave up after $attempts rebases: ${e.getMessage}")
          val now = state(spark, path)
          if (now.version < v) Thread.sleep(5L * attempts) // winner mid-publish
          if (now.version > head.version) head = now
      }
    }
    None // unreachable
  }

  /** Latest application version `appId` has committed to this table
    * (the Delta `txnVersion` idempotent-write query): the head commit
    * carries every application's mark, so vacuum never loses one.
    */
  def txnVersion(spark: SparkSession, path: String, appId: String): Option[Long] =
    head(spark, path).flatMap(txnsOf(spark, path, _).get(appId))

  /** IDEMPOTENT append (the Delta `txnAppId`/`txnVersion` contract —
    * what turns an at-least-once foreachBatch file sink into
    * exactly-once): the write commits only if `appId` has not already
    * committed a version ≥ `appVersion`; a replayed micro-batch after
    * a restart becomes a no-op. Returns true when this call committed.
    * The check re-runs before every commit attempt (a race loss may be
    * to a twin replaying the same batch), so two replays of the same
    * (appId, appVersion) can never both land; a staged-but-unneeded
    * dir is an orphan vacuum reclaims — same as any race loser.
    */
  def appendOnce(spark: SparkSession, path: String, df: DataFrame,
      appId: String, appVersion: Long, partitionBy: Seq[String] = Nil): Boolean = {
    val base = state(spark, path)
    if (txnsOf(spark, path, base).get(appId).exists(_ >= appVersion)) return false
    val spec = if (partitionBy.nonEmpty) partitionBy else base.meta.partitionBy
    val dir = writeGroup(spark, path, base, df, spec)
    commitBlindAppend(spark, path, base, Seq(dir), Some(appId -> appVersion)).isDefined
  }

  // ---- native-DSv2 staged commits -----------------------------------
  //
  // The native BatchWrite/StreamingWrite path (GraftWrite.scala) has
  // its TASKS write parquet straight into a staged group dir under the
  // table root; these driver-side verbs turn a staged dir into a
  // commit through the same file-group/commit-log protocol as the API
  // verbs — one place decides atomicity. `keepFiles` are the
  // dir-relative paths the committed task messages name: anything else
  // in the staged dir is debris from zombie/speculative task attempts
  // and is removed before the stats harvest, so a task the scheduler
  // abandoned mid-write can never leak duplicate rows into the commit.

  private[graft] sealed trait StagedMode
  private[graft] object StagedMode {
    case object Append extends StagedMode
    /** Full-table overwrite as a NEW VERSION pointing only at the
      * staged group — history-preserving (time travel keeps the old
      * snapshot), unlike `create` which resets the table.
      */
    case object Overwrite extends StagedMode
    /** INSERT OVERWRITE ... PARTITION (static) / replaceWhere. */
    final case class ReplaceWhere(predicate: org.apache.spark.sql.Column) extends StagedMode
    /** Dynamic partition overwrite: replace exactly the partitions
      * present in the staged data; every other partition carries
      * forward (as partition-subdir entries when a group is split).
      */
    case object DynamicPartitions extends StagedMode
  }

  private[graft] def commitStaged(spark: SparkSession, path: String, stagedDir: String,
      keepFiles: Seq[String], mode: StagedMode, txn: Option[(String, Long)] = None): Long = {
    import StagedMode._
    val stagedPath = new Path(path, stagedDir)
    val fs = fsOf(spark, stagedPath)
    if (!fs.exists(stagedPath)) fs.mkdirs(stagedPath)
    val keep = keepFiles.toSet
    val base = fs.makeQualified(stagedPath).toString
    val files = fs.listFiles(stagedPath, true)
    while (files.hasNext) {
      val f = files.next()
      if (f.getPath.getName.endsWith(".parquet")) {
        val rel = fs.makeQualified(f.getPath).toString.stripPrefix(base + "/")
        if (!keep(rel)) fs.delete(f.getPath, false)
      }
    }
    writeStats(spark, path, stagedDir)
    val hasData = keepFiles.nonEmpty
    head(spark, path) match {
      case None =>
        // First write to a fresh path: create at version 0 (the staged
        // dir IS the v0 group). Partitioned DDL tables already exist
        // (the catalog's createTable commits v0).
        writeCommit(spark, path, Commit(0L, "create", Seq(stagedDir), None,
          txns = txn.toMap, meta = Some(EmptyMeta)))
        0L
      case Some(st) =>
        val (prev, c, m) = (st.version, st.commit, st.meta)
        val v = prev + 1
        val parts = m.partitionBy
        mode match {
          case Append =>
            // A blind append like append(); a replayed txn is a lost race.
            return commitBlindAppend(spark, path, st, if (hasData) Seq(stagedDir) else Nil, txn)
              .getOrElse(throw new CommitRaceLostException(
                s"txn ${txn.get} is already committed to $path"))
          case Overwrite =>
            val cdc = writeCdc(spark, path, m, v, read(spark, path, st),
              readDirs(spark, path, m, Seq(stagedDir)))
            commitOver(spark, path, st, Commit(v, "overwrite", Seq(stagedDir), cdc), txn)
          case ReplaceWhere(pred) =>
            val (touched, untouched) = splitDirs(spark, path, m, c.dirs,
              predicateBounds(spark, tableSchema(spark, path, st), pred))
            val old =
              if (touched.isEmpty) read(spark, path, st).limit(0)
              else readDirsLive(spark, path, m, touched, prev)
            val rewritten =
              if (touched.isEmpty) None
              else Some(writeGroup(spark, path, st,
                old.where(!coalesce(pred, lit(false))), parts))
            val cdc = writeCdc(spark, path, m, v, old,
              readDirs(spark, path, m, rewritten.toSeq :+ stagedDir))
            commitOver(spark, path, st,
              Commit(v, "replace", (untouched ++ rewritten) :+ stagedDir, cdc), txn)
          case DynamicPartitions =>
            require(parts.nonEmpty,
              "dynamic partition overwrite requires a partitioned table")
            val replaced = partitionLeaves(spark, Seq(stagedPath.toString), parts)
              .map(_._1).toSet
            val tableQ = fs.makeQualified(new Path(path)).toString
            def rel(p: Path): String = p.toString.stripPrefix(tableQ + "/")
            val keepDirs = Seq.newBuilder[String]
            val droppedLeaves = Seq.newBuilder[String]
            c.dirs.foreach { entry =>
              val leaves = partitionLeaves(spark,
                Seq(new Path(path, entry).toString), parts)
              val (drop, keepL) = leaves.partition { case (values, _) => replaced(values) }
              if (drop.isEmpty) keepDirs += entry
              else {
                keepL.foreach { case (_, leaf) => keepDirs += rel(leaf) }
                droppedLeaves ++= drop.map { case (_, leaf) => rel(leaf) }
              }
            }
            val ds = droppedLeaves.result()
            val cdc = writeCdc(spark, path, m, v,
              if (ds.isEmpty) read(spark, path, st).limit(0)
              else readDirsLive(spark, path, m, ds, prev),
              readDirs(spark, path, m, Seq(stagedDir)))
            commitOver(spark, path, st,
              Commit(v, "replace", keepDirs.result() :+ stagedDir, cdc), txn)
        }
        v
    }
  }

  /** TIMESTAMP AS OF resolution: the newest version whose commit time
    * is ≤ `tsMillis` (None = the table didn't exist yet). Commits
    * record wall-clock publish time; the walk is newest-first so the
    * common "recent timestamp" case reads O(1) commits (an ancient
    * timestamp walks the retained log — bounded by vacuum retention).
    */
  def versionAt(spark: SparkSession, path: String, tsMillis: Long, head: Long): Option[Long] = {
    var v = head
    while (v >= 0) {
      val ok = try readCommit(spark, path, v).ts <= tsMillis
      catch { case _: java.io.FileNotFoundException => return None } // vacuumed past
      if (ok) return Some(v)
      v -= 1
    }
    None
  }

  /** Snapshot read; `version` selects an older snapshot (time travel).
    * Its schema is the merge of the groups' footer schemas, so
    * per-group schema evolution (add-column) reads through.
    * Deletion vectors recorded at or before the snapshot (B46
    * merge-on-read) are applied; rewritten groups shed theirs by dir
    * rename, older snapshots read pre-delete state by version.
    */
  def read(spark: SparkSession, path: String, version: Option[Long] = None): DataFrame =
    read(spark, path, snapshot(spark, path, version))

  /** The snapshot of `st`, the state the calling verb resolved. */
  private[graft] def read(spark: SparkSession, path: String, st: State): DataFrame =
    readDirsDv(spark, path, st.meta, st.commit.dirs,
      dvFor(spark, path, st.version, st.commit.dirs), withPos = false)

  // ---- deletion vectors (merge-on-read DELETE, B46) -----------------

  private def dvDirPath(path: String) = new Path(path, "_dv")

  /** Parse a DV file name `v<version>-<uuid8>-<group>.dv` →
    * (version, group). The uuid makes racing writers' files distinct;
    * only the name the PUBLISHED commit references counts.
    */
  private def parseDvName(n: String): Option[(Long, String)] = {
    if (!n.startsWith("v") || !n.endsWith(".dv")) return None
    val core = n.stripSuffix(".dv")
    val c1 = core.indexOf('-')
    if (c1 < 2) return None
    val c2 = core.indexOf('-', c1 + 1)
    if (c2 < 0) return None
    scala.util.Try((core.substring(1, c1).toLong, core.substring(c2 + 1))).toOption
  }

  /** Resolved DV state per group at `version`: group root →
    * (publishing file name, file_path → roaring blob). DVs are
    * CUMULATIVE per (version, group), so one file per group resolves
    * the state; a candidate only counts if the commit of its version
    * actually references it (an orphan from a lost commit race never
    * applies). One listing + one commit read per DV'd group-version.
    */
  private def dvResolve(spark: SparkSession, path: String, version: Long,
      dirs: Seq[String]): Map[String, (String, Map[String, Array[Byte]])] = {
    val d = dvDirPath(path)
    val fs = fsOf(spark, d)
    if (!fs.exists(d)) return Map.empty
    val groups = dirs.map(groupKey).toSet
    // Verification: a candidate applies iff the commit of its version
    // references it. A VACUUMED commit (file gone) accepts its
    // survivors — vacuum already removed every unreferenced orphan, so
    // what remains below the horizon is exactly the resolved state.
    val commitDv = scala.collection.mutable.Map.empty[Long, Option[Set[String]]]
    def referenced(v: Long): Option[Set[String]] = commitDv.getOrElseUpdate(v,
      readCommitOpt(spark, path, v).map(_.dvFiles.toSet))
    fs.listStatus(d).map(_.getPath.getName)
      .flatMap(n => parseDvName(n).map { case (v, g) => (v, g, n) })
      .filter { case (v, g, _) => v <= version && groups(g) }
      .groupBy(_._2)
      .flatMap { case (g, cands) =>
        cands.sortBy(-_._1).collectFirst {
          case (v, _, n) if referenced(v).forall(_.contains(n)) =>
            g -> (n, readDvFile(spark, path, n))
        }
      }
  }

  /** [[dvResolve]] without the file names — the read-path view. */
  private[graft] def dvFor(spark: SparkSession, path: String, version: Long,
      dirs: Seq[String]): Map[String, Map[String, Array[Byte]]] =
    dvResolve(spark, path, version, dirs).map { case (g, (_, m)) => g -> m }

  private def readDvFile(spark: SparkSession, path: String,
      name: String): Map[String, Array[Byte]] = {
    val p = new Path(dvDirPath(path), name)
    val in = new java.io.DataInputStream(fsOf(spark, p).open(p))
    try {
      val n = in.readInt()
      (0 until n).map { _ =>
        val f = in.readUTF()
        val bytes = new Array[Byte](in.readInt())
        in.readFully(bytes)
        f -> bytes
      }.toMap
    } finally in.close()
  }

  /** Write one group's cumulative DV under a UNIQUE name (racing
    * writers never clobber each other); returns the name for the
    * commit to reference — only referenced files ever apply.
    * Conf-parameterized so EXECUTOR tasks can call it (the
    * distributed MOR tail ships the session conf by broadcast).
    */
  private def writeDvFileWith(conf: org.apache.hadoop.conf.Configuration,
      path: String, v: Long, group: String,
      files: Map[String, Array[Byte]]): String = {
    val name = f"v$v%05d-${java.util.UUID.randomUUID.toString.take(8)}-$group.dv"
    val p = new Path(dvDirPath(path), name)
    val out = new java.io.DataOutputStream(p.getFileSystem(conf).create(p, true))
    try {
      out.writeInt(files.size)
      files.foreach { case (f, bytes) =>
        out.writeUTF(f)
        out.writeInt(bytes.length)
        out.write(bytes)
      }
    } finally out.close()
    name
  }

  private def writeDvFile(spark: SparkSession, path: String, v: Long, group: String,
      files: Map[String, Array[Byte]]): String =
    writeDvFileWith(spark.sparkContext.hadoopConfiguration, path, v, group, files)

  /** Merge-on-read DELETE (the Delta/Iceberg-v3 deletion-vector
    * capability): matching rows are marked in per-file roaring bitmaps
    * keyed by parquet `_metadata` (file_path, row_index) — NO data
    * file is rewritten, the commit re-references every existing dir,
    * and write cost tracks the DELETED row count, not the touched
    * file-group size (the point-delete shape COW pays a group rewrite
    * for). Reads apply the vectors at scan time; `compact` purges them
    * back to the fast path; time travel before the delete sees the
    * rows; the CDC feed gets real delete records (the matched rows are
    * in hand). DVs accumulate per group: each delete writes the UNION
    * of prior and new marks, so readers resolve one DV file per group.
    */
  def deleteMor(spark: SparkSession, path: String, predicate: org.apache.spark.sql.Column): Long = {
    val st = state(spark, path)
    val (prev, c) = (st.version, st.commit)
    val v = prev + 1
    val dv0 = dvFor(spark, path, prev, c.dirs)
    val live = readDirsDv(spark, path, st.meta, c.dirs, dv0, withPos = true)
    if (!live.columns.contains("__file")) { // empty DDL table: no files
      commitOver(spark, path, st, Commit(v, "delete-mor", c.dirs))
      return v
    }
    val matched = live.where(predicate)
    val marks = matched.groupBy(col("__file"))
      .agg(graft.functions.Bitmaps.bitmapBuild(col("__pos")).as("bm"))
      .toDF("__file", "bm")
    val dvNames = mergeAndWriteDv(spark, path, v, c.dirs, dv0, marks)
    if (dvNames.isEmpty) { // nothing matched: pure metadata commit
      commitOver(spark, path, st, Commit(v, "delete-mor", c.dirs))
      return v
    }
    val rows = matched.drop("__file", "__pos")
    val cdc = writeCdc(spark, path, st.meta, v, rows, rows.limit(0))
    commitOver(spark, path, st, Commit(v, "delete-mor", c.dirs, cdc, dvFiles = dvNames))
    v
  }

  /** Delta RESTORE: roll the table back to `toVersion`'s state as a
    * NEW commit re-referencing that snapshot's dirs — O(1) in data
    * size, history preserved (the rolled-back versions stay
    * time-travelable until vacuum). Deletion-vector state pins by
    * REWRITING toVersion's per-group vector state under the new
    * version — an EMPTY vector file masks interim vectors for groups
    * that had none at toVersion. CDC (if enabled) records the full
    * state diff, the Delta-CDF restore contract.
    */
  def restore(spark: SparkSession, path: String, toVersion: Long): Long = {
    val st = state(spark, path)
    val cur = st.version
    require(toVersion <= cur, s"cannot restore $path to future version $toVersion (current $cur)")
    val old = readCommit(spark, path, toVersion)
    val v = cur + 1
    val restoredGroups = old.dirs.map(groupKey).toSet
    val stateAtTo = dvResolve(spark, path, toVersion, old.dirs)
    // groups of the restored snapshot with ANY vector file ≤ cur need
    // pinning (interim MOR deletes would otherwise leak into v)
    val d = dvDirPath(path)
    val fs = fsOf(spark, d)
    val groupsWithAny =
      if (!fs.exists(d)) Set.empty[String]
      else fs.listStatus(d).map(_.getPath.getName)
        .flatMap(parseDvName).filter(_._1 <= cur).map(_._2).toSet
        .intersect(restoredGroups)
    val dvNames = groupsWithAny.toSeq.sorted.map { g =>
      writeDvFile(spark, path, v, g,
        stateAtTo.get(g).map(_._2).getOrElse(Map.empty))
    }
    // The commit carries the HEAD's meta, tags and CDC key included: a
    // restore rolls data back, never a DDL made since.
    val cdc = writeCdc(spark, path, st.meta, v, read(spark, path, st),
      read(spark, path, at(spark, path, st, toVersion)))
    commitOver(spark, path, st, Commit(v, "restore", old.dirs, cdc, dvFiles = dvNames))
    v
  }

  // ---- named tags (Iceberg tags: human-readable snapshot pins) ------

  /** Pin `name` to `version` (the Iceberg tag): `VERSION AS OF 'name'`
    * resolves through it. One meta commit; the version must exist at
    * tag time. Vacuum does NOT consult tags (retention-advisory like
    * Delta names nothing — pin retention accordingly).
    */
  def setTag(spark: SparkSession, path: String, name: String, version: Long): TableMeta = {
    require(name.nonEmpty && !name.forall(_.isDigit),
      s"tag '$name' must be non-numeric (numeric strings resolve as versions)")
    val base = state(spark, path)
    readCommit(spark, path, version) // existence check, throws if absent
    updateMeta(spark, path, base, (_, m) => m.copy(tags = m.tags + (name -> version)),
      rederive = true)
  }

  /** Drop tag `name`: one meta commit, none when it does not exist. */
  def dropTag(spark: SparkSession, path: String, name: String): TableMeta = {
    val base = state(spark, path)
    if (!base.meta.tags.contains(name)) base.meta
    else updateMeta(spark, path, base, (_, m) => m.copy(tags = m.tags - name), rederive = true)
  }

  /** Resolve a version STRING: all digits = the version itself,
    * anything else = a tag name.
    */
  def resolveVersion(spark: SparkSession, path: String, spec: String, head: State): Long =
    if (spec.isEmpty || !spec.forall(_.isDigit))
      head.meta.tags.getOrElse(spec,
        throw new IllegalArgumentException(s"no tag '$spec' on $path"))
    else spec.toLongOption.getOrElse(throw new IllegalArgumentException(
      s"version '$spec' of $path is past ${Long.MaxValue}"))

  /** Shared MOR tail, fully distributed: the per-file mark bitmaps
    * stay in `marks` (columns `__file`, `bm`) — tasks group them by
    * file-group, union each group's new marks into its prior
    * cumulative DV (broadcast; the read path already materialized it
    * for the vector filter) and write that group's DV file from the
    * EXECUTOR; the driver collects only the written NAMES (the
    * bloom-build shape). Driver memory no longer scales with
    * touched-file count, so a broad DELETE over 10⁶ files collects
    * 10⁶ short strings, not 10⁶ bitmap blobs. Returns the names for
    * the commit to reference; empty = no row matched.
    */
  private def mergeAndWriteDv(spark: SparkSession, path: String, v: Long,
      dirs: Seq[String], dv0: Map[String, Map[String, Array[Byte]]],
      marks: DataFrame): Seq[String] = {
    import org.apache.spark.sql.graftglue.Glue
    val roots = dirs.map(groupKey).distinct
    val confBc = Glue.broadcastConf(spark.sparkContext, Glue.sessionHadoopConf(spark))
    val dv0Bc = spark.sparkContext.broadcast(dv0)
    val pathStr = path
    val vv = v
    marks.select(col("__file").cast("string"), col("bm")).rdd
      .map { r =>
        val f = r.getString(0)
        val g = roots.find(g => f.contains(s"/$g/")).getOrElse(
          throw new IllegalStateException(
            s"matched file $f is under no group of v${vv - 1}"))
        (g, (f, r.getAs[Array[Byte]](1)))
      }
      // One task per touched group: a group's DV file is one writer's
      // output by construction, and its size is bounded by that
      // group's file count — the same bound the file itself has.
      .groupByKey(math.max(1,
        math.min(roots.size, spark.sparkContext.defaultParallelism)))
      .map { case (g, files) =>
        val prevFiles = dv0Bc.value.getOrElse(g, Map.empty)
        val newFiles = files.toMap
        val merged = (prevFiles.keySet ++ newFiles.keySet).map { f =>
          val bm = new org.roaringbitmap.longlong.Roaring64Bitmap
          prevFiles.get(f).foreach(b => bm.or(graft.plans.BitmapCodec.deser(b)))
          newFiles.get(f).foreach(b => bm.or(graft.plans.BitmapCodec.deser(b)))
          f -> graft.plans.BitmapCodec.ser(bm)
        }.toMap
        writeDvFileWith(Glue.confOf(confBc), pathStr, vv, g, merged)
      }.collect().toSeq
  }

  /** Merge-on-read UPDATE: the matched rows' OLD positions are marked
    * in deletion vectors (no group rewrite) and their NEW images land
    * as one appended group — a single atomic commit referencing every
    * old dir plus the update group. Write cost ∝ updated rows; CHECK
    * constraints guard the new images through the writeGroup funnel;
    * CDC gets preimage/postimage update pairs from the rows in hand.
    */
  def updateMor(spark: SparkSession, path: String,
      predicate: org.apache.spark.sql.Column,
      assignments: Map[String, org.apache.spark.sql.Column]): Long = {
    val st = state(spark, path)
    val (prev, c, m) = (st.version, st.commit, st.meta)
    val v = prev + 1
    val dv0 = dvFor(spark, path, prev, c.dirs)
    val live = readDirsDv(spark, path, m, c.dirs, dv0, withPos = true)
    if (!live.columns.contains("__file")) {
      commitOver(spark, path, st, Commit(v, "update-mor", c.dirs))
      return v
    }
    val matched = live.where(predicate)
    val marks = matched.groupBy(col("__file"))
      .agg(graft.functions.Bitmaps.bitmapBuild(col("__pos")).as("bm"))
      .toDF("__file", "bm")
    val dvNames = mergeAndWriteDv(spark, path, v, c.dirs, dv0, marks)
    if (dvNames.isEmpty) {
      commitOver(spark, path, st, Commit(v, "update-mor", c.dirs))
      return v
    }
    val oldRows = matched.drop("__file", "__pos")
    val newRows = assignments.foldLeft(oldRows) { case (acc, (cn, e)) =>
      acc.withColumn(cn, e)
    }
    val dir = writeGroup(spark, path, st, newRows, m.partitionBy)
    val cdc = writeCdc(spark, path, m, v, oldRows, newRows)
    commitOver(spark, path, st, Commit(v, "update-mor", c.dirs :+ dir, cdc, dvFiles = dvNames))
    v
  }

  /** Change data feed between two snapshots (the Delta-CDF / Iceberg
    * changelog capability): diff the keyed rows of `fromVersion` and
    * `toVersion` into insert/update/delete records. Row identity is
    * `key`; change detection is an 8-byte xxhash over the (sorted)
    * columns, so the full-outer join shuffles each side once on the
    * key carrying only (key, hash) plus the output columns — never a
    * quadratic compare. Inserts/updates carry the NEW row values,
    * deletes the OLD — the standard CDC contract a downstream
    * incremental consumer needs.
    */
  def changes(spark: SparkSession, path: String, key: String,
      fromVersion: Long, toVersion: Long): DataFrame =
    changes(spark, path, key, fromVersion, toVersion, preimages = false)

  /** As [[changes]]; with `preimages = true` updates emit TWO records
    * — `update_preimage` (old values) and `update_postimage` (new) —
    * the Delta-CDF contract that makes the feed ALGEBRAICALLY
    * consumable: a downstream aggregate refreshes by subtracting
    * preimage/delete contributions and adding postimage/insert ones,
    * no base rescan. Single pass: the per-row record set is built as
    * an array and exploded, so the diff join never re-executes.
    */
  def changes(spark: SparkSession, path: String, key: String,
      fromVersion: Long, toVersion: Long, preimages: Boolean): DataFrame = {
    val h = state(spark, path)
    diffFrames(read(spark, path, at(spark, path, h, fromVersion)),
      read(spark, path, at(spark, path, h, toVersion)), key, preimages)
  }

  /** Keyed diff of two row sets — the core of [[changes]], also used
    * by CDC-on-write to diff only the touched file groups of a DML
    * commit (untouched groups are common to both snapshots and cancel
    * out of the full-outer join by construction).
    *
    * Row identity contract: `key` must be UNIQUE per side. The join is
    * null-safe (`<=>`), so a single NULL-keyed row diffs like any
    * other key value instead of surfacing as a spurious delete+insert
    * pair; side presence is tracked with explicit marker columns, not
    * key nullness. Change detection compares one xxhash64 over the
    * data columns — a 64-bit old/new collision (P ≈ 2⁻⁶⁴ per updated
    * row) would silently drop that update; widen to two seeded hashes
    * if feeding a ledger where that is unacceptable.
    */
  private def diffFrames(oldDf: DataFrame, newDf: DataFrame, key: String,
      preimages: Boolean): DataFrame = {
    // union of both schemas, key first, stable order
    val dataCols = (oldDf.columns ++ newDf.columns).distinct.filter(_ != key).sorted
    def hashed(df: DataFrame, tag: String) = {
      val have = df.columns.toSet
      val aligned = df.select(col(key).as(s"${tag}_k") +: lit(1).as(s"${tag}_present") +:
        dataCols.map(c => (if (have(c)) col(c) else lit(null)).as(s"${tag}_$c")): _*)
      // a key-only table has no data to hash: only inserts and deletes
      aligned.withColumn(s"${tag}_h",
        if (dataCols.isEmpty) lit(0L) else xxhash64(dataCols.map(c => col(s"${tag}_$c")): _*))
    }
    val o = hashed(oldDf, "o")
    val n = hashed(newDf, "n")
    val j = n.join(o, n("n_k") <=> o("o_k"), "full")
    val changeType = when(col("o_present").isNull, "insert")
      .when(col("n_present").isNull, "delete")
      .when(col("n_h") =!= col("o_h"), "update")
    val flagged = j.withColumn("change_type", changeType)
      .where(col("change_type").isNotNull)
    if (!preimages) {
      // Not coalesce(new, old): an update that sets a column to NULL
      // must surface that NULL, not resurrect the old value.
      flagged.select(col("change_type") +:
        coalesce(col("n_k"), col("o_k")).as(key) +:
        dataCols.map(c =>
          when(col("change_type") === "delete", col(s"o_$c"))
            .otherwise(col(s"n_$c")).as(c)): _*)
    } else {
      // One record-struct per emitted row, exploded — updates yield
      // [preimage, postimage] without re-executing the diff join.
      def rec(tag: String, side: String) = struct(
        lit(tag).as("change_type") +: dataCols.map(c => col(s"${side}_$c").as(c)): _*)
      flagged
        .withColumn("recs",
          when(col("change_type") === "insert", array(rec("insert", "n")))
            .when(col("change_type") === "delete", array(rec("delete", "o")))
            .otherwise(array(rec("update_preimage", "o"), rec("update_postimage", "n"))))
        .select(coalesce(col("n_k"), col("o_k")).as(key), explode(col("recs")).as("r"))
        .select(col("r.change_type").as("change_type") +: col(key) +:
          dataCols.map(c => col(s"r.$c").as(c)): _*)
    }
  }

  // ---- change data feed on write (Delta-CDF-style change files) ------
  //
  // changes() computes a diff JOIN per read — fine ad hoc, wrong as the
  // consumption path at scale. With CDC enabled, every mutating commit
  // MATERIALIZES its change records (insert/delete/update_preimage/
  // update_postimage + _commit_version) into `_cdc/<dir>`, published
  // atomically via the commit's "cdc" field. The records are computed
  // from only the TOUCHED file groups (untouched groups are identical
  // on both sides of a diff and cancel out), so the write amplification
  // tracks the mutation size, and reading the feed — batch or streaming
  // — is a pure parquet scan with version offsets, never a join.

  /** Turn the change feed ON for a single-column row identity `key`
    * (same contract as [[changes]]): one meta commit, after which
    * append/merge/delete/update/agg-merge commits write change files;
    * layout rewrites (compact/cluster) and pruned no-ops correctly
    * publish none. Consume with [[readChangeFeed]] or
    * `readStream.format("graft").option("readChangeFeed","true")`.
    */
  def enableCdc(spark: SparkSession, path: String, key: String): TableMeta = {
    val base = state(spark, path)
    updateMeta(spark, path, base, (_, m) => m.copy(cdcKey = Some(key)), rederive = true)
  }

  /** Feed schema of `st`: change_type, key, data columns (sorted),
    * _commit_version.
    */
  def cdcSchema(spark: SparkSession, path: String,
      st: State): org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val key = st.meta.cdcKey.getOrElse(
      throw new IllegalStateException(s"CDC not enabled on $path (LakeTable.enableCdc)"))
    val s = tableSchema(spark, path, st)
    val keyField = s.fields.find(_.name == key).getOrElse(
      throw new IllegalStateException(s"CDC key $key not in table schema of $path"))
    StructType(
      StructField("change_type", StringType) +: keyField.copy(nullable = true) +:
        (s.fields.filter(_.name != key).sortBy(_.name).map(_.copy(nullable = true)).toSeq :+
          StructField("_commit_version", LongType)))
  }

  /** Materialize commit `v`'s change records — the keyed diff of
    * `oldRows` → `newRows` under `m`'s CDC key — and return the cdc dir
    * name (unique suffix — racers stage distinct dirs, the commit
    * decides); None, computing nothing, when the feed is off.
    */
  private def writeCdc(spark: SparkSession, path: String, m: TableMeta, v: Long,
      oldRows: => DataFrame, newRows: => DataFrame): Option[String] =
    m.cdcKey.map { k =>
      val dir = s"d$v-${java.util.UUID.randomUUID.toString.take(8)}"
      diffFrames(oldRows, newRows, k, preimages = true).withColumn("_commit_version", lit(v))
        .write.mode("overwrite").parquet(new Path(new Path(path, "_cdc"), dir).toString)
      dir
    }

  /** One feed contribution: a change-file dir (synthetic=false) or an
    * append's data group standing in for its own insert records
    * (synthetic=true — reader adds change_type/_commit_version).
    */
  private[graft] final case class CdcSlice(version: Long, dirPath: String, synthetic: Boolean)

  private[graft] def cdcSlices(spark: SparkSession, path: String,
      fromExclusive: Long, toInclusive: Long): Seq[CdcSlice] =
    ((fromExclusive + 1) to toInclusive).flatMap { v =>
      // Versions below a clone's base (or vacuumed past) have no
      // commit file — they contributed no change records here. Any
      // OTHER read failure rethrows: silently skipping a readable-but-
      // erroring commit would drop its changes from the feed.
      readCommitOpt(spark, path, v)
        .flatMap(_.cdcDir).map { d =>
        if (d.startsWith("@"))
          CdcSlice(v, new Path(path, d.stripPrefix("@")).toString, synthetic = true)
        else CdcSlice(v, new Path(new Path(path, "_cdc"), d).toString, synthetic = false)
      }
    }

  /** Batch read of the change feed for versions in (fromExclusive,
    * toInclusive]: change files scan as-is; append groups scan ONCE
    * (vectorized, all dirs in one scan), each file's `_commit_version`
    * looked up by its group dir (`d<v>-<id>`) in the slices — no
    * per-append plan growth, no change-file duplication for inserts.
    */
  def readChangeFeed(spark: SparkSession, path: String,
      fromExclusive: Long = -1L, toInclusive: Long = Long.MinValue): DataFrame = {
    val st = state(spark, path)
    val hi = if (toInclusive == Long.MinValue) st.version else toInclusive
    val schema = cdcSchema(spark, path, st)
    val slices = cdcSlices(spark, path, fromExclusive, hi)
    val (synth, real) = slices.partition(_.synthetic)
    val parts = Seq.newBuilder[DataFrame]
    if (real.nonEmpty)
      parts += spark.read.schema(schema).parquet(real.map(_.dirPath): _*)
    if (synth.nonEmpty) {
      val dataCols = schema.fields.map(_.name)
        .filter(n => n != "change_type" && n != "_commit_version")
      val raw = spark.read
        .schema(org.apache.spark.sql.types.StructType(
          schema.fields.filter(f => dataCols.contains(f.name))))
        .parquet(synth.map(_.dirPath): _*)
      val versionOf = typedLit(synth.map(sl => new Path(sl.dirPath).getName -> sl.version).toMap)
      parts += raw
        .withColumn("change_type", lit("insert"))
        .withColumn("_commit_version", element_at(versionOf,
          regexp_extract(input_file_name(), ".*/(d\\d+-[0-9a-f]{8})/", 1)))
        .select(schema.fields.map(f => col(f.name)): _*)
    }
    parts.result().reduceOption(_.unionByName(_)).getOrElse {
      import scala.jdk.CollectionConverters._
      spark.createDataFrame(Seq.empty[org.apache.spark.sql.Row].asJava, schema)
    }
  }

  // ---- file-group-granular row-level DML -----------------------------
  //
  // MERGE/DELETE/UPDATE/agg-merge must not rewrite 100 TB to touch 0.1%
  // of rows. The commit format already supports multi-dir snapshots, so
  // each mutation (a) derives conjunctive column bounds for the rows it
  // can affect, (b) splits the snapshot's file groups into touched /
  // provably-untouched with the per-file stats sidecars, (c) rewrites
  // ONLY the touched groups into one new group, and (d) carries the
  // untouched dirs forward verbatim in the commit — the Delta/Iceberg
  // copy-on-write contract. Pruning is conservative: missing stats, a
  // partition-encoded layout, or an unextractable predicate mean
  // "touched"; skipping is an optimization, never a filter.

  /** Split a snapshot's dirs under conjunctive bounds: `untouched` =
    * every file's [min,max] provably misses the bounds on some column.
    */
  private def splitDirs(spark: SparkSession, path: String, m: TableMeta, dirs: Seq[String],
      bounds: Map[String, ColumnBounds]): (Seq[String], Seq[String]) = {
    if (bounds.isEmpty || bounds.values.forall(b => b.lo.isEmpty && b.hi.isEmpty))
      return (dirs, Nil)
    // Only the keep/empty DECISION is needed here, so partition-encoded
    // groups prune too: their `col=value` subdir names are exact bounds.
    // A partitioned group where only SOME partitions can match splits
    // into per-PARTITION entries — the commit carries the untouched
    // partition subdirs forward verbatim and only matching partitions
    // feed the rewrite (a DELETE on one partition of a 1000-partition
    // group moves 1/1000th of it).
    val (pruned, _) = pruneFilesByDir(spark, path, m.renames, dirs, bounds)
    val touched = Seq.newBuilder[String]; val untouched = Seq.newBuilder[String]
    pruned.foreach { pd =>
      if (!pd.files.exists(_.kept)) untouched += pd.dir
      else {
        val leaves = pd.files.groupBy(_.leaf)
        if (leaves.keySet == Set(pd.dir) || leaves.values.forall(_.exists(_.kept)))
          touched += pd.dir // flat group, or every partition matches
        else leaves.toSeq.sortBy(_._1).foreach { case (leaf, fs) =>
          if (fs.exists(_.kept)) touched += leaf else untouched += leaf
        }
      }
    }
    (touched.result(), untouched.result())
  }

  /** min/max of the mutation source's key columns — the bounds a keyed
    * MERGE can possibly touch. One tiny aggregate over the (small,
    * relative to the table) source; keys other than integral, floating
    * or string yield no bound and fall back to full rewrite — DECIMAL
    * included, since its sidecar stats are parquet's unscaled integers.
    */
  private def keyBounds(source: DataFrame, keys: Seq[String]): Map[String, ColumnBounds] = {
    val row = source.agg(
      min(col(keys.head)).as("l0"),
      (max(col(keys.head)).as("h0") +: keys.drop(1).zipWithIndex.flatMap { case (k, i) =>
        Seq(min(col(k)).as(s"l${i + 1}"), max(col(k)).as(s"h${i + 1}"))
      }): _*).head()
    keys.zipWithIndex.map { case (k, i) =>
      def side(v: Any): Option[Any] = v match {
        case null | _: java.math.BigDecimal => None
        case n: Number => Some(n)
        case s: String => Some(s)
        case _ => None
      }
      k -> ColumnBounds(side(row.get(2 * i)), side(row.get(2 * i + 1)))
    }.toMap
  }

  /** [[boundsOf]] a Column predicate, analyzed against a relation of
    * the snapshot `schema` (logical names; Spark's own resolution and
    * implicit casts) — no scan is planned.
    */
  private[graft] def predicateBounds(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      predicate: org.apache.spark.sql.Column): Map[String, ColumnBounds] = {
    import org.apache.spark.sql.graftglue.Glue
    boundsOf(Glue.analyzeCondition(spark, predicate, schema).condition)
  }

  /** The one predicate → file-bounds miner, over an ANALYZED Catalyst
    * condition: comparisons of a column with a foldable value in either
    * order, `<=>`, IN and InSet. AND tightens; OR keeps the sound
    * ENVELOPE of a column bounded on both branches (a column bounded
    * on one branch only is free — rows of the other branch may hold
    * any value), which is what lets an OR of partition tuples (dynamic
    * partition overwrite, IN-tuple deletes) still prune. A column
    * reached through a cast counts only for an EXACT widening —
    * integral to a wider integral, float to double — under which the
    * bound means the same value on the column: a datetime cast shifts
    * units or zones, and an integral → floating one rounds past 2^53
    * (why Spark leaves it unwrapped), so neither bounds. A DECIMAL
    * column never bounds: its sidecar stats are parquet's unscaled
    * integers. Numbers compare exactly, strings only under the default
    * (binary) collation. Any other shape contributes nothing —
    * skipping is an optimization, never a filter.
    */
  private[graft] def boundsOf(cond: org.apache.spark.sql.catalyst.expressions.Expression)
      : Map[String, ColumnBounds] = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.types._
    def exactWidening(from: DataType, to: DataType): Boolean = (from, to) match {
      case (ByteType | ShortType | IntegerType | LongType, ByteType | ShortType | IntegerType |
          LongType) => from.defaultSize <= to.defaultSize
      case (FloatType, DoubleType) => true
      case _ => false
    }
    def nameOf(e: Expression): Option[String] = e match {
      case a: AttributeReference if !a.dataType.isInstanceOf[DecimalType] => Some(a.name)
      case c: Cast if exactWidening(c.child.dataType, c.dataType) => nameOf(c.child)
      case _ => None
    }
    def valueOf(v: Any, dt: DataType): Option[Any] = (v, dt) match {
      case (s: org.apache.spark.unsafe.types.UTF8String, StringType) => Some(s.toString)
      case (n: Number, _) => Some(n) // a Catalyst Decimal is not a Number
      case _ => None
    }
    def folded(e: Expression): Option[Any] =
      if (e.foldable) valueOf(e.eval(), e.dataType) else None
    def order(x: Any, y: Any): Option[Int] = (x, y) match {
      case (p: Number, q: Number) => Some(cmpNumbers(p, q))
      case (p: String, q: String) => Some(p.compareTo(q))
      case _ => None
    }
    // Conjunction: either bound alone is a sound SUPERSET of the
    // matching range; keep the tighter one.
    def tighter(a: ColumnBounds, b: ColumnBounds): ColumnBounds = {
      def pick(x: Option[Any], y: Option[Any], wantMax: Boolean): Option[Any] = (x, y) match {
        case (Some(p), Some(q)) => order(p, q).fold(x)(c => if ((c > 0) == wantMax) x else y)
        case _ => x.orElse(y)
      }
      ColumnBounds(pick(a.lo, b.lo, wantMax = true), pick(a.hi, b.hi, wantMax = false))
    }
    // Disjunction: the envelope [min(lo), max(hi)], unbounded on a side
    // either branch leaves open.
    def wider(a: ColumnBounds, b: ColumnBounds): ColumnBounds = {
      def pick(x: Option[Any], y: Option[Any], wantMax: Boolean): Option[Any] = (x, y) match {
        case (Some(p), Some(q)) => order(p, q).map(c => if ((c > 0) == wantMax) p else q)
        case _ => None
      }
      ColumnBounds(pick(a.lo, b.lo, wantMax = false), pick(a.hi, b.hi, wantMax = true))
    }
    def bounded(m: Map[String, ColumnBounds]) =
      m.filter { case (_, b) => b.lo.nonEmpty || b.hi.nonEmpty }
    val point = (n: String, v: Any) => Map(n -> ColumnBounds(Some(v), Some(v)))
    val lower = (n: String, v: Any) => Map(n -> ColumnBounds(Some(v), None))
    val upper = (n: String, v: Any) => Map(n -> ColumnBounds(None, Some(v)))
    // attr-op-value, then value-op-attr with the bound flipped
    def cmp(l: Expression, r: Expression, attrLeft: (String, Any) => Map[String, ColumnBounds],
        attrRight: (String, Any) => Map[String, ColumnBounds]): Map[String, ColumnBounds] =
      (for (n <- nameOf(l); v <- folded(r)) yield attrLeft(n, v))
        .orElse(for (n <- nameOf(r); v <- folded(l)) yield attrRight(n, v))
        .getOrElse(Map.empty)
    def anyOf(a: Expression, vs: Seq[Option[Any]]): Map[String, ColumnBounds] =
      if (vs.isEmpty || vs.exists(_.isEmpty)) Map.empty
      else nameOf(a).fold(Map.empty[String, ColumnBounds]) { n =>
        bounded(Map(n -> vs.flatten.map(v => ColumnBounds(Some(v), Some(v))).reduce(wider)))
      }
    def walk(e: Expression): Map[String, ColumnBounds] = e match {
      case And(l, r) =>
        val (bl, br) = (walk(l), walk(r))
        (bl.keySet ++ br.keySet).iterator.map { k =>
          k -> ((bl.get(k), br.get(k)) match {
            case (Some(a), Some(b)) => tighter(a, b)
            case (a, b) => a.orElse(b).get
          })
        }.toMap
      case Or(l, r) =>
        val (bl, br) = (walk(l), walk(r))
        bounded(bl.keySet.intersect(br.keySet).iterator.map(k => k -> wider(bl(k), br(k))).toMap)
      case EqualTo(a, b) => cmp(a, b, point, point)
      case EqualNullSafe(a, b) => cmp(a, b, point, point)
      case GreaterThan(a, b) => cmp(a, b, lower, upper)
      case GreaterThanOrEqual(a, b) => cmp(a, b, lower, upper)
      case LessThan(a, b) => cmp(a, b, upper, lower)
      case LessThanOrEqual(a, b) => cmp(a, b, upper, lower)
      case In(a, vs) => anyOf(a, vs.map(folded))
      case InSet(a, hset) => anyOf(a, hset.toSeq.map(valueOf(_, a.dataType)))
      case _ => Map.empty
    }
    walk(cond)
  }

  /** Snapshot-subset read under the merge of the groups' footer
    * schemas ([[groupSchemas]]), passed to the reader so no inference
    * runs. A flat snapshot reads as one scan, a clean partitioned one
    * as one explicit-spec scan; otherwise each group reads under its
    * own `basePath` and the groups union by name (schema evolution via
    * allowMissingColumns). Empty groups (a schema-only create)
    * contribute nothing.
    */
  private def readDirs(spark: SparkSession, path: String, m: TableMeta,
      dirs: Seq[String]): DataFrame =
    readDirsDv(spark, path, m, dirs, Map.empty, withPos = false)

  /** Touched-group read with the snapshot's deletion vectors applied.
    * EVERY copy-on-write rewrite source must read LIVE rows — a plain
    * readDirs would resurrect vectored-out rows into the rewrite.
    */
  private def readDirsLive(spark: SparkSession, path: String, m: TableMeta, dirs: Seq[String],
      version: Long): DataFrame =
    readDirsDv(spark, path, m, dirs, dvFor(spark, path, version, dirs), withPos = false)

  /** [[readDirs]] with deletion-vector application (B46) and optional
    * file/row-position columns. DVs and positions both ride on the
    * parquet `_metadata` struct, which only exists per SCAN — so the
    * select happens on each source frame BEFORE any union. `dv` maps
    * group root → (file_path → bitmap blob); frames whose groups carry
    * no DV skip the metadata projection entirely (zero overhead for
    * the common non-MOR table).
    */
  private def readDirsDv(spark: SparkSession, path: String, m: TableMeta, dirs: Seq[String],
      dv: Map[String, Map[String, Array[Byte]]], withPos: Boolean,
      kept: Option[Map[String, Seq[String]]] = None): DataFrame = {
    // ONE broadcast of the full vector set per read plan (executors
    // fetch it once); every DV'd frame filter references the same
    // handle instead of shipping blobs inside each task's plan bytes.
    lazy val dvBc = spark.sparkContext.broadcast(dv.values.flatten.toMap)
    def finish(df: DataFrame, groups: Seq[String]): DataFrame = {
      val hasDv = groups.exists(g => dv.get(g).exists(_.nonEmpty))
      if (!hasDv && !withPos) df
      else {
        val metaed = df
          .withColumn("__file", col("_metadata.file_path"))
          .withColumn("__pos", col("_metadata.row_index"))
        val filtered =
          if (!hasDv) metaed
          else metaed.where(!org.apache.spark.sql.graftglue.Glue.column(
            graft.plans.DvDeleted(
              org.apache.spark.sql.graftglue.Glue.expression(col("__file")),
              org.apache.spark.sql.graftglue.Glue.expression(col("__pos")), dvBc)))
        if (withPos) filtered else filtered.drop("__file", "__pos")
      }
    }
    val groups = groupSchemas(spark, path, dirs)
    // No footer at all: a partitioned DDL create writes NO files
    // (partitionBy of an empty frame emits nothing), so an empty frame
    // of the recorded schema keeps first-write DML (MERGE-as-insert,
    // UPDATE no-op) working on the fresh table.
    if (groups.isEmpty) return m.schema match {
      case Some(sch) => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch)
      case None => throw new org.apache.spark.sql.AnalysisException(
        "UNABLE_TO_INFER_SCHEMA", Map("format" -> "Parquet"))
    }
    // The snapshot's file schema: its groups' footer schemas merged
    // (None on PHYSICAL type skew — a pre-normalization group stored
    // INT where later ones hold BIGINT — which the per-root union
    // below coerces instead: unionByName widens per Spark's type
    // coercion, so such a table stays READABLE and compaction rewrites
    // it clean. Writes normalize types in-stream now (writeGroup /
    // GraftWriteUtil.targetSchema), so skew is legacy data only).
    val merged = org.apache.spark.sql.graftglue.Glue.mergeSchemas(spark, groups.map(_._2.data))
    // What the entries read: their surviving files when `kept` carries
    // a pruneFilesByDir result ([[readKept]]), else the entry dirs of
    // groups that hold data (a schema-only create's dir is empty).
    val live = groups.map(_._1).toSet
    def sources(entries: Seq[String]): Seq[String] = kept match {
      case Some(files) => entries.flatMap(files)
      case None => entries.filter(e => live(groupRoot(e))).map(e => new Path(path, e).toString)
    }
    val mappings = m.mappings
    val flatEntries = dirs.forall(d => groupRoot(d) == d)
    if (flatEntries && m.partitionBy.isEmpty && !m.mixedLayouts && merged.isDefined) {
      // Single-scan fast path: a table with data at rename time is
      // marked mixed and routed below, so any chain here predates
      // every dir — the min version stands in for all of them.
      finish(applyMappings(spark.read.schema(merged.get).parquet(sources(dirs): _*), mappings,
        dirs.map(groupVersionOf).min),
        dirs.map(groupKey))
    } else {
      // Partitioned (or subdir-entry) layout. CLEAN snapshots (no
      // deletion vectors, no mapping chain, no position columns) read
      // as ONE explicit-PartitionSpec scan spanning every group — the
      // same single-relation shape the catalog SQL path serves — so
      // the plan does NOT grow with the number of appends between
      // compactions (one scan node at 200 commits, where the per-root
      // union below pays one per group root). Partition column types
      // come from the meta-recorded schema (authoritative — the
      // catalog path's source), never re-inferred from path strings.
      val partCols = m.partitionBy
      val recorded = m.schema.filter(s => partCols.forall(s.fieldNames.contains))
      if (dv.isEmpty && !withPos && mappings.isEmpty && partCols.nonEmpty && kept.isEmpty &&
          merged.isDefined && recorded.isDefined) {
        val leaves = partitionLeaves(spark,
          dirs.map(d => new Path(path, d).toString), partCols)
        val partSchema = org.apache.spark.sql.types.StructType(partCols.map(recorded.get(_)))
        org.apache.spark.sql.graftglue.Glue
          .partitionedParquetDataFrame(spark, leaves, partSchema, merged.get)
      } else readDirsUnion(spark, path, m, dirs, groups.toMap, sources, finish)
    }
  }

  /** Per-group-root union read: needed when rename mappings apply PER
    * ROOT (each group carries the physical names of its write time —
    * the union lines logical columns up by name), when DVs / position
    * columns ride the per-scan `_metadata` struct, when no meta schema
    * records the partition column types, for a pruned file subset, or
    * as the type-coercing fallback for physically type-skewed legacy
    * groups. `groups` holds the schema of every root with data and
    * `sources` names the paths a root's entries read. Plan size here
    * is the ROOT count; compaction collapses it to one.
    */
  private def readDirsUnion(spark: SparkSession, path: String, m: TableMeta,
      dirs: Seq[String], groups: Map[String, GroupSchema], sources: Seq[String] => Seq[String],
      finish: (DataFrame, Seq[String]) => DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{DataType, StructField, StructType}
    // Partition columns take the meta-recorded types, as the clean
    // explicit-spec read does: discovery from path strings would read
    // a STRING value `01` as the int 1. One not recorded keeps the type
    // discovery gives it.
    val recorded = m.schema.fold(Map.empty[String, DataType])(
      _.fields.map(f => f.name -> f.dataType).toMap)
    // A root's partition columns carry their write-time names; the
    // renames that apply to it (those applyMappings performs) lead to
    // the logical name the recorded schema types.
    def logicalName(root: String, physical: String): String =
      m.renames.foldLeft(physical) { (n, r) =>
        if (groupVersionOf(root) < r.stamp && r.old == n) r.to else n
      }
    def readRoot(root: String, paths: Seq[String]): DataFrame = {
      val g = groups(root)
      val typed = g.partCols.flatMap(c => recorded.get(logicalName(root, c)).map(StructField(c, _)))
      spark.read.schema(StructType(g.data.fields ++ typed))
        .option("basePath", new Path(path, root).toString).parquet(paths: _*)
    }
    val byRoot = dirs.groupBy(groupRoot).toSeq.sortBy(_._1)
    byRoot.flatMap { case (root, entries) =>
      val entryPaths = sources(entries)
      if (entryPaths.isEmpty) None
      else Some(finish(applyMappings(readRoot(root, entryPaths), m.mappings,
        groupVersionOf(root)), Seq(groupKey(root))))
    }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  /** MERGE INTO (copy-on-write upsert): rows of `source` replace
    * target rows with the same `key`; unmatched source rows insert.
    * One shuffle on the key (the anti join). File-group granular: only
    * groups whose key stats intersect the source's key range are
    * rewritten; all other dirs ride the commit forward untouched, so a
    * MERGE touching 0.1% of a 100 TB table rewrites ~0.1% of it.
    */
  def merge(spark: SparkSession, path: String, source: DataFrame, key: String): Long = {
    val st = state(spark, path)
    val (prev, c, m) = (st.version, st.commit, st.meta)
    val (touched, untouched) = splitDirs(spark, path, m, c.dirs, keyBounds(source, Seq(key)))
    // limit(0) base pins the full table schema even when no group is
    // touched (pure insert) or the source is missing columns.
    val target =
      if (touched.isEmpty) read(spark, path, st).limit(0)
      else readDirsLive(spark, path, m, touched, prev)
    val kept = target.join(source.select(key), Seq(key), "left_anti")
    val merged = kept.unionByName(source, allowMissingColumns = true)
    val v = prev + 1
    val dir = writeGroup(spark, path, st, merged, m.partitionBy)
    // CDC: diff only the touched groups against their rewrite —
    // untouched groups are on both sides of the snapshot diff and
    // produce no records, so the diff cost tracks the mutation size.
    val cdc = writeCdc(spark, path, m, v, target, readDirs(spark, path, m, Seq(dir)))
    commitOver(spark, path, st, Commit(v, "merge", untouched :+ dir, cdc))
    v
  }

  /** One WHEN clause of a generalized [[mergeInto]]. Conditions and
    * value expressions reference the target as `t.<col>` and the
    * source as `s.<col>` (the aliases mergeInto joins under).
    */
  sealed trait MergeClause { def condition: Option[org.apache.spark.sql.Column] }
  /** WHEN [NOT] MATCHED [AND cond] THEN UPDATE SET col = expr, ... */
  final case class MergeUpdate(condition: Option[org.apache.spark.sql.Column],
      set: Map[String, org.apache.spark.sql.Column]) extends MergeClause
  /** WHEN [NOT] MATCHED [AND cond] THEN DELETE */
  final case class MergeDelete(condition: Option[org.apache.spark.sql.Column])
      extends MergeClause
  /** WHEN NOT MATCHED [AND cond] THEN INSERT (col, ...) VALUES (expr, ...) —
    * unassigned target columns become NULL.
    */
  final case class MergeInsert(condition: Option[org.apache.spark.sql.Column],
      values: Map[String, org.apache.spark.sql.Column]) extends MergeClause

  /** Generalized MERGE INTO (the full SQL statement semantics):
    *
    * {{{
    *   MERGE INTO target t USING source s ON <condition>
    *   WHEN MATCHED [AND c] THEN UPDATE SET ... | DELETE
    *   WHEN NOT MATCHED [AND c] THEN INSERT ...
    *   WHEN NOT MATCHED BY SOURCE [AND c] THEN UPDATE SET ... | DELETE
    * }}}
    *
    * First matching clause per category wins (SQL semantics); a row
    * matched by no clause carries through unchanged (or, for unmatched
    * source rows, is not inserted). ONE full-outer join on the merge
    * condition is the whole data plan — at scale that is a single
    * shuffle on the equi-keys of the condition.
    *
    * File-group granular like [[merge]]: equi-conjuncts `t.k = s.k`
    * in the condition bound the target rows a source batch can match,
    * so only stats-intersecting groups rewrite — UNLESS a NOT MATCHED
    * BY SOURCE clause exists, which by definition touches every target
    * row. Ambiguity guard: when the condition has equi-keys and any
    * MATCHED clause exists, a source with duplicate key tuples throws
    * (one target row would take two conflicting actions) — same
    * contract as Delta's cardinality check.
    */
  def mergeInto(spark: SparkSession, path: String, source: DataFrame,
      condition: org.apache.spark.sql.Column,
      matched: Seq[MergeClause],
      notMatched: Seq[MergeInsert],
      notMatchedBySource: Seq[MergeClause] = Nil): Long = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{And => CAnd, EqualTo, Expression}
    import org.apache.spark.sql.graftglue.Glue
    require(matched.forall(!_.isInstanceOf[MergeInsert]),
      "WHEN MATCHED supports UPDATE/DELETE only")
    require(notMatchedBySource.forall(!_.isInstanceOf[MergeInsert]),
      "WHEN NOT MATCHED BY SOURCE supports UPDATE/DELETE only")
    val st = state(spark, path)
    val (prev, c, m) = (st.version, st.commit, st.meta)

    // Equi-key pairs (targetCol, sourceCol) mined from the condition's
    // conjuncts — they drive file-group pruning and the dup guard.
    def sideOf(e: Expression): Option[(String, String)] = e match {
      case u: UnresolvedAttribute if u.nameParts.length == 2 &&
          (u.nameParts.head == "t" || u.nameParts.head == "s") =>
        Some((u.nameParts.head, u.nameParts(1)))
      case _ => None
    }
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case CAnd(l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    val equiPairs = conjuncts(Glue.expression(condition)).flatMap {
      case EqualTo(a, b) => (sideOf(a), sideOf(b)) match {
        case (Some(("t", tc)), Some(("s", sc))) => Some((tc, sc))
        case (Some(("s", sc)), Some(("t", tc))) => Some((tc, sc))
        case _ => None
      }
      case _ => None
    }

    if (matched.nonEmpty && equiPairs.nonEmpty) {
      val dup = source.groupBy(equiPairs.map(p => col(p._2)): _*)
        .count().where(col("count") > 1).take(1)
      if (dup.nonEmpty) throw new IllegalStateException(
        "MERGE source has duplicate rows on the join key " +
          equiPairs.map(_._2).mkString("(", ",", ")") +
          " — a matched target row would take two conflicting actions")
    }

    // NOT MATCHED BY SOURCE reads every target row by definition.
    val bounds: Map[String, ColumnBounds] =
      if (notMatchedBySource.nonEmpty || equiPairs.isEmpty) Map.empty
      else keyBounds(source, equiPairs.map(_._2))
        .map { case (sc, b) => equiPairs.find(_._2 == sc).get._1 -> b }
    // splitDirs treats empty bounds as "everything touched" (sound).
    val (touched, untouched) = splitDirs(spark, path, m, c.dirs, bounds)

    val tSchema = tableSchema(spark, path, st)
    // DV-mode (B46): MERGE goes merge-on-read — affected target rows
    // are carried with their (file, position) so they can be vectored
    // out instead of rewriting their groups.
    val dvMode = m.dvMode
    val dv0 = if (dvMode) dvFor(spark, path, prev, c.dirs)
      else Map.empty[String, Map[String, Array[Byte]]]
    val targetRaw =
      if (touched.isEmpty) {
        val base = read(spark, path, st).limit(0)
        if (dvMode) base.withColumn("__file", lit(null).cast("string"))
          .withColumn("__pos", lit(null).cast("long"))
        else base
      }
      else if (dvMode) readDirsDv(spark, path, m, touched, dv0, withPos = true)
      else readDirsLive(spark, path, m, touched, prev)
    // Pin the full evolved schema (touched groups may predate an added
    // column) and add presence markers for the full-outer categories.
    val outNames = tSchema.fieldNames.toSeq ++
      (if (dvMode) Seq("__file", "__pos") else Nil)
    val targetFull = tSchema.fields.foldLeft(targetRaw) { (df, f) =>
      if (df.columns.contains(f.name)) df
      else df.withColumn(f.name, lit(null).cast(f.dataType))
    }.select(outNames.map(col): _*)
    val t = targetFull.withColumn("__graft_tp", lit(true)).alias("t")
    val s = source.withColumn("__graft_sp", lit(true)).alias("s")
    val joined = t.join(s, condition, "full_outer")
    val tPresent = col("t.__graft_tp").isNotNull
    val sPresent = col("s.__graft_sp").isNotNull

    // First-applicable-clause index per category (-1 = none applies).
    def firstMatch(clauses: Seq[MergeClause]): Column =
      clauses.zipWithIndex.foldRight(lit(-1)) { case ((cl, i), rest) =>
        when(cl.condition.map(coalesce(_, lit(false))).getOrElse(lit(true)),
          lit(i)).otherwise(rest)
      }
    def isDelete(clauses: Seq[MergeClause], act: Column): Column =
      clauses.zipWithIndex.collect { case (_: MergeDelete, i) => act === lit(i) }
        .reduceOption(_ || _).getOrElse(lit(false))
    val mAct = firstMatch(matched)
    val nmsAct = firstMatch(notMatchedBySource)
    val insAct = firstMatch(notMatched)

    val keep =
      when(tPresent && sPresent, !isDelete(matched, mAct))
        .when(tPresent && !sPresent, !isDelete(notMatchedBySource, nmsAct))
        .otherwise(insAct =!= lit(-1))

    def valueChain(clauses: Seq[MergeClause], act: Column, colName: String,
        default: Column): Column =
      clauses.zipWithIndex.foldRight(default) {
        case ((MergeUpdate(_, set), i), rest) if set.contains(colName) =>
          when(act === lit(i), set(colName)).otherwise(rest)
        case ((MergeInsert(_, vals), i), rest) =>
          when(act === lit(i), vals.getOrElse(colName, lit(null))).otherwise(rest)
        case (_, rest) => rest
      }
    val outCols = tSchema.fields.toSeq.map { f =>
      val tCol = col(s"t.${f.name}")
      when(tPresent && sPresent, valueChain(matched, mAct, f.name, tCol))
        .when(tPresent && !sPresent, valueChain(notMatchedBySource, nmsAct, f.name, tCol))
        .otherwise(valueChain(notMatched, insAct, f.name, lit(null)))
        .cast(f.dataType).as(f.name)
    }
    val v = prev + 1
    if (dvMode) {
      // Merge-on-read: vector out every target row an action applied
      // to; append only the surviving images + inserts (pass-through
      // target rows stay in their files untouched).
      val acted = (sPresent && mAct =!= lit(-1)) || (!sPresent && nmsAct =!= lit(-1))
      val affected = joined.where(tPresent && acted)
      val marks = affected.groupBy(col("t.__file"))
        .agg(graft.functions.Bitmaps.bitmapBuild(col("t.__pos")).as("bm"))
        .toDF("__file", "bm")
      val appendRows = joined.where(keep && (!tPresent || acted)).select(outCols: _*)
      val dvNames = mergeAndWriteDv(spark, path, v, c.dirs, dv0, marks)
      val dir = writeGroup(spark, path, st, appendRows, m.partitionBy)
      val cdc = writeCdc(spark, path, m, v,
        affected.select(tSchema.fieldNames.map(n => col(s"t.$n")).toSeq: _*),
        readDirs(spark, path, m, Seq(dir)))
      commitOver(spark, path, st, Commit(v, "merge-mor", c.dirs :+ dir, cdc, dvFiles = dvNames))
      return v
    }
    val result = joined.where(keep).select(outCols: _*)

    val dir = writeGroup(spark, path, st, result, m.partitionBy)
    val cdc = writeCdc(spark, path, m, v, targetFull, readDirs(spark, path, m, Seq(dir)))
    commitOver(spark, path, st, Commit(v, "merge", untouched :+ dir, cdc))
    v
  }

  /** AGGREGATE-key-model merge (the Doris AGGREGATE table model):
    * arriving rows whose key tuple already exists COMBINE with the
    * stored row — measures sum — instead of replacing it. This is the
    * natural ingest mode for pre-aggregated metric tables: appends of
    * per-batch partials keep the table exactly one row per key tuple
    * with running totals, no read-modify-write per row. One shuffle on
    * the key tuple (the combining groupBy); copy-on-write commit like
    * merge.
    */
  def mergeAggregate(spark: SparkSession, path: String, source: DataFrame,
      keys: Seq[String], sumCols: Seq[String]): Long = {
    val st = state(spark, path)
    val (prev, c, m) = (st.version, st.commit, st.meta)
    // A group is untouched only if its stats prove no source key tuple
    // can live in it (per-column intersection — conservative for multi
    // column keys). Untouched groups keep their one-row-per-key
    // invariant by induction; touched ∪ source re-combines to one row
    // per key, so the table-wide invariant survives the partial rewrite.
    val (touched, untouched) = splitDirs(spark, path, m, c.dirs, keyBounds(source, keys))
    val target =
      if (touched.isEmpty) read(spark, path, st).limit(0)
      else readDirsLive(spark, path, m, touched, prev)
    val combined = target.unionByName(source, allowMissingColumns = true)
      .groupBy(keys.map(col): _*)
      .agg(sum(sumCols.head).as(sumCols.head),
        sumCols.tail.map(c => sum(c).as(c)): _*)
    val v = prev + 1
    val dir = writeGroup(spark, path, st, combined, m.partitionBy)
    val cdc = writeCdc(spark, path, m, v, target, readDirs(spark, path, m, Seq(dir)))
    commitOver(spark, path, st, Commit(v, "merge_agg", untouched :+ dir, cdc))
    v
  }

  /** Predicate-scoped overwrite (Delta `replaceWhere` / INSERT
    * OVERWRITE semantics): atomically delete the rows matching
    * `predicate` and insert `df`, in ONE commit — a reader sees either
    * the old region or the new one, never the gap a delete-then-append
    * pair would expose. File-group granular like the other DML verbs:
    * only groups whose stats intersect the predicate bounds rewrite
    * (their non-matching rows are kept), untouched dirs carry forward,
    * and the replacement rows land in the same new group. The caller
    * is responsible for `df` actually falling inside the predicate
    * region (the Delta contract; not validated row-by-row).
    */
  def overwriteWhere(spark: SparkSession, path: String,
      predicate: org.apache.spark.sql.Column, df: DataFrame): Long = {
    val st = state(spark, path)
    val (prev, c, m) = (st.version, st.commit, st.meta)
    val (touched, untouched) = splitDirs(spark, path, m, c.dirs,
      predicateBounds(spark, tableSchema(spark, path, st), predicate))
    val old =
      if (touched.isEmpty) read(spark, path, st).limit(0)
      else readDirsLive(spark, path, m, touched, prev)
    val replaced = old.where(!coalesce(predicate, lit(false)))
      .unionByName(df, allowMissingColumns = true)
    val v = prev + 1
    val dir = writeGroup(spark, path, st, replaced, m.partitionBy)
    val cdc = writeCdc(spark, path, m, v, old, readDirs(spark, path, m, Seq(dir)))
    commitOver(spark, path, st, Commit(v, "replace", untouched :+ dir, cdc))
    v
  }

  /** DELETE WHERE — copy-on-write rewrite keeping rows that do NOT
    * match `predicate`. SQL DELETE semantics: a NULL predicate keeps
    * the row (`!null = null` would silently delete it), hence the
    * coalesce-to-false before negating.
    */
  def delete(spark: SparkSession, path: String,
      predicate: org.apache.spark.sql.Column): Long = {
    val st = state(spark, path)
    val (prev, c, m) = (st.version, st.commit, st.meta)
    val (touched, untouched) = splitDirs(spark, path, m, c.dirs,
      predicateBounds(spark, tableSchema(spark, path, st), predicate))
    val v = prev + 1
    if (touched.isEmpty) {
      // Nothing can match: the commit is pure metadata, zero data moved.
      commitOver(spark, path, st, Commit(v, "delete", c.dirs))
    } else {
      val old = readDirsLive(spark, path, m, touched, prev)
      val dir = writeGroup(spark, path, st,
        old.where(!coalesce(predicate, lit(false))), m.partitionBy)
      val cdc = writeCdc(spark, path, m, v, old, readDirs(spark, path, m, Seq(dir)))
      commitOver(spark, path, st, Commit(v, "delete", untouched :+ dir, cdc))
    }
    v
  }

  /** UPDATE ... SET col = expr WHERE predicate — copy-on-write
    * rewrite applying `assignments` to matching rows.
    */
  def update(spark: SparkSession, path: String, predicate: org.apache.spark.sql.Column,
      assignments: Map[String, org.apache.spark.sql.Column]): Long = {
    import org.apache.spark.sql.functions.{col, when}
    val st = state(spark, path)
    val (prev, c, m) = (st.version, st.commit, st.meta)
    val (touched, untouched) = splitDirs(spark, path, m, c.dirs,
      predicateBounds(spark, tableSchema(spark, path, st), predicate))
    val v = prev + 1
    if (touched.isEmpty) {
      commitOver(spark, path, st, Commit(v, "update", c.dirs))
    } else {
      val df = readDirsLive(spark, path, m, touched, prev)
      val updated = assignments.foldLeft(df) { case (acc, (cn, e)) =>
        acc.withColumn(cn, when(predicate, e).otherwise(col(cn)))
      }
      val dir = writeGroup(spark, path, st, updated, m.partitionBy)
      val cdc = writeCdc(spark, path, m, v, df, readDirs(spark, path, m, Seq(dir)))
      commitOver(spark, path, st, Commit(v, "update", untouched :+ dir, cdc))
    }
    v
  }

  /** VACUUM: physically remove data dirs, change files, deletion
    * vectors and table-meta objects not referenced by any commit
    * ≥ `retainFrom` and drop the older commit entries — bounds
    * storage; time travel before the horizon is forfeited.
    */
  def vacuum(spark: SparkSession, path: String, retainFrom: Long): Long = {
    val (cur, stamp) = headCommit(spark, path, None)
      .getOrElse(throw new IllegalArgumentException(s"no LakeTable at $path"))
    // A version in the window may have no commit file (below a clone's
    // base, or dropped by an earlier vacuum) — nothing to pin there.
    // Missing-file ONLY: any other readCommit failure aborts the
    // vacuum — a retained commit whose dirs can't be read must never
    // fall out of the keep-set (that would delete live data).
    val retained = (retainFrom to cur).flatMap(readCommitOpt(spark, path, _))
    // Subdir entries (d0/g=b) pin their whole GROUP dir: reclamation is
    // group-granular — a group frees only when no retained commit
    // references any slice of it (conservative, like Delta's vacuum
    // over partially-rewritten files).
    val keepDirs = retained.flatMap(_.dirs.map(groupRoot)).toSet
    val root = new Path(path)
    val fs = fsOf(spark, root)
    fs.listStatus(root).foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory && n.startsWith("d") && !keepDirs.contains(n))
        fs.delete(st.getPath, true)
    }
    // Change files follow the same retention: drop cdc dirs no kept
    // commit references (includes orphaned racer dirs).
    val keepCdc = retained.flatMap(_.cdcDir).toSet
    val cdcRoot = new Path(path, "_cdc")
    if (fs.exists(cdcRoot)) fs.listStatus(cdcRoot).foreach { st =>
      if (st.isDirectory && !keepCdc.contains(st.getPath.getName))
        fs.delete(st.getPath, true)
    }
    // Deletion vectors (B46) follow data retention: keep files a
    // retained commit references, plus the RESOLVED pre-horizon state
    // per group (what a read at the horizon applies) — orphans from
    // lost commit races and superseded cumulative files go.
    val dvRoot = dvDirPath(path)
    if (fs.exists(dvRoot)) {
      val referenced = retained.flatMap(_.dvFiles).toSet
      val horizonState = scala.util.Try(
        dvResolve(spark, path, retainFrom, readCommit(spark, path, retainFrom).dirs)
          .values.map(_._1).toSet).getOrElse(Set.empty)
      fs.listStatus(dvRoot).map(_.getPath.getName).filter(_.endsWith(".dv")).foreach { n =>
        if (!referenced.contains(n) && !horizonState.contains(n))
          fs.delete(new Path(dvRoot, n), false)
      }
    }
    // Refresh the hint BEFORE dropping old commits: a checkpoint left
    // pointing at a vacuumed version would force every reader through
    // the listing fallback until the next Nth commit.
    writeCheckpoint(spark, path, cur)
    (0L until retainFrom).foreach { v =>
      fs.delete(commitFile(path, v), false)
      fs.delete(new Path(logDir(path), f".claim-v$v%05d"), false)
    }
    // Table-meta objects likewise (orphans of lost meta commits too).
    // Only a head's meta is ever resolved, so the legacy files go once
    // the head's meta is an object holding everything they held.
    val keepMeta = retained.flatMap(_.meta).toSet
    fs.listStatus(logDir(path)).map(_.getPath).foreach { m =>
      if (m.getName.startsWith("meta-") && !keepMeta(m.getName)) fs.delete(m, false)
    }
    if (!stateAt(spark, path, cur, stamp).legacy)
      (legacyMetaFile(path) +: Seq("_tags.json", "_cdc.json").map(new Path(logDir(path), _)))
        .foreach(fs.delete(_, false))
    keepDirs.size.toLong
  }

  /** Bin-pack small files into `numFiles` outputs (same data, new
    * version). At scale, numFiles = ceil(bytes / 128 MB). A recorded
    * write.sort.by order (B43) upgrades the bin-pack to SORT
    * compaction (the Iceberg rewrite-with-sort-order): range-partition
    * on the sort columns + sort within, so files written BEFORE the
    * order was set (or by non-native writers) come out range-disjoint
    * and the stats pruner serves point reads from one file.
    */
  def compact(spark: SparkSession, path: String, numFiles: Int): Long = {
    val st = state(spark, path)
    val (v, m) = (st.version + 1, st.meta)
    val df = read(spark, path, st)
    val sb = m.sortBy.flatMap(c => df.columns.find(_.equalsIgnoreCase(c)))
    val packed =
      if (sb.nonEmpty)
        df.repartitionByRange(numFiles, sb.map(org.apache.spark.sql.functions.col): _*)
          .sortWithinPartitions(sb.map(org.apache.spark.sql.functions.col): _*)
      else df.coalesce(numFiles)
    val dir = writeGroup(spark, path, st, packed, m.partitionBy)
    commitOver(spark, path, st, Commit(v, "compact", Seq(dir)))
    v
  }

  /** Predicate-scoped compaction (Delta `OPTIMIZE ... WHERE`): only
    * file groups whose stats/partition values intersect the predicate
    * rewrite (bin-packed, sort order honored); everything else rides
    * the commit forward untouched. The maintenance shape that actually
    * runs at 100 TB — compacting one hot partition, not the table.
    * Touched groups shed their deletion vectors (rows materialize
    * live); untouched groups keep theirs.
    */
  def compactWhere(spark: SparkSession, path: String, numFiles: Int,
      predicate: org.apache.spark.sql.Column): Long = {
    val st = state(spark, path)
    val (prev, c, m) = (st.version, st.commit, st.meta)
    val (touched, untouched) = splitDirs(spark, path, m, c.dirs,
      predicateBounds(spark, tableSchema(spark, path, st), predicate))
    val v = prev + 1
    if (touched.isEmpty) {
      commitOver(spark, path, st, Commit(v, "compact", c.dirs))
      return v
    }
    val df = readDirsLive(spark, path, m, touched, prev)
    val sb = m.sortBy.flatMap(cn => df.columns.find(_.equalsIgnoreCase(cn)))
    val packed =
      if (sb.nonEmpty)
        df.repartitionByRange(numFiles, sb.map(org.apache.spark.sql.functions.col): _*)
          .sortWithinPartitions(sb.map(org.apache.spark.sql.functions.col): _*)
      else df.coalesce(numFiles)
    val dir = writeGroup(spark, path, st, packed, m.partitionBy)
    commitOver(spark, path, st, Commit(v, "compact", untouched :+ dir))
    v
  }

  /** Z-order clustering rewrite: interleave the bits of the rank of
    * each clustering column (rank ≈ value's quantile bucket, so mixed
    * types and skews flatten out), range-partition by the Z-value and
    * sort within partitions, then commit as a new file group. Each
    * output file then covers a small hyper-rectangle of the clustered
    * columns, so parquet min/max file skipping prunes multi-column
    * range predicates — the Iceberg/Doris data-layout optimization.
    */
  def clusterBy(spark: SparkSession, path: String, cols: Seq[String], numFiles: Int): Long = {
    val st = state(spark, path)
    val zed = zOrdered(read(spark, path, st), cols, numFiles)
    val v = st.version + 1
    val dir = writeGroup(spark, path, st, zed, Nil)
    commitOver(spark, path, st, Commit(v, "cluster", Seq(dir)))
    v
  }

  /** The Z-value rewrite shared by full and incremental clustering. */
  private def zOrdered(df: DataFrame, cols: Seq[String], numFiles: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    // Distributed rank proxy: 2^bits approx-quantile boundaries per
    // column (one tiny aggregate, collected — cuts are |cols|×63
    // doubles); bucket = # boundaries ≤ value. No global sort, no
    // single-partition window. 6 bits = 64 buckets/column —
    // granularity well beyond any realistic file count, at ~1/20 the
    // sketch cost of 8 bits.
    val bits = 6
    val nb = (1 << bits) - 1
    val qs = array((1 to nb).map(i => lit(i.toDouble / (nb + 1))): _*)
    // Collected (not crossJoined): the per-row rank then runs as a
    // native binary search over a codegen constant instead of a
    // 63-comparison array-filter HOF that also allocated the filtered
    // array per row per column — the measured q_zorder hot loop. Same
    // count-of-bounds-<=-value semantics, identical ranks — except the
    // degenerate all-NULL/empty column, where percentile_approx yields
    // NULL, the cut array is empty and every rank is 0 (the old HOF
    // produced the constant -1 via legacy sizeOfNull). Both are
    // per-column constants, so file clustering is unaffected.
    val boundRow = df.select(cols.zipWithIndex.map { case (c, i) =>
      percentile_approx(col(c).cast("double"), qs, lit(1000)).as(s"__b$i")
    }: _*).head()
    val cuts: Seq[Array[Double]] = cols.indices.map { i =>
      if (boundRow.isNullAt(i)) Array.empty[Double]
      else boundRow.getSeq[Any](i).collect { case d: Double => d }.toArray
    }
    // fan: the rank pass is per-row work downstream of a possibly
    // under-split input; the exchange it inserts is also what the
    // range partitioner's sampling pass re-reads instead of
    // re-executing the scan (no-op at scale, Tables.fan scaladoc).
    val ranked = cols.indices.foldLeft(graft.Tables.fan(df)) { (acc, i) =>
      acc.withColumn(s"__r$i",
        graft.functions.Vectors.sortedBucket(col(cols(i)).cast("double"), cuts(i)))
    }
    val interleaved = (0 until bits).flatMap { b =>
      cols.indices.map { i =>
        shiftleft(shiftright(col(s"__r$i"), b).bitwiseAND(lit(1L)),
          b * cols.length + i)
      }
    }.reduce[org.apache.spark.sql.Column](_ + _)
    ranked.withColumn("__z", interleaved)
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop((cols.indices.map(i => s"__r$i") :+ "__z"): _*)
  }

  /** Incremental clustering (the Delta liquid-clustering / Iceberg
    * rewrite-where-needed shape): Z-order-rewrite ONLY the file groups
    * committed SINCE the last `cluster` rewrite; groups that commit
    * already clustered ride forward untouched, keeping their deletion
    * vectors ([[dvResolve]] is per-group, so a carried dir's DVs keep
    * applying). A full re-cluster of a 100 TB table is a 100 TB write —
    * the steady-state maintenance op must cost ∝ newly-ingested data,
    * not table size, or it can never keep up with ingest. Falls back to
    * a full [[clusterBy]] when no prior cluster commit is retained.
    */
  def clusterByIncremental(spark: SparkSession, path: String, cols: Seq[String],
      numFiles: Int): Long = {
    val st = state(spark, path)
    val prev = st.version
    // Newest retained `cluster` commit; a vacuumed hole below ends the
    // walk (nothing older is retained either).
    var probe = prev
    var lastCluster: Option[Commit] = None
    while (lastCluster.isEmpty && probe >= 0) {
      readCommitOpt(spark, path, probe) match {
        case Some(c) if c.action == "cluster" => lastCluster = Some(c)
        case Some(_) => probe -= 1
        case None => probe = -1
      }
    }
    lastCluster match {
      case None => clusterBy(spark, path, cols, numFiles)
      case Some(cl) =>
        val head = st.commit
        val clustered = cl.dirs.toSet
        val kept = head.dirs.filter(clustered)
        val delta = head.dirs.filterNot(clustered)
        val v = prev + 1
        if (delta.isEmpty) {
          // Nothing new since the last rewrite: publish a marker commit
          // so the next incremental run's walk stays O(1).
          commitOver(spark, path, st, Commit(v, "cluster", kept))
        } else {
          val dir = writeGroup(spark, path, st,
            zOrdered(readDirsLive(spark, path, st.meta, delta, prev), cols, numFiles), Nil)
          commitOver(spark, path, st, Commit(v, "cluster", kept :+ dir))
        }
        v
    }
  }

  /** DESCRIBE HISTORY (the Delta audit-log surface): one row per
    * retained commit — version, action, wall-clock time, file-group
    * count, whether it published change records. Newest first, like
    * Delta; bounded by vacuum retention.
    */
  def history(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val cur = currentVersion(spark, path)
      .getOrElse(throw new IllegalArgumentException(s"no LakeTable at $path"))
    val rows = (cur to 0L by -1).iterator.map { v =>
      try {
        val c = readCommit(spark, path, v)
        Some((c.version, c.action, new java.sql.Timestamp(c.ts),
          c.dirs.size.toLong, c.cdcDir.isDefined))
      } catch { case _: java.io.FileNotFoundException => None } // vacuumed
    }.takeWhile(_.isDefined).flatten.toSeq
    rows.toDF("version", "action", "timestamp", "n_file_groups", "has_change_data")
  }

  /** Current-snapshot file inventory as a DataFrame (the Iceberg
    * `files` metadata-table capability, served by the graft_files SQL
    * TVF): one row per live data file with its commit entry, byte
    * size (from the same listing pruning uses) and whether deletion
    * vectors currently mask it. Metadata-only — never opens a data
    * file — so ops tooling (size skew, small-file pressure, DV debt
    * before a compaction) reads it instead of walking the store.
    */
  def filesDf(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val v = currentVersion(spark, path)
      .getOrElse(throw new IllegalArgumentException(s"no LakeTable at $path"))
    val commit = readCommit(spark, path, v)
    // no bounds, so no prior column names to resolve
    val (pruned, _) = pruneFilesByDir(spark, path, Nil, commit.dirs, Map.empty)
    val dv = dvFor(spark, path, v, commit.dirs)
    pruned.flatMap { pd =>
      // DV maps key by the scan's `_metadata.file_path` URI; compare on
      // the scheme-normalized path so `file:/x` and `file:///x` agree.
      val masked = dv.getOrElse(groupKey(pd.dir), Map.empty[String, Array[Byte]])
        .keysIterator.map(k => new Path(k).toUri.getPath).toSet
      pd.files.map { f =>
        val rel = f.file.stripPrefix(pd.base + "/")
        (v, pd.dir, rel, f.len, masked.contains(new Path(f.file).toUri.getPath))
      }
    }.toDF("version", "file_group", "file", "bytes", "has_deletes")
      .orderBy("file_group", "file")
  }

  /** Data files of a snapshot (for compaction/catalog introspection). */
  def dataFiles(spark: SparkSession, path: String, version: Option[Long] = None): Seq[String] = {
    val v = version.orElse(currentVersion(spark, path)).get
    readCommit(spark, path, v).dirs.flatMap { d =>
      val p = new Path(path, d)
      val fs = fsOf(spark, p)
      val it = fs.listFiles(p, true)
      val buf = scala.collection.mutable.ArrayBuffer.empty[String]
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) buf += f.getPath.toString
      }
      buf
    }
  }
}

/** Rollup materialized views over a parquet base, wired into the
  * [[graft.plans.MaterializedViewRewrite]] optimizer rule: create the
  * partials table once, register it, and plain DataFrame/SQL
  * aggregates over the base are served from it transparently.
  */
object Rollup {
  import org.apache.spark.sql.functions._
  import graft.plans.{MvDef, MvRegistry}

  /** Build (or replace) the sum/min/max/cnt partials LakeTable for
    * `basePath` grouped by `dims`, register it for auto-routing, and
    * PERSIST the registration (`_mv.json` at the base root) so every
    * session sharing the warehouse routes through it (B50). The base
    * may be a plain parquet dir or a graft LakeTable.
    */
  def createAndRegister(spark: SparkSession, basePath: String, mvPath: String,
      dims: Seq[String], measures: Seq[String]): MvDef = {
    val base =
      if (LakeTable.currentVersion(spark, basePath).isDefined)
        LakeTable.read(spark, basePath)
      else graft.Tables.parquet(spark, basePath)
    val aggs = measures.flatMap(m => Seq(
      sum(col(m)).as(s"sum_$m"), min(col(m)).as(s"min_$m"), max(col(m)).as(s"max_$m"))) :+
      count(lit(1)).as("cnt")
    LakeTable.create(spark, mvPath,
      base.groupBy(dims.map(col): _*).agg(aggs.head, aggs.tail: _*))
    val d = MvDef(basePath, mvPath, dims, measures.toSet)
    // Persistence is BEST-EFFORT and only for directory bases (a
    // single-file parquet base — or a read-only location — cannot
    // carry a sidecar): the in-memory registration always lands, the
    // descriptor just makes it durable across sessions.
    try {
      val desc = MvRegistry.descriptorFile(basePath)
      val fs = desc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.getFileStatus(new Path(basePath)).isDirectory) {
        val out = fs.create(desc, true)
        try out.write(MvRegistry.renderDescriptor(d).getBytes("UTF-8")) finally out.close()
      }
    } catch { case _: Exception => () }
    MvRegistry.register(d)
    d
  }

  /** Deregister + delete the persisted descriptor (the MV table itself
    * is dropped separately, like any table).
    */
  def dropRegistration(spark: SparkSession, basePath: String): Unit = {
    MvRegistry.deregister(basePath)
    val desc = MvRegistry.descriptorFile(basePath)
    val fs = desc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(desc)) fs.delete(desc, false)
  }
}

/** Directory-of-LakeTables catalog: named tables, versions, schemas —
  * the create/list/describe surface of a metastore.
  */
final class LakeCatalog(spark: SparkSession, root: String) {

  private def tablePath(name: String) = new Path(root, name).toString

  def createTable(name: String, df: DataFrame, partitionBy: Seq[String] = Nil): Long =
    LakeTable.create(spark, tablePath(name), df, partitionBy)

  def table(name: String, version: Option[Long] = None): DataFrame =
    LakeTable.read(spark, tablePath(name), version)

  def tableNames: Seq[String] = {
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName).toSeq
      .filter(n => LakeTable.currentVersion(spark, tablePath(n)).isDefined).sorted
  }

  /** One row per table: name, current version, file count, columns. */
  def listTables(): DataFrame = {
    import spark.implicits._
    tableNames.map { n =>
      val v = LakeTable.currentVersion(spark, tablePath(n)).get
      val files = LakeTable.dataFiles(spark, tablePath(n)).size.toLong
      val cols = table(n).schema.fieldNames.mkString(",")
      (n, v, files, cols)
    }.toDF("table_name", "version", "n_files", "columns")
  }
}
