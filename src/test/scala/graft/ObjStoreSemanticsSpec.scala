package graft

import org.scalatest.funsuite.AnyFunSuite

/** The commit protocol under OBJECT-STORE/HDFS rename semantics.
  *
  * Every LakeTable test elsewhere runs on the local filesystem, whose
  * rename REPLACES an existing target atomically — so the commit
  * publish's "target already exists" arbitration never executes under
  * test, and nothing there shows that no publish renames onto an
  * existing file (table-meta objects are write-once). [[NoReplaceFs]]
  * (scheme `graftnr`) delegates storage to the local FS but REFUSES
  * any rename whose target exists — the HDFS contract, and the shape
  * of the S3 copy-object leg (reference internal/controller/minio.go:
  * tables live on MinIO; `tryExclusiveCreate`, LakeTable.scala, is
  * the documented conditional-PUT swap point). Running the real
  * create/DDL/DML/maintenance surface on this scheme proves the
  * protocol does not silently depend on rename-replace.
  */
class ObjStoreSemanticsSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._
  import graft.sources.LakeTable

  private val root: String = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftnr.impl", classOf[NoReplaceFs].getName)
    s"graftnr://${operators.Lakehouse.scratch}/objstore"
  }

  test("create / append / time travel / DDL CAS / DML / maintenance under no-replace rename") {
    val p = s"$root/t1"
    LakeTable.create(spark, p, Seq((1L, 10L), (2L, 20L)).toDF("k", "v"))
    LakeTable.append(spark, p, Seq((3L, 30L)).toDF("k", "v"))
    assert(LakeTable.read(spark, p).count() == 3L)
    assert(LakeTable.read(spark, p, Some(0L)).count() == 2L, "time travel")

    // TWO meta DDLs: each publishes a fresh meta object and a commit
    LakeTable.setSortBy(spark, p, Seq("k"))
    LakeTable.setSortBy(spark, p, Seq("v"))
    assert(LakeTable.meta(spark, p).sortBy == Seq("v"))

    // copy-on-write DML (group rewrite + commit publish)
    LakeTable.merge(spark, p, Seq((2L, 222L), (4L, 40L)).toDF("k", "v"), "k")
    val got = LakeTable.read(spark, p).as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 10L), (2L, 222L), (3L, 30L), (4L, 40L)), got)

    // ANALYZE rides the same log claim
    val ndv = LakeTable.analyze(spark, p)
    assert(ndv("k").ndv == 4L, ndv)

    // incremental clustering publishes onto a fresh commit file
    LakeTable.clusterBy(spark, p, Seq("k"), 1)
    LakeTable.append(spark, p, Seq((5L, 50L)).toDF("k", "v"))
    LakeTable.clusterByIncremental(spark, p, Seq("k"), 1)
    val got2 = got + ((5L, 50L))
    assert(LakeTable.read(spark, p).as[(Long, Long)].collect().toSet == got2)

    // maintenance: compaction + vacuum keep the live snapshot intact
    LakeTable.compact(spark, p, 1)
    LakeTable.vacuum(spark, p, 0L)
    assert(LakeTable.read(spark, p).as[(Long, Long)].collect().toSet == got2)
  }

  test("racing DDLs under no-replace rename never lose a published meta") {
    val p = s"$root/race"
    LakeTable.create(spark, p, Seq((1L, 10L)).toDF("k", "a"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      for (i <- 1 to 6) {
        val before = LakeTable.meta(spark, p).ver
        val start = new java.util.concurrent.CountDownLatch(1)
        val futs = Seq(Seq("k"), Seq("a")).map { c =>
          pool.submit(new java.util.concurrent.Callable[Boolean] {
            def call(): Boolean = {
              start.await()
              try { LakeTable.setSortBy(spark, p, c); true }
              catch { case _: LakeTable.ConcurrentWriteException => false }
            }
          })
        }
        start.countDown()
        val wins = futs.map(_.get()).count(identity)
        assert(wins >= 1, s"iteration $i: both DDLs lost")
        assert(LakeTable.meta(spark, p).ver == before + wins,
          s"iteration $i: lost update under no-replace semantics")
      }
    } finally pool.shutdown()
  }
}

/** The commit protocol under S3 OBJECT-STORE semantics, the other
  * rename contract: S3 has NO rename at all — the client emulates it
  * as copy-object + delete-object, and the copy REPLACES an existing
  * destination unconditionally (a PUT). So unlike HDFS (rename refuses
  * an existing target, [[NoReplaceFs]]), S3 rename is the MOST
  * permissive and therefore most dangerous shape: two racers renaming
  * onto the same commit file would both "succeed" and one commit would
  * silently vanish. [[S3LikeFs]] (scheme `grafts3`) models exactly
  * this, with ONE atomic primitive: `create(overwrite=false)` is a
  * conditional PUT (If-None-Match), which S3 provides natively. If the
  * whole verb surface stays correct here, `tryExclusiveCreate` (the
  * only call site of that primitive — LakeTable.scala) is provably the
  * only swap point that needs the conditional PUT; the reference
  * stores its tables on exactly this
  * kind of store (internal/controller/minio.go).
  */
class S3SemanticsSpec extends AnyFunSuite {
  import SharedSpark.spark
  import spark.implicits._
  import graft.sources.LakeTable

  private val root: String = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.grafts3.impl", classOf[S3LikeFs].getName)
    s"grafts3://${operators.Lakehouse.scratch}/s3store"
  }

  test("create / append / time travel / DDL CAS / DML / maintenance under copy+delete replace-rename") {
    val p = s"$root/t1"
    LakeTable.create(spark, p, Seq((1L, 10L), (2L, 20L)).toDF("k", "v"))
    LakeTable.append(spark, p, Seq((3L, 30L)).toDF("k", "v"))
    assert(LakeTable.read(spark, p).count() == 3L)
    assert(LakeTable.read(spark, p, Some(0L)).count() == 2L, "time travel")
    LakeTable.setSortBy(spark, p, Seq("k"))
    LakeTable.setSortBy(spark, p, Seq("v"))
    assert(LakeTable.meta(spark, p).sortBy == Seq("v"))
    LakeTable.merge(spark, p, Seq((2L, 222L), (4L, 40L)).toDF("k", "v"), "k")
    val got = LakeTable.read(spark, p).as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 10L), (2L, 222L), (3L, 30L), (4L, 40L)), got)
    val ndv = LakeTable.analyze(spark, p)
    assert(ndv("k").ndv == 4L, ndv)
    LakeTable.clusterBy(spark, p, Seq("k"), 1)
    LakeTable.append(spark, p, Seq((5L, 50L)).toDF("k", "v"))
    LakeTable.clusterByIncremental(spark, p, Seq("k"), 1)
    val got2 = got + ((5L, 50L))
    assert(LakeTable.read(spark, p).as[(Long, Long)].collect().toSet == got2)
    LakeTable.compact(spark, p, 1)
    LakeTable.vacuum(spark, p, 0L)
    assert(LakeTable.read(spark, p).as[(Long, Long)].collect().toSet == got2)
  }

  test("version claim stays exclusive when rename silently replaces the target") {
    val p = s"$root/race"
    LakeTable.create(spark, p, spark.range(5).toDF("id"))
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]()
    val threads = Seq(10, 20).map { n =>
      new Thread(() =>
        try { LakeTable.append(spark, p, spark.range(n).toDF("id")); results.add(true) }
        catch { case _: IllegalStateException => results.add(false) })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(results.size == 2 && !results.contains(false))
    assert(LakeTable.currentVersion(spark, p).contains(2L))
    assert(LakeTable.read(spark, p).count() == 35)
    // THE S3 proof: on this scheme a bare rename onto the published
    // commit would replace it without an error — only the conditional
    // PUT of the claim can reject the double-publish. It must.
    val cur = LakeTable.currentVersion(spark, p).get
    val before = LakeTable.read(spark, p).count()
    intercept[IllegalStateException] {
      LakeTable.writeCommit(spark, p, LakeTable.Commit(cur, "append", Seq("bogus")))
    }
    assert(LakeTable.read(spark, p).count() == before, "published commit was replaced")
  }

  test("racing DDLs under replace-rename never lose a published meta") {
    val p = s"$root/ddlrace"
    LakeTable.create(spark, p, Seq((1L, 10L)).toDF("k", "a"))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      for (i <- 1 to 6) {
        val before = LakeTable.meta(spark, p).ver
        val start = new java.util.concurrent.CountDownLatch(1)
        val futs = Seq(Seq("k"), Seq("a")).map { c =>
          pool.submit(new java.util.concurrent.Callable[Boolean] {
            def call(): Boolean = {
              start.await()
              try { LakeTable.setSortBy(spark, p, c); true }
              catch { case _: LakeTable.ConcurrentWriteException => false }
            }
          })
        }
        start.countDown()
        val wins = futs.map(_.get()).count(identity)
        assert(wins >= 1, s"iteration $i: both DDLs lost")
        assert(LakeTable.meta(spark, p).ver == before + wins,
          s"iteration $i: lost update under replace-rename semantics")
      }
    } finally pool.shutdown()
  }
}

/** Local-FS storage with the HDFS/object-store rename contract: a
  * rename whose TARGET EXISTS returns false instead of replacing it.
  * Everything else (exclusive create — the conditional-PUT analog —
  * listing, delete) delegates to the local implementation.
  */
class NoReplaceFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "graftnr"

  // no val: the super constructor calls getUri before vals initialize
  override def getUri: java.net.URI = java.net.URI.create("graftnr:///")

  // HDFS refuses an existing target atomically. A file moves by a hard
  // link (link(2) fails when the target exists) and an unlink of the
  // source, so two racers renaming onto one commit file cannot both
  // succeed; an exists() check before the rename would let them.
  override def rename(src: org.apache.hadoop.fs.Path,
      dst: org.apache.hadoop.fs.Path): Boolean = {
    def local(p: org.apache.hadoop.fs.Path) =
      java.nio.file.Paths.get(makeQualified(p).toUri.getPath)
    if (!exists(src)) false
    else if (getFileStatus(src).isDirectory) !exists(dst) && super.rename(src, dst)
    else
      try { java.nio.file.Files.createLink(local(dst), local(src)); delete(src, false) }
      catch { case _: java.nio.file.FileAlreadyExistsException => false }
  }

  // RawLocal's DeprecatedRawLocalFileStatus loads permissions lazily
  // via `new java.io.File(path.toUri)`, which requires a file:// URI —
  // our statuses carry graftnr://. Return plain FileStatus copies with
  // nothing lazy left to load.
  private def plain(st: org.apache.hadoop.fs.FileStatus): org.apache.hadoop.fs.FileStatus =
    new org.apache.hadoop.fs.FileStatus(st.getLen, st.isDirectory,
      st.getReplication, st.getBlockSize, st.getModificationTime,
      st.getAccessTime, null, null, null, st.getPath)

  override def getFileStatus(f: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.FileStatus =
    plain(super.getFileStatus(f))

  override def listStatus(f: org.apache.hadoop.fs.Path): Array[org.apache.hadoop.fs.FileStatus] =
    super.listStatus(f).map(plain)
}

/** Local-FS storage with S3 client semantics:
  *
  *  - `rename` is copy-object + delete-object — it REPLACES an existing
  *    destination unconditionally (a PUT) and is never atomic;
  *  - `create(overwrite=false)` is the ONE atomic primitive, modeling
  *    S3's conditional PUT (If-None-Match) — an O_EXCL create on the
  *    backing store, NOT RawLocal's non-atomic exists()-then-create;
  *  - everything else (list-after-write visible, delete) delegates.
  */
class S3LikeFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  import org.apache.hadoop.fs.{Path => HPath, FileStatus, FSDataOutputStream}

  override def getScheme: String = "grafts3"

  override def getUri: java.net.URI = java.net.URI.create("grafts3:///")

  override def rename(src: HPath, dst: HPath): Boolean = {
    if (!exists(src)) false
    else if (getFileStatus(src).isDirectory) {
      if (exists(dst) && !getFileStatus(dst).isDirectory) false
      else {
        mkdirs(dst)
        val ok = listStatus(src).forall(st =>
          rename(st.getPath, new HPath(dst, st.getPath.getName)))
        ok && delete(src, true)
      }
    } else {
      val in = open(src)
      try {
        val out = super.create(dst, true) // copy-object: replaces, no condition
        try org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536, false)
        finally out.close()
      } finally in.close()
      delete(src, false)
    }
  }

  private def localPath(f: HPath): java.nio.file.Path =
    java.nio.file.Paths.get(makeQualified(f).toUri.getPath)

  override def create(f: HPath, permission: org.apache.hadoop.fs.permission.FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable): FSDataOutputStream = {
    if (!overwrite) {
      // conditional PUT: claim existence atomically, then stream into it
      val p = localPath(f)
      if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
      java.nio.file.Files.createFile(p) // FileAlreadyExistsException IS an IOException
      super.create(f, permission, true, bufferSize, replication, blockSize, progress)
    } else super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  private def plain(st: FileStatus): FileStatus =
    new FileStatus(st.getLen, st.isDirectory, st.getReplication, st.getBlockSize,
      st.getModificationTime, st.getAccessTime, null, null, null, st.getPath)

  override def getFileStatus(f: HPath): FileStatus = plain(super.getFileStatus(f))

  override def listStatus(f: HPath): Array[FileStatus] = super.listStatus(f).map(plain)
}
