package graft

import java.io.FileNotFoundException
import java.nio.file.{Files, Paths}
import java.nio.file.attribute.PosixFilePermissions
import java.util.EnumSet

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.fs.{CreateFlag, FileAlreadyExistsException, FileContext, FileSystem,
  LocalFileSystem, Options, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

import graft.sources.{LakeTable, NioRawLocalFileSystem}
import graft.streaming.EventPipeline

/** Graft sessions serve `file:` through java.nio (graft.sources.NioLocalFs)
  * with Hadoop's local semantics, and local file work forks no process.
  */
class LocalFsSpec extends AnyFunSuite {
  import SharedSpark.{sf, spark}

  private val root = s"${operators.Lakehouse.scratch}/spec_localfs"
  private def conf = spark.sparkContext.hadoopConfiguration
  private def fs = FileSystem.get(new Path(root).toUri, conf)
  private def fc = FileContext.getFileContext(conf)
  private def umask = FsPermission.getUMask(conf)

  /** A fresh, empty directory under the spec root. */
  private def dir(name: String): Path = {
    val d = new Path(s"$root/$name")
    fs.delete(d, true)
    fs.mkdirs(d)
    d
  }

  private def nio(p: Path) = Paths.get(p.toUri.getPath)

  private def onDisk(p: Path): String =
    PosixFilePermissions.toString(Files.getPosixFilePermissions(nio(p)))

  test("FileSystem.getLocal is still a LocalFileSystem, over the java.nio raw file system") {
    val local = FileSystem.getLocal(conf)
    assert(local.isInstanceOf[LocalFileSystem])
    assert(local.getRaw.isInstanceOf[NioRawLocalFileSystem])
    assert(fs.isInstanceOf[LocalFileSystem])
  }

  test("created files and directories get the umasked defaults; setPermission reads back") {
    val d = dir("perms")
    val fileDefault = FsPermission.getFileDefault.applyUMask(umask).toString
    val dirDefault = FsPermission.getDirDefault.applyUMask(umask).toString

    val viaFs = new Path(d, "fs.txt")
    fs.create(viaFs).close()
    assert(onDisk(viaFs) == fileDefault)
    val viaFc = new Path(d, "fc.txt")
    fc.create(viaFc, EnumSet.of(CreateFlag.CREATE)).close()
    assert(onDisk(viaFc) == fileDefault)
    // the checksum sidecar is a created file too
    assert(onDisk(new Path(d, ".fc.txt.crc")) == fileDefault)

    val sub = new Path(d, "a/b")
    assert(fs.mkdirs(sub, FsPermission.getDirDefault))
    assert(onDisk(sub) == dirDefault && onDisk(sub.getParent) == dirDefault)
    val fcSub = new Path(d, "c/d")
    fc.mkdir(fcSub, FsPermission.getDirDefault, true)
    assert(onDisk(fcSub) == dirDefault)

    fs.setPermission(viaFs, new FsPermission(Integer.parseInt("640", 8).toShort))
    assert(onDisk(viaFs) == "rw-r-----")
    // the sticky bit, which java.nio cannot set, still round-trips
    val sticky = new Path(d, "sticky")
    fs.mkdirs(sticky)
    fs.setPermission(sticky, new FsPermission(Integer.parseInt("1755", 8).toShort))
    assert(fs.getFileStatus(sticky).getPermission.getStickyBit)
  }

  test("getFileStatus carries java.nio's owner, group and permission") {
    val d = dir("status")
    val f = new Path(d, "x.txt")
    fs.create(f).close()
    for (p <- Seq(d, f); s <- Seq(fs.getFileStatus(p), fc.getFileStatus(p))) {
      val a = Files.readAttributes(nio(p),
        classOf[java.nio.file.attribute.PosixFileAttributes])
      assert(s.getOwner == a.owner.getName)
      assert(s.getGroup == a.group.getName)
      assert(s.getPermission.toString == PosixFilePermissions.toString(a.permissions))
      assert(s.isDirectory == a.isDirectory && s.getLen == a.size)
    }
    val listed = fs.listStatus(d)
    assert(listed.map(_.getPath.getName).toSeq == Seq("x.txt"))
    assert(fs.listStatus(f).map(_.getPath) sameElements Array(fs.makeQualified(f)))
    assert(listed.head.getOwner == fs.listStatus(f).head.getOwner)
  }

  test("getFileLinkStatus reports links with their qualified target; missing paths throw") {
    val d = dir("links")
    val target = new Path(d, "target.txt")
    fs.create(target).close()
    val link = new Path(d, "link")
    Files.createSymbolicLink(nio(link), nio(target))
    val s = fs.getFileLinkStatus(link)
    assert(s.isSymlink)
    assert(s.getSymlink == fs.makeQualified(target))
    assert(fc.getFileLinkStatus(link).getSymlink == fs.makeQualified(target))
    assert(!fs.getFileLinkStatus(target).isSymlink)
    intercept[FileNotFoundException](fs.getFileLinkStatus(new Path(d, "missing")))
    intercept[FileNotFoundException](fc.getFileLinkStatus(new Path(d, "missing")))
    // a path under a plain file is missing too (ENOTDIR), as Hadoop reports it
    intercept[FileNotFoundException](fs.getFileStatus(new Path(target, "child")))
    assert(!fs.exists(new Path(target, "child")))
  }

  test("FileContext.rename refuses an existing target unless OVERWRITE is given") {
    val d = dir("rename")
    def write(p: Path, s: String): Unit = {
      val out = fc.create(p, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE))
      try out.write(s.getBytes("UTF-8")) finally out.close()
    }
    def read(p: Path): String = {
      val in = fc.open(p)
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    val (src, dst) = (new Path(d, "src"), new Path(d, "dst"))
    write(src, "new")
    write(dst, "old")
    // the contract Spark's FileContext checkpoint manager commits through
    intercept[FileAlreadyExistsException](fc.rename(src, dst))
    assert(read(dst) == "old" && fs.exists(src))
    fc.rename(src, dst, Options.Rename.OVERWRITE)
    assert(read(dst) == "new" && !fs.exists(src))
  }

  test("stream queries and lake commits launch no readlink, chmod, ls or stat") {
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try {
      EventPipeline.streamStreamJoin(spark, sf).collect()
      val lake = s"$root/lake"
      LakeTable.create(spark, lake, spark.range(200).toDF("k").withColumn("v", col("k") * 2))
      LakeTable.merge(spark, lake, spark.range(150, 250).toDF("k").withColumn("v", col("k")), "k")
    } finally rec.stop()
    val out = Files.createTempFile("localfs-spec", ".jfr")
    val commands =
      try {
        rec.dump(out)
        RecordingFile.readAllEvents(out).asScala.toSeq.map(_.getString("command"))
      } finally {
        rec.close()
        Files.deleteIfExists(out)
      }
    // by program name: Spark's own `rm -rf` of temporary directories stays
    val forks = commands.filter { c =>
      Set("readlink", "chmod", "ls", "stat")(c.takeWhile(_ != ' ').split('/').last)
    }
    val launches = forks.size
    assert(launches == 0, s"launches, e.g. ${forks.take(3).mkString("; ")}")
  }
}
