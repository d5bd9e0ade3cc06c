package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.LongAdder

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FSDataInputStream, FSDataOutputStream, FileStatus, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local file system with a counter per metadata and data call under
  * one root directory. Traced runs install it for the `file` scheme
  * (`fs.file.impl`, with the FileSystem cache off so every lookup gets
  * one), which leaves graft's code and paths unchanged. Counting is on
  * only while [[CountingFileSystem.counting]] is set.
  */
class CountingFileSystem extends LocalFileSystem {
  import CountingFileSystem._

  private var root: String = ""

  override def initialize(name: java.net.URI, conf: Configuration): Unit = {
    super.initialize(name, conf)
    root = conf.get(RootKey, "")
  }

  private def count(kind: String, p: Path): Unit =
    if (counting && root.nonEmpty && p != null && p.toUri.getPath.startsWith(root)) {
      counters(kind).increment()
      if (kind == "open" && p.getName.endsWith(".parquet")) opened.put(p.toUri.getPath, true)
    }

  override def listStatus(f: Path): Array[FileStatus] = { count("list", f); super.listStatus(f) }
  override def getFileStatus(f: Path): FileStatus = { count("stat", f); super.getFileStatus(f) }
  override def open(f: Path, bufferSize: Int): FSDataInputStream = {
    count("open", f); super.open(f, bufferSize)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream = {
    count("create", f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = { count("rename", src); super.rename(src, dst) }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    count("delete", f); super.delete(f, recursive)
  }
  override def mkdirs(f: Path, permission: FsPermission): Boolean = {
    count("mkdirs", f); super.mkdirs(f, permission)
  }
}

object CountingFileSystem {
  val RootKey = "perfbench.count.root"
  val Kinds: Seq[String] = Seq("list", "stat", "open", "create", "rename", "delete", "mkdirs")

  @volatile var counting = false
  val counters: Map[String, LongAdder] = Kinds.map(_ -> new LongAdder).toMap
  /** Parquet files opened under the root since the last [[snapshot]]. */
  private val opened = new ConcurrentHashMap[String, Boolean]()

  /** Counts per kind so far, and the number of distinct parquet files
    * opened; resets the opened-file set.
    */
  def snapshot(): (Map[String, Long], Int) = {
    val n = opened.size
    opened.clear()
    (counters.map { case (k, v) => k -> v.sum }, n)
  }

  /** Spark settings that install the counter for `root`. */
  def sparkConf(root: String): Seq[(String, String)] = Seq(
    "spark.hadoop.fs.file.impl" -> classOf[CountingFileSystem].getName,
    "spark.hadoop.fs.file.impl.disable.cache" -> "true",
    s"spark.hadoop.$RootKey" -> root)
}
