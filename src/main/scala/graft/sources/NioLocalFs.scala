package graft.sources

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{FileSystemException, Files, LinkOption, Path => JPath}
import java.nio.file.attribute.{BasicFileAttributes, PosixFileAttributes, PosixFilePermission}
import java.util.{EnumSet => JEnumSet, Set => JSet}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver, FileStatus,
  FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

import scala.jdk.CollectionConverters._

/** The local file system with permissions, statuses and links read and
  * set through java.nio. Without Hadoop's native library,
  * RawLocalFileSystem forks `chmod` for every file and directory it
  * creates with a permission, `readlink` for every link status (each
  * FileContext rename asks for two) and `ls -ld` when a status's
  * permission is first read. Spark's streaming checkpoint manager
  * (offset, commit, metadata and state-store files, each with a `.crc`
  * sidecar) and lake commits make dozens of such calls per micro-batch.
  * Statuses here carry permission, owner and group from the start.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else try Files.setPosixFilePermissions(pathToFile(p).toPath, toPosix(permission.toShort))
    catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }

  override def getFileStatus(f: Path): FileStatus = {
    val file = pathToFile(f)
    try {
      val a = Files.readAttributes(file.toPath, classOf[PosixFileAttributes])
      val perm = fromPosix(a.permissions) | (if (a.isDirectory) stickyBit(file.toPath) else 0)
      new FileStatus(a.size, a.isDirectory, 1, getDefaultBlockSize(f), a.lastModifiedTime.toMillis,
        a.lastAccessTime.toMillis, new FsPermission(perm.toShort), a.owner.getName, a.group.getName,
        new Path(file.getPath).makeQualified(getUri, getWorkingDirectory))
    } catch {
      case _: FileSystemException => throw notFound(f)
      case _: UnsupportedOperationException => super.getFileStatus(f)
    }
  }

  // Hadoop's directory listing already stats each child through
  // getFileStatus; only a plain file's one-entry listing is lazy.
  override def listStatus(f: Path): Array[FileStatus] = {
    val s = getFileStatus(f)
    if (s.isDirectory) super.listStatus(f) else Array(s)
  }

  /** A link's status is its target's with the link's qualified target
    * (zeroes when dangling), as Hadoop reports it.
    */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val link = try Files.readAttributes(pathToFile(f).toPath, classOf[BasicFileAttributes],
        LinkOption.NOFOLLOW_LINKS).isSymbolicLink
      catch { case _: FileSystemException => throw notFound(f) }
    if (!link) getFileStatus(f)
    else {
      val target = FSLinkResolver.qualifySymlinkTarget(getUri, f, getLinkTarget(f))
      try {
        val s = getFileStatus(f)
        new FileStatus(s.getLen, false, s.getReplication, s.getBlockSize, s.getModificationTime,
          s.getAccessTime, s.getPermission, s.getOwner, s.getGroup, target, f)
      } catch {
        case _: FileNotFoundException =>
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", target, f)
      }
    }
  }

  override def getLinkTarget(f: Path): Path =
    new Path(Files.readSymbolicLink(pathToFile(f).toPath).toString)
}

object NioRawLocalFileSystem {
  /** What Hadoop reports for any path `File.exists` denies: missing, a
    * file where a directory is expected, unreadable parent, link loop.
    */
  private def notFound(f: Path) = new FileNotFoundException(s"File $f does not exist")

  // PosixFilePermission's declaration order is owner r/w/x, group, others:
  // ordinal i is mode bit 0400 >> i.
  private def bit(p: PosixFilePermission): Int = 256 >> p.ordinal

  private def toPosix(mode: Int): JSet[PosixFilePermission] = {
    val s = JEnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach(p => if ((mode & bit(p)) != 0) s.add(p))
    s
  }

  private def fromPosix(s: JSet[PosixFilePermission]): Int = s.asScala.foldLeft(0)(_ | bit(_))

  /** The sticky bit (01000), which PosixFilePermission cannot express. */
  private def stickyBit(p: JPath): Int =
    try Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 512
    catch { case _: UnsupportedOperationException | _: IllegalArgumentException => 0 }
}

/** The FileSystem API's `file:` scheme (`fs.file.impl`): checksummed
  * like Hadoop's LocalFileSystem, which `FileSystem.getLocal` casts to.
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** FileContext's `file:` scheme (`fs.AbstractFileSystem.file.impl`), as
  * Hadoop's LocalFs/RawLocalFs pair builds it. AbstractFileSystem
  * instantiates it through a (URI, Configuration) constructor; the URI
  * is always `file:///`.
  */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(conf))

class NioRawLocalFs(conf: Configuration) extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI,
    new NioRawLocalFileSystem, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  @deprecated("use getServerDefaults(Path)", "Hadoop 2.x")
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  // Local file systems differ in what they accept; let the OS decide.
  override def isValidName(src: String): Boolean = true
}
