package graft.io

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{FileSystemException, Files, LinkOption, Path => NioPath}
import java.nio.file.attribute.{FileTime, PosixFilePermission, UserPrincipal}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FSLinkResolver, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `RawLocalFileSystem` without child processes. Without the
  * native hadoop library the stock class runs `chmod` for every
  * `setPermission` and `readlink` for every `getFileLinkStatus`, about 6 ms
  * each. Every local write pays them: parquet part files and their `.crc`
  * twins, `mkdirs`, and the streaming checkpoint's temp-file renames
  * (offsets and commits logs, state-store delta files), dozens per
  * micro-batch. Here both are one NIO call on this JVM's own thread.
  *
  * Results match the stock class: a symlink's status carries its target's
  * length, times, permission and owner under the link's own path, a
  * dangling link reports zeros, and a missing path is a
  * `FileNotFoundException`. (The stock class sees no link in a `file:`
  * URI path, whose string `readlink` cannot resolve; this one stats the
  * file the path names.) Only the sticky bit, and a file that carries
  * setuid/setgid bits, still go to `chmod(1)`: NIO cannot set the first
  * and would clear the others.
  *
  * Registered for `file:` by `core-site.xml` (`fs.file.impl` for
  * [[NioLocalFileSystem]], `fs.AbstractFileSystem.file.impl` for
  * [[NioLocalFs]]). A `core-site.xml` earlier on the classpath wins and
  * brings back the stock classes, which are as correct, only slower. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    val mode = stat(p)(Files.getAttribute(file, "unix:mode")).asInstanceOf[Int]
    if (permission.getStickyBit || (mode & SetIdBits) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(file, posix(permission.toShort))
  }

  override def getFileLinkStatus(f: Path): FileStatus = {
    val st = linkStatus(f)
    if (st.isSymlink)
      st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri, st.getPath, st.getSymlink))
    st
  }

  override def getLinkTarget(f: Path): Path = linkStatus(f).getSymlink

  /** `f` itself, its symlink target left as written. */
  private def linkStatus(f: Path): FileStatus = {
    val file = pathToFile(f)
    val own = attributes(f, file.toPath, LinkOption.NOFOLLOW_LINKS)
    if (own.get("isSymbolicLink") != true)
      status(f, own, new Path(file.getPath).makeQualified(getUri, getWorkingDirectory), null)
    else {
      val target = new Path(Files.readSymbolicLink(file.toPath).toString)
      try status(f, attributes(f, file.toPath), f, target)
      catch {
        case _: FileNotFoundException =>
          new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault, "", "", target, f)
      }
    }
  }

  private def status(f: Path, a: Attributes, path: Path, symlink: Path): FileStatus =
    new FileStatus(a.get("size").asInstanceOf[Long],
      symlink == null && a.get("isDirectory") == true, 1, getDefaultBlockSize(f),
      millis(a.get("lastModifiedTime")), millis(a.get("lastAccessTime")),
      new FsPermission((a.get("mode").asInstanceOf[Int] & PermissionBits).toShort),
      name(a.get("owner")), name(a.get("group")), symlink, path)
}

object NioRawLocalFileSystem {
  private type Attributes = java.util.Map[String, AnyRef]
  private val PermissionBits = 0x3ff // 01777: rwx for all, and sticky
  private val SetIdBits = 0xc00 // 06000: setuid and setgid

  /** The 9 rwx bits of `mode` as NIO permissions (OWNER_READ is bit 8). */
  def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach(p => if ((mode >> (8 - p.ordinal) & 1) == 1) s.add(p))
    s
  }

  /** One `stat`/`lstat` of `file` through the `unix` view; a path that
    * cannot be stat'ed is missing, as `File.exists` would say. */
  private def attributes(f: Path, file: NioPath, opts: LinkOption*): Attributes =
    stat(f)(Files.readAttributes(file, "unix:*", opts: _*))

  private def stat[A](f: Path)(op: => A): A =
    try op
    catch {
      case _: FileSystemException => throw new FileNotFoundException(s"File $f does not exist")
    }

  private def millis(t: AnyRef): Long = t.asInstanceOf[FileTime].toMillis
  private def name(p: AnyRef): String = p.asInstanceOf[UserPrincipal].getName
}

/** The checksummed `file:` [[org.apache.hadoop.fs.FileSystem]]: Hadoop's
  * `LocalFileSystem` (`FileSystem.getLocal` casts to it) over
  * [[NioRawLocalFileSystem]]. A rename onto an existing file fails, as on
  * HDFS and as under Hive's `ProxyLocalFileSystem`, which the jars'
  * service files otherwise make the `file:` filesystem; POSIX rename
  * would replace the file. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem) {
  override def rename(src: Path, dst: Path): Boolean =
    !pathToFile(dst).isFile && super.rename(src, dst)
}

/** [[NioRawLocalFileSystem]] as a `FileContext` filesystem, mirroring
  * Hadoop's `RawLocalFs`. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  // local filesystems differ in what names they take: let the OS decide
  override def isValidName(src: String): Boolean = true
}

/** The checksummed `file:` `FileContext` filesystem (Spark's checkpoint
  * logs and state store write through it), mirroring Hadoop's `LocalFs`,
  * which also ignores the URI it is given. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(FsConstants.LOCAL_FS_URI, conf))
