package graft.io

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.Files

import graft.SparkSpec
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.{FsCreateModes, FsPermission}

/** The fork-free local filesystem: the session's Hadoop configuration must
  * resolve `file:` to it (through `core-site.xml` on the classpath), and
  * what it reports must match Hadoop's own `RawLocalFileSystem`. */
class LocalFsSpec extends SparkSpec {

  test("FileSystem.get, FileSystem.getLocal and the local FileContext resolve to the NIO classes") {
    Seq(spark.sparkContext.hadoopConfiguration, spark.sessionState.newHadoopConf())
      .foreach { conf =>
        val byUri = FileSystem.get(URI.create("file:///"), conf)
        assert(byUri.isInstanceOf[NioLocalFileSystem], byUri.getClass)
        val local = FileSystem.getLocal(conf)
        assert(local.isInstanceOf[NioLocalFileSystem], local.getClass)
        assert(local.getRaw.isInstanceOf[NioRawLocalFileSystem], local.getRaw.getClass)
        val fc = FileContext.getLocalFSFileContext(conf).getDefaultFileSystem
        assert(fc.isInstanceOf[NioLocalFs], fc.getClass)
      }
  }

  test("a rename onto an existing file fails and leaves both files") {
    val fs = FileSystem.getLocal(spark.sparkContext.hadoopConfiguration)
    val dir = Files.createTempDirectory("localfs-rename")
    val (a, b) = (dir.resolve("a"), dir.resolve("b"))
    Files.write(a, Array[Byte](1))
    Files.write(b, Array[Byte](2, 2))
    assert(!fs.rename(new Path(a.toString), new Path(b.toString)))
    assert(Files.size(a) == 1 && Files.size(b) == 2)
    assert(fs.rename(new Path(a.toString), new Path(dir.resolve("c").toString)))
    assert(!Files.exists(a) && Files.size(dir.resolve("c")) == 1)
  }

  private def initialized[F <: FileSystem](fs: F, umask: String = "022"): F = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  private def fields(s: FileStatus): Seq[Any] =
    Seq(s.getPath, s.getLen, s.isDirectory, s.isSymlink,
      if (s.isSymlink) s.getSymlink else null,
      s.getModificationTime, s.getPermission, s.getOwner, s.getGroup)

  test("link status matches the stock RawLocalFileSystem: file, dir, symlink, dangling, missing") {
    val stock = initialized(new RawLocalFileSystem)
    val nio = initialized(new NioRawLocalFileSystem)
    val dir = Files.createTempDirectory("localfs-parity")
    val file = Files.write(dir.resolve("data.bin"), Array.fill[Byte](1234)(7))
    val sub = Files.createDirectory(dir.resolve("sub"))
    val link = Files.createSymbolicLink(dir.resolve("link"), file)
    val relLink = Files.createSymbolicLink(dir.resolve("rel-link"), file.getFileName)
    val dangling = Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    // the stock class runs readlink on Path.toString, so a link is seen as
    // one only through a scheme-less path
    Seq(file, sub, link, relLink, dangling).map(p => new Path(p.toString)).foreach { p =>
      assert(fields(nio.getFileLinkStatus(p)) == fields(stock.getFileLinkStatus(p)), p)
    }
    Seq(link, relLink, dangling).map(p => new Path(p.toString)).foreach { p =>
      assert(nio.getFileLinkStatus(p).isSymlink, p)
      assert(nio.getLinkTarget(p) == stock.getLinkTarget(p), p)
    }
    val missing = new Path(dir.resolve("missing").toString)
    intercept[FileNotFoundException](stock.getFileLinkStatus(missing))
    intercept[FileNotFoundException](nio.getFileLinkStatus(missing))
    intercept[FileNotFoundException](nio.setPermission(missing, new FsPermission("644")))
  }

  test("create and mkdirs apply the umask and permissions as the stock class does") {
    val dir = Files.createTempDirectory("localfs-umask")
    Seq(new RawLocalFileSystem, new NioRawLocalFileSystem).map(initialized(_, umask = "027"))
      .map { fs =>
        val base = new Path(dir.resolve(fs.getClass.getSimpleName).toString)
        val created = new Path(base, "created")
        val umasked = FsCreateModes.applyUMask(FsPermission.getFileDefault,
          FsPermission.getUMask(fs.getConf))
        fs.create(created, umasked, true, 4096, 1.toShort, 1L << 20, null).close()
        val made = new Path(base, "made")
        assert(fs.mkdirs(made, new FsPermission("750")))
        val chmodded = new Path(base, "chmodded")
        fs.create(chmodded, true).close()
        fs.setPermission(chmodded, new FsPermission("604"))
        val sticky = new Path(base, "sticky")
        assert(fs.mkdirs(sticky))
        fs.setPermission(sticky, new FsPermission("1777"))
        Seq(created, made, chmodded, sticky).map(p => fs.getFileLinkStatus(p).getPermission)
      } match {
      case Seq(stock, nio) =>
        assert(nio == stock)
        assert(nio.map(_.toString) == Seq("rw-r-----", "rwxr-x---", "rw----r--", "rwxrwxrwt"))
    }
    // the same create through FileContext, as Spark's checkpoint logs do it
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", "027")
    val fc = FileContext.getLocalFSFileContext(conf)
    val viaFc = new Path(dir.resolve("via-file-context").toString)
    fc.create(viaFc, java.util.EnumSet.of(CreateFlag.CREATE)).close()
    assert(fc.getFileLinkStatus(viaFc).getPermission.toString == "rw-r-----")
  }
}
