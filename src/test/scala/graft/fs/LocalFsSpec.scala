package graft.fs

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, LinkOption, Path => JPath}
import java.util.EnumSet

import scala.jdk.CollectionConverters._

import graft.{SparkSpec, Spawns}
import graft.ops.VersionedTable
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FileContext, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** Pins graft's spawn-free local filesystem: `core-site.xml` registers it
  * for every Hadoop `Configuration`, and it leaves the same permission
  * bits and link statuses as Hadoop's stock classes.
  */
class LocalFsSpec extends SparkSpec {

  private val local = URI.create("file:///")

  // permission bits, sticky bit included, of `p` itself
  private def mode(p: JPath): Int =
    Files.getAttribute(p, "unix:mode", LinkOption.NOFOLLOW_LINKS).asInstanceOf[Int] & 0xfff

  test("a plain Configuration and a graft session resolve file: to graft's classes") {
    for ((name, conf) <- Seq("new Configuration()" -> new Configuration(),
        "GraftSession" -> spark.sparkContext.hadoopConfiguration)) withClue(s"$name: ") {
      assert(FileSystem.getFileSystemClass("file", conf) === classOf[NioLocalFileSystem])
      assert(FileSystem.get(local, conf).getClass === classOf[NioLocalFileSystem])
      val fs = FileSystem.newInstance(local, conf)
      try assert(fs.getClass === classOf[NioLocalFileSystem]) finally fs.close()
      assert(FileSystem.getLocal(conf).getRaw.getClass === classOf[NioRawLocalFileSystem])
      assert(FileContext.getLocalFSFileContext(conf).getDefaultFileSystem.getClass ===
        classOf[NioLocalFs])
    }
  }

  /** The bits each file and directory under `dir` has after the same
    * creates, mkdirs, sticky-bit edit and FileContext rename through the
    * local filesystems that `conf` names.
    */
  private def layout(conf: Configuration, dir: JPath): Map[String, Int] = {
    def at(rel: String) = new Path(dir.toString, rel)
    val fs = FileSystem.newInstance(local, conf)
    try {
      fs.create(at("f")).close()
      fs.create(at("g"), new FsPermission("640"), false, 4096, 1.toShort, 1L << 20, null).close()
      fs.mkdirs(at("a/b"))
      fs.mkdirs(at("s"))
      fs.setPermission(at("s"), new FsPermission(Integer.parseInt("1777", 8).toShort))
      val fc = FileContext.getFileContext(local, conf)
      fc.create(at("c"), EnumSet.of(CreateFlag.CREATE)).close()
      fc.mkdir(at("d/e"), FsPermission.getDirDefault, true)
      fc.rename(at("c"), at("d/c"))
    } finally fs.close()
    val s = Files.walk(dir)
    try s.iterator().asScala.filter(_ != dir).map(p => dir.relativize(p).toString -> mode(p)).toMap
    finally s.close()
  }

  test("create, mkdirs and a sticky bit leave the stock permission bits") {
    for ((umask, file, dirBits) <- Seq(("022", "644", "755"), ("077", "600", "700")))
      withClue(s"umask $umask: ") {
        val conf = new Configuration()
        conf.set("fs.permissions.umask-mode", umask)
        val stock = new Configuration(conf)
        stock.set("fs.file.impl", "org.apache.hadoop.fs.LocalFileSystem")
        stock.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
        val ours = layout(conf, Files.createTempDirectory("graft-localfs"))
        assert(ours === layout(stock, Files.createTempDirectory("graft-stockfs")))
        assert(ours.keySet === Set("f", ".f.crc", "g", ".g.crc", "a", "a/b", "s", "d", "d/e",
          "d/c", "d/.c.crc"))
        assert(ours("f") === Integer.parseInt(file, 8))
        assert(ours("a/b") === Integer.parseInt(dirBits, 8))
        assert(ours("s") === Integer.parseInt("1777", 8))
      }
  }

  test("getFileLinkStatus matches the stock filesystem, and forks no readlink for a non-link") {
    val dir = Files.createTempDirectory("graft-links")
    Files.writeString(dir.resolve("t"), "x")
    Files.createSymbolicLink(dir.resolve("l"), dir.resolve("t"))
    Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
    Files.createDirectory(dir.resolve("sub"))
    def raw(fs: RawLocalFileSystem) = { fs.initialize(local, new Configuration()); fs }
    val (ours, stock) = (raw(new NioRawLocalFileSystem), raw(new RawLocalFileSystem))
    def status(fs: FileSystem, p: Path) =
      try {
        val s = fs.getFileLinkStatus(p)
        Right((s.getPath, s.isSymlink, Option.when(s.isSymlink)(s.getSymlink), s.isDirectory,
          s.getLen))
      } catch { case e: FileNotFoundException => Left(e.getClass) }
    for (name <- Seq("t", "l", "dangling", "sub", "missing");
         p <- Seq(new Path(dir.resolve(name).toString), new Path(dir.resolve(name).toUri)))
      assert(status(ours, p) === status(stock, p), p)
    assert(status(ours, new Path(dir.resolve("l").toString)).exists(_._2), "a symlink is seen")
    val (_, spawns) = Spawns.during(ours.getFileLinkStatus(new Path(dir.resolve("t").toUri)))
    assert(!spawns.contains("readlink"), spawns)
  }

  test("the default file: filesystem keeps the lakehouse's hard-link commit point") {
    val hfs = new Path(Files.createTempDirectory("graft-commitpoint").toUri)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(hfs.isInstanceOf[NioLocalFileSystem])
    assert(VersionedTable.localFileOf(hfs).isDefined)
  }
}
