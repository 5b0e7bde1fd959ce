package graft.fs

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without forked processes. Without libhadoop,
  * the stock class runs `chmod` after every `create` and `mkdirs` and
  * `readlink` on every `getFileLinkStatus` (each FileContext rename asks
  * it of both paths). Here permissions go through `java.nio`, and only a
  * real symlink takes the stock `readlink` path; a sticky bit or a store
  * without POSIX permissions keeps the stock `chmod`. Registered for
  * `file:` in `core-site.xml`, so every Hadoop `Configuration` in the JVM
  * picks it up.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort.toInt
    // PosixFilePermission's order is owner rwx, group rwx, others rwx:
    // ordinal i is mode bit 0400 >> i
    val perms = PosixFilePermission.values.toSet
      .filter(x => (bits & (0x100 >> x.ordinal)) != 0)
    if ((bits & ~0x1ff) != 0) super.setPermission(p, permission)
    else try Files.setPosixFilePermissions(pathToFile(p).toPath, perms.asJava)
    catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed local filesystem over
  * [[NioRawLocalFileSystem]]. `FileSystem.getLocal` casts to
  * `LocalFileSystem`. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** FileContext's raw local filesystem over [[NioRawLocalFileSystem]],
  * with the overrides of Hadoop's `RawLocalFs`, whose constructors are
  * package-private. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** `fs.AbstractFileSystem.file.impl`: FileContext's checksummed local
  * filesystem (Spark's streaming checkpoint writes through it), the
  * counterpart of Hadoop's `LocalFs`. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(uri, conf))
