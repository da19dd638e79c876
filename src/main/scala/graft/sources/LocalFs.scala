package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's `file://` filesystem without shell forks. Without the native
  * `libhadoop`, stock `RawLocalFileSystem` runs `chmod` for every
  * permission it sets (each created file, `.crc` and directory) and
  * `readlink` for every link-status probe (each FileContext create and
  * rename of the streaming offset log, commit log and `_spark_metadata`).
  * These do the same through `java.nio.file`; modes, `.crc` files and
  * rename semantics are unchanged. Pinned for `file://` in
  * [[graft.Engine.configure]]. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, perm: FsPermission): Unit =
    // the sticky bit has no java.nio PosixFilePermission
    if (perm.getStickyBit) super.setPermission(p, perm)
    else try Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(perm.toString))
    catch { case _: UnsupportedOperationException => super.setPermission(p, perm) }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The checksummed `FileSystem` over [[NioRawLocalFileSystem]]
  * (`fs.file.impl`). */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The FileContext twin of [[NioRawLocalFileSystem]], mirroring Hadoop's
  * `local.RawLocalFs`, which hard-codes the stock raw filesystem. */
class NioRawLocalFs(conf: Configuration)
    extends DelegateToFileSystem(FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem,
      conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(): FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

/** The checksummed `AbstractFileSystem` over [[NioRawLocalFs]]
  * (`fs.AbstractFileSystem.file.impl`), mirroring Hadoop's `local.LocalFs`.
  * Hadoop instantiates it reflectively through a (URI, Configuration)
  * constructor; the URI is always `file:///`. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(conf))
