package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local file system without a process per file.
  *
  * Without `libhadoop`, `RawLocalFileSystem` runs a `chmod` process for
  * every file and dir it creates with a permission, and a `readlink`
  * process for every `getFileLinkStatus` (which `FileContext.rename`, and
  * so every streaming offset and commit log entry, calls). This class
  * does both through `java.nio` and leaves the rare cases, special mode
  * bits and real symlinks, to Hadoop. `src/main/resources/core-site.xml`
  * registers it and [[GraftLocalFs]] for `file:`.
  */
class GraftRawLocalFileSystem extends RawLocalFileSystem {
  /** The nine rwx bits, as `chmod` would set them. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val bits = permission.toShort
    if ((bits & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(new FsPermission(bits).toString))
  }

  /** What Hadoop returns when `readlink` prints nothing: the plain status. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The checksummed `FileSystem` for `file:`. It must be a
  * `LocalFileSystem`: `FileSystem.getLocal` casts to one.
  */
class GraftLocalFileSystem extends LocalFileSystem(new GraftRawLocalFileSystem)

/** The checksummed `AbstractFileSystem` for `file:`, which `FileContext`
  * uses: Hadoop's `LocalFs` over [[GraftRawLocalFileSystem]].
  */
class GraftLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(GraftLocalFs.raw(uri, conf))

object GraftLocalFs {
  /** Hadoop's `RawLocalFs` over [[GraftRawLocalFileSystem]]. */
  private def raw(uri: URI, conf: Configuration): AbstractFileSystem =
    new DelegateToFileSystem(uri, new GraftRawLocalFileSystem, conf,
        FsConstants.LOCAL_FS_URI.getScheme, false) {
      override def getUriDefaultPort: Int = -1
      override def getServerDefaults(f: Path): FsServerDefaults =
        LocalConfigKeys.getServerDefaults
      override def getServerDefaults: FsServerDefaults =
        LocalConfigKeys.getServerDefaults
      override def isValidName(src: String): Boolean = true
    }
}
