package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsConstants, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without its two per-file shell forks.
  * Without libhadoop, `RawLocalFileSystem` runs a shell `chmod` for every
  * file and directory it creates, and a shell `readlink` for every
  * `getFileLinkStatus`, which `FileContext.rename` calls on both ends.
  * The `readlink` is handed a `file:` URI, so it always fails and falls
  * through to `getFileStatus`. Both calls sit on every streaming
  * checkpoint write (state deltas, offset and commit logs).
  *
  * The same mode bits are set through `java.nio`, and a path that is no
  * symlink gets `getFileStatus`, which is what the failed `readlink`
  * led to anyway. A sticky bit (which `java.nio` cannot set) and a real
  * symlink take Hadoop's own path.
  */
class ForkFreeLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      // PosixFilePermission lists owner rwx, group rwx, others rwx:
      // ordinal i is mode bit 8 - i
      val mode = permission.toShort.toInt
      val perms = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
      PosixFilePermission.values
        .filter(b => (mode >> (8 - b.ordinal) & 1) == 1).foreach(perms.add)
      Files.setPosixFilePermissions(pathToFile(p).toPath, perms)
    }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** [[ForkFreeLocalFileSystem]] as the `FileContext` filesystem of the
  * `file:` scheme, wrapped as Hadoop's `LocalFs` wraps its own: `.crc`
  * checksum files over a delegate carrying `RawLocalFs`'s overrides.
  * Registered by [[GraftConfig.useSplittableWrites]].
  */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))

private[graft] class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}
