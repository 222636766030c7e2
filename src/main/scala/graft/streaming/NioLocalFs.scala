package graft.streaming

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local `file:` FileContext (`LocalFs`) without a process per
  * file operation. Without libhadoop (`NativeIO` unavailable) Hadoop's
  * `RawLocalFileSystem` spawns `chmod` for every `setPermission` and
  * `readlink` for every `getFileLinkStatus`. Spark's default checkpoint
  * manager calls them on every temp-file create, mkdir and rename
  * (source and destination, data file and `.crc` sibling), so each
  * offset-log, commit-log and state-store delta write forked several
  * processes. Here plain rwx modes are set with java.nio and a path that
  * is not a symlink answers its link status from `getFileStatus`;
  * sticky-bit modes and symlinks keep Hadoop's own code. Checksums,
  * rename semantics and the on-disk layout are `LocalFs`'s.
  *
  * Scope: only the FileContext (`AbstractFileSystem`) path of the `file`
  * scheme, remapped per session through `ConfKey`. HDFS and object-store
  * checkpoints are untouched, and so is the cached `FileSystem` that
  * data writers use. The (URI, Configuration) constructor is the shape
  * `AbstractFileSystem.get` instantiates; like `LocalFs`, it ignores the
  * URI. */
final class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioLocalFs.Raw(conf))

object NioLocalFs {
  /** The Hadoop key that picks the `file` scheme's FileContext; a session
    * conf entry reaches every Hadoop conf the session builds. */
  val ConfKey = "fs.AbstractFileSystem.file.impl"

  /** `RawLocalFs` over [[NioRawLocalFileSystem]], rooted at `file:///`. */
  private final class Raw(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}

/** `RawLocalFileSystem` whose permission and link-status calls on plain
  * files stay in the JVM; see [[NioLocalFs]]. */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission) // sticky/setuid/setgid
    else {
      // PosixFilePermission lists owner r,w,x .. others x: bit 8 down to 0
      val bits = PosixFilePermission.values.zipWithIndex
        .collect { case (b, i) if (mode & (1 << (8 - i))) != 0 => b }
      Files.setPosixFilePermissions(pathToFile(p).toPath, java.util.Set.of(bits: _*))
    }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}
