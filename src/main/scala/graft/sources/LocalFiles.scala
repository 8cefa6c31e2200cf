package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The engine's `file:` filesystem: Hadoop's raw local filesystem minus
  * its forks.
  *
  * Hadoop ships here without `libhadoop`, so stock `RawLocalFileSystem`
  * shells out for two calls every streaming epoch makes several times:
  * `setPermission` (`chmod`, after every `create` — data file and `.crc` —
  * and every `mkdirs`) and `getFileLinkStatus` (`readlink`, twice per
  * `FileContext` rename: every offset-log, commit-log, state-delta and
  * sink-log commit). Each fork also starts Shell's stderr reader thread
  * and a process reaper. Here both go through `java.nio`; every other call
  * is stock. [[LocalFiles.Checksummed]] (the `FileSystem`) and
  * [[LocalFiles.Context]] (the `FileContext` binding) wrap it in Hadoop's
  * own checksum layers, so `.crc` files are still written and verified.
  * `GraftSession.builder` binds both to the `file:` scheme; other schemes
  * are untouched (LocalFilesSpec). */
class LocalFiles extends RawLocalFileSystem {

  /** The mode through `java.nio`, from the permission's 0777 bits; sticky,
    * setuid and setgid modes (none of which nio can set) go to stock. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort.toInt
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath, LocalFiles.posix(mode))
  }

  /** A plain file or directory is its own link status (a missing path
    * still throws FileNotFoundException from getFileStatus); only a real
    * symlink goes to stock for its target. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object LocalFiles {

  /** PosixFilePermission declares owner rwx, group rwx, others rwx: mode
    * bits 8 down to 0. */
  private def posix(mode: Int): java.util.Set[PosixFilePermission] =
    PosixFilePermission.values.zipWithIndex
      .collect { case (p, i) if (mode & (0x100 >> i)) != 0 => p }.toSet.asJava

  /** `fs.file.impl`: the checksummed `LocalFileSystem` over [[LocalFiles]].
    * A rename onto an existing file returns false, as on HDFS: the rule
    * `file:` had before, when the classpath's service loader bound it to
    * hive-exec's `ProxyLocalFileSystem` (a `LocalFileSystem` with just
    * this override); a bare `File.renameTo` would replace the file. */
  final class Checksummed extends LocalFileSystem(new LocalFiles) {
    override def rename(src: Path, dst: Path): Boolean = !isFile(dst) && super.rename(src, dst)
  }

  /** `fs.AbstractFileSystem.file.impl`: stock `LocalFs`'s layers —
    * `ChecksumFs` over a delegate that keeps `RawLocalFs`'s port, name
    * rule and server defaults — over [[LocalFiles]]. */
  final class Context(uri: URI, conf: Configuration) extends ChecksumFs(new Raw(uri, conf))

  private final class Raw(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new LocalFiles, conf, "file", false) {
    override def getUriDefaultPort: Int = -1
    // local filesystems differ in what they accept; the OS decides
    override def isValidName(src: String): Boolean = true
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  }
}
