package graft.streaming

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermissions}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants, FsServerDefaults, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The local file system with its two forking calls done in `java.nio`.
  * Without the native `libhadoop`, stock `RawLocalFileSystem` runs
  * `chmod` in a child process for every `setPermission` (every create
  * and mkdir that carries a permission) and `readlink` for every
  * `getFileLinkStatus` (twice per FileContext rename). Streaming
  * checkpoints create and rename several files per micro-batch, so each
  * trigger paid dozens of forks.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** `chmod` through POSIX file attributes; a sticky bit (which
    * `PosixFilePermission` cannot express) or a file system without
    * POSIX views goes the stock way.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val file = pathToFile(p).toPath
    if (permission.getStickyBit || Files.getFileAttributeView(file,
        classOf[PosixFileAttributeView]) == null)
      super.setPermission(p, permission)
    else Files.setPosixFilePermissions(file,
      PosixFilePermissions.fromString(permission.toString))
  }

  /** A path that is not a symlink has no link status of its own: its
    * file status is the answer (and a missing path still throws
    * `FileNotFoundException`). Only a real symlink asks the stock code.
    */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.AbstractFileSystem.file.impl` (the FileContext side, which
  * Spark's checkpoint file manager uses): Hadoop's `LocalFs` layering —
  * checksums over a delegate to the raw local file system — with
  * [[NioRawLocalFileSystem]] as the delegate, so the files and their
  * `.crc` sidecars are byte-for-byte those `LocalFs` writes.
  * `StatefulOps.streamingDefaults` installs it. Hadoop instantiates it
  * reflectively through this `(URI, Configuration)` constructor.
  */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioLocalFs.Raw(conf))

object NioLocalFs {
  /** The stock default this replaces; any other value is a user's choice. */
  val StockImpl = "org.apache.hadoop.fs.local.LocalFs"

  /** `RawLocalFs` (whose constructors are package-private) over the NIO
    * delegate, with its overrides.
    */
  final class Raw(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def getServerDefaults(): FsServerDefaults =
      LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
