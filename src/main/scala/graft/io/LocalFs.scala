package graft.io

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, InvalidPathException, NoSuchFileException, Paths}
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's local filesystem without process starts.
  *
  * A JVM without native libhadoop (this engine's normal deployment:
  * Spark's bundled jars carry none) makes Hadoop's `RawLocalFileSystem`
  * start a `chmod` process for every file, `.crc` sidecar and directory
  * it creates, and a `readlink` process for every path a `FileContext`
  * rename checks. A streaming micro-batch's WAL, commit log and
  * state-store deltas, and every `KvStore` upsert, go through those
  * calls: about 170 processes per micro-batch, which cost more than the
  * writes themselves. This subclass answers both calls through
  * `java.nio.file` instead. Everything else, checksums included, is the
  * stock implementation: [[NioLocalFileSystem]] and [[NioLocalFs]] wrap
  * it exactly as Hadoop's `LocalFileSystem` and `LocalFs` wrap the
  * stock raw filesystem. `Sessions.local` installs both for `file:`.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** `chmod` without a process. The sticky bit (no `PosixFilePermission`
    * for it) and a non-POSIX filesystem keep the stock path.
    */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else {
      // the actions, not toString: FileContext passes FsCreateModes,
      // whose toString is not a mode string
      val mode = Seq(permission.getUserAction, permission.getGroupAction, permission.getOtherAction)
        .map(_.SYMBOL).mkString
      try Files.setPosixFilePermissions(pathToFile(p).toPath, PosixFilePermissions.fromString(mode))
      catch {
        case _: UnsupportedOperationException => super.setPermission(p, permission)
        case e: NoSuchFileException =>
          throw new FileNotFoundException(s"File $p does not exist: ${e.getMessage}")
      }
    }

  /** Hadoop's deprecated (non-native) link status, which is the one this
    * JVM runs, with the `readlink` process replaced by
    * `Files.readSymbolicLink` on the same string (`new File(f.toString)`
    * there). A path that is no link (including the `file:`-qualified
    * strings Hadoop passes, which name no file) is its plain status; a
    * link keeps the stock path, which builds the link status.
    */
  override def getFileLinkStatus(f: Path): FileStatus = {
    val isLink =
      try { Files.readSymbolicLink(Paths.get(f.toString)); true }
      catch {
        case _: java.io.IOException | _: UnsupportedOperationException |
             _: InvalidPathException => false
      }
    if (isLink) super.getFileLinkStatus(f) else getFileStatus(f)
  }
}

/** The `FileSystem` API's `file:` filesystem: checksummed, like
  * Hadoop's `LocalFileSystem`, over [[NioRawLocalFileSystem]].
  */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** The `FileContext` API's raw `file:` filesystem: Hadoop's `RawLocalFs`
  * (whose constructors are package-private) over
  * [[NioRawLocalFileSystem]].
  */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf, "file", false) {
  override def getUriDefaultPort: Int = -1 // file:/// has no port
  @deprecated("FsServerDefaults per path", "hadoop 2.x")
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  // local filesystems differ in which names they accept; the OS decides
  override def isValidName(src: String): Boolean = true
}

/** The `FileContext` API's `file:` filesystem (streaming checkpoints and
  * the state store use it): checksummed, like Hadoop's `LocalFs`, over
  * [[NioRawLocalFs]]. Like `LocalFs`, it roots the raw filesystem at
  * `file:///` whatever path URI it was asked for.
  */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(FsConstants.LOCAL_FS_URI, conf))
