package graft

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Tiny filesystem helpers shared by the sink/test-harness paths —
  * previously three verbatim copies of the recursive delete walker
  * (EventsStream.swapIntoPlace, StreamingGate.freshDir,
  * ObjectSink.deleteRec); a future fix (symlink guard, retry) must land
  * once, not thrice. */
object Fs {
  def deleteRec(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
    f.delete()
  }

  /** Session conf entries that route `file://` through [[NioLocalFileSystem]]
    * (FileSystem API: sinks, parquet, checkpoints) and [[NioLocalFs]]
    * (FileContext API: the streaming offset/commit logs and state store). */
  val nioLocalConf: Map[String, String] = Map(
    "spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName)
}

/** Hadoop's raw local filesystem with its two per-call forks replaced by
  * java.nio. Without the native `libhadoop`, `RawLocalFileSystem` runs
  * `chmod` as a child process after every create and mkdir, and
  * `readlink` on every `getFileLinkStatus` — which `FileContext.rename`
  * calls twice. A streaming trigger writes an offset log, a commit log
  * and one state delta per partition, each a create plus a rename, so a
  * `q_stream_window` drain forked 266 of them. Everything else (data
  * path, `.crc` side files, rename semantics) is the stock class. */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  /** `chmod` through `Files.setPosixFilePermissions`; nio has no sticky
    * bit, so a sticky mode still takes the stock (forking) path. */
  override def setPermission(p: Path, permission: FsPermission): Unit =
    if (permission.getStickyBit) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      PosixFilePermissions.fromString(permission.getUserAction.SYMBOL +
        permission.getGroupAction.SYMBOL + permission.getOtherAction.SYMBOL))

  /** A path that is not a symlink gets its plain status, as the stock
    * path returns it when `readlink` prints nothing; a real link (or a
    * dangling one) still takes the stock path. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** `fs.file.impl`: the checksummed local FileSystem over the nio raw one. */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: `LocalFs` (a `ChecksumFs` over
  * `RawLocalFs`) rebuilt over the nio raw filesystem; the overrides are
  * `RawLocalFs`'s own, whose constructors are package-private. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new DelegateToFileSystem(uri, new NioRawLocalFileSystem,
      conf, "file", false) {
      override def getUriDefaultPort: Int = -1
      override def getServerDefaults(f: Path): FsServerDefaults =
        LocalConfigKeys.getServerDefaults()
      override def getServerDefaults(): FsServerDefaults =
        LocalConfigKeys.getServerDefaults()
      override def isValidName(src: String): Boolean = true
    })
