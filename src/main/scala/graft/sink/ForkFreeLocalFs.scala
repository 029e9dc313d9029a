package graft.sink

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Hadoop's raw local file system, minus its child processes.
  *
  * Without libhadoop, the stock `RawLocalFileSystem.setPermission`
  * forks `chmod` for every file, `.crc`, `_SUCCESS` and directory a
  * write creates, and `getFileLinkStatus` forks `readlink` on every
  * checkpoint rename. A forked `chmod` costs about 4 ms of wait, the
  * same change in-process about 0.01 ms (warm loop of 300 calls, 4-core
  * x86 box). Here a mode within 0777 is
  * set with `Files.setPosixFilePermissions` (exactly the bits given, as
  * `chmod` sets them; callers apply the umask first), and a path that
  * is not a symlink answers its link status with its plain status —
  * what the stock method returns for it. Any other mode (sticky,
  * setuid) and any symlink take the stock path. */
class ForkFreeRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xffff
    if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else Files.setPosixFilePermissions(pathToFile(p).toPath,
      ForkFreeLocalFs.posixBits(mode))
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(pathToFile(f).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

/** The checksummed `file:` [[org.apache.hadoop.fs.FileSystem]] over
  * [[ForkFreeRawLocalFileSystem]] — what `fs.file.impl` names for a
  * sink write ([[ForkFreeLocalFs.writeOptions]]). */
class ForkFreeLocalFileSystem
    extends LocalFileSystem(new ForkFreeRawLocalFileSystem)

/** The checksummed `file:` [[org.apache.hadoop.fs.AbstractFileSystem]]
  * (the `FileContext` side, which Spark's stream checkpoint logs use)
  * over the same raw file system: the stock `LocalFs` with its raw
  * layer swapped. */
class ForkFreeLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new ForkFreeRawLocalFs(uri, conf))

/** The stock `RawLocalFs` (whose constructors are package-private),
  * delegating to [[ForkFreeRawLocalFileSystem]]. */
private[sink] class ForkFreeRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new ForkFreeRawLocalFileSystem, conf,
      "file", false) {
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults =
    LocalConfigKeys.getServerDefaults()
  override def isValidName(src: String): Boolean = true
}

object ForkFreeLocalFs {

  /** Write options that route one write's `file:` I/O, on the driver
    * and on every executor, through [[ForkFreeLocalFileSystem]]. A
    * write's options reach only that write's Hadoop conf, so no session
    * conf changes; the cache is off so the JVM-wide cached `file:`
    * instance (the stock one) is not what the write gets. Paths on any
    * other scheme are untouched. */
  val writeOptions: Map[String, String] = Map(
    "fs.file.impl" -> classOf[ForkFreeLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true")

  /** Session conf that makes every `FileContext` on `file:` — the
    * stream checkpoint's offset, commit and source logs — use
    * [[ForkFreeLocalFs]]. Scope it with [[ParquetSink.withConf]]. */
  val checkpointConf: Map[String, String] = Map(
    "fs.AbstractFileSystem.file.impl" -> classOf[ForkFreeLocalFs].getName)

  private val perms = PosixFilePermission.values

  /** The POSIX permission set of a mode within 0777
    * (`PosixFilePermission` is declared owner → others, read → execute,
    * i.e. from bit 0400 down to bit 0001). */
  private[sink] def posixBits(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    perms.indices.foreach(i => if ((mode & (0x100 >> i)) != 0) s.add(perms(i)))
    s
  }
}
