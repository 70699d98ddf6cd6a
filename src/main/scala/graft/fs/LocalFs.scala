package graft.fs

import java.net.URI
import java.nio.file.{FileSystems, Files}
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** Fork-free local filesystem for the engine's own writes.
  *
  * Without libhadoop (`NativeIO.isAvailable` false — the case for the
  * bundled `hadoop-client-api` jars), Hadoop's [[RawLocalFileSystem]] starts
  * a child process for two routine calls:
  *
  *  - `setPermission` runs `chmod` — on every file create (data and `.crc`)
  *    and every mkdir, so a partitioned write pays several forks per
  *    partition directory;
  *  - `getFileLinkStatus` runs `readlink` (`FileUtil.readLink`) — called on
  *    both sides of every FileContext rename, i.e. on every state-store
  *    delta, offset-log and commit-log entry of a streaming query.
  *
  * [[NioRawLocalFileSystem]] answers both through `java.nio.file` (one
  * syscall each, no fork) and keeps the stock class's result: the same mode
  * bits, the same `FileStatus`. It defers to the stock code wherever the
  * NIO form could differ — libhadoop present, a sticky bit requested, a
  * setuid/setgid directory (numeric `chmod` keeps those bits on a
  * directory; `setPosixFilePermissions` would clear them), or a real
  * symlink.
  *
  * [[conf]] is applied as writer options (`DataFrameWriter.options` reaches
  * the job's Hadoop conf on driver and tasks) and as session confs around a
  * streaming start (`SessionState.newHadoopConf` copies session confs into
  * the query's Hadoop conf). Schemes other than `file:` are untouched.
  */
object LocalFs {

  /** Hadoop conf entries selecting the NIO local filesystem for both Hadoop
    * APIs. The FileSystem cache is keyed by scheme, not by conf, so without
    * `disable.cache` a `file:` instance cached by an earlier read (stock
    * class) would be returned instead. */
  val conf: Map[String, String] = Map(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.file.impl.disable.cache" -> "true",
    "fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName)

  /** A copy of `base` with [[conf]] applied. */
  def hadoopConf(base: Configuration): Configuration = {
    val c = new Configuration(base)
    conf.foreach { case (k, v) => c.set(k, v) }
    c
  }

  /** The NIO forms apply: no libhadoop (whose JNI calls fork nothing
    * already) and a platform exposing the `unix` attribute view. */
  private[graft] val nioUsable: Boolean =
    !org.apache.hadoop.io.nativeio.NativeIO.isAvailable &&
      FileSystems.getDefault.supportedFileAttributeViews.contains("unix")

  /** The `rwxrwxrwx` bits of `mode` as NIO permissions. */
  private[fs] def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    // enum order is OWNER_READ .. OTHERS_EXECUTE, i.e. bit 8 down to bit 0
    PosixFilePermission.values.foreach { p =>
      if ((mode & (0x100 >> p.ordinal)) != 0) s.add(p)
    }
    s
  }
}

/** [[RawLocalFileSystem]] with fork-free `setPermission` and
  * `getFileLinkStatus` (see [[LocalFs]]). */
class NioRawLocalFileSystem extends RawLocalFileSystem {

  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & 0xffff
    if (!LocalFs.nioUsable || (mode & ~0x1ff) != 0) super.setPermission(p, permission)
    else {
      val path = pathToFile(p).toPath
      // st_mode, following links like chmod does
      val current = Files.getAttribute(path, "unix:mode").asInstanceOf[Int]
      val isDir = (current & 0xf000) == 0x4000
      if (isDir && (current & 0xc00) != 0) super.setPermission(p, permission)
      else Files.setPosixFilePermissions(path, LocalFs.posix(mode))
    }
  }

  override def getFileLinkStatus(f: Path): FileStatus =
    if (!LocalFs.nioUsable || Files.isSymbolicLink(pathToFile(f).toPath))
      super.getFileLinkStatus(f)
    else getFileStatus(f) // not a link: the stock result is getFileStatus(f)
}

/** The checksummed FileSystem-API wrapper (`fs.file.impl`). */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** FileContext-API delegate over [[NioRawLocalFileSystem]]; the overrides
  * mirror Hadoop's own `org.apache.hadoop.fs.local.RawLocalFs`. */
class NioRawLocalFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new NioRawLocalFileSystem, conf,
      FsConstants.LOCAL_FS_URI.getScheme, false) {
  def this(conf: Configuration) = this(FsConstants.LOCAL_FS_URI, conf)
  NioRawLocalFs.created.incrementAndGet()
  override def getUriDefaultPort: Int = -1
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  @deprecated("mirrors the deprecated AbstractFileSystem member", "")
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def isValidName(src: String): Boolean = true
}

object NioRawLocalFs {
  // spec hook: FileContext instances served by this class in this JVM (a
  // delegate's writes are counted in the AbstractFileSystem statistics,
  // which are shared by every `file:` implementation)
  private[graft] val created = new java.util.concurrent.atomic.AtomicLong(0L)
}

/** The checksummed FileContext-API filesystem
  * (`fs.AbstractFileSystem.file.impl`), as Hadoop's `local.LocalFs`. */
class NioLocalFs(uri: URI, conf: Configuration)
    extends ChecksumFs(new NioRawLocalFs(uri, conf)) {
  def this(conf: Configuration) = this(FsConstants.LOCAL_FS_URI, conf)
}
