package graft.io

import java.io.{File, IOException}
import java.net.URI
import java.nio.file.{Files, LinkOption}
import java.nio.file.attribute.PosixFilePermission

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FileStatus, FsConstants,
  FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.io.nativeio.NativeIO

/** The engine's raw `file:` file system: Hadoop's RawLocalFileSystem
  * without the shell commands it runs when `libhadoop` is missing.
  *
  * Without NativeIO the stock class forks `chmod` in `setPermission`
  * (every file create, every mkdirs with a mode) and `readlink` in
  * `getFileLinkStatus` (both ends of every FileContext rename). The
  * offset and commit logs, the state-store deltas and the file sink
  * write and rename files on every micro-batch, so each batch paid
  * dozens of process starts. Here the same system calls go through
  * java.nio. Everything else is the stock code: files, `.crc`
  * sidecars, permissions and the rename protocol are unchanged.
  *
  * The NIO path runs only where it provably does what the shell
  * command does. Every other case runs the stock method: NativeIO
  * present, a symlink, a setuid/setgid/sticky bit, or an NIO error
  * (the stock call then raises the stock exception).
  *
  * Registered for every Hadoop `Configuration` in an engine JVM by
  * `core-site.xml`, through the two wrappers below.
  */
class NioRawLocalFileSystem extends RawLocalFileSystem {
  import NioRawLocalFileSystem._

  /** Stock: `chmod %04o <canonical path>`. */
  override def setPermission(p: Path, permission: FsPermission): Unit = {
    val mode = permission.toShort & ModeBits
    if (NativeIO.isAvailable || (mode & SpecialBits) != 0 || !chmod(pathToFile(p), mode))
      super.setPermission(p, permission)
  }

  /** Stock: `readlink` on `new File(f.toString)`; an empty answer (not
    * a link, or no such file) means `getFileStatus(f)`. The same file
    * is asked here, so only a symlink takes the stock path. */
  override def getFileLinkStatus(f: Path): FileStatus =
    if (Files.isSymbolicLink(new File(f.toString).toPath)) super.getFileLinkStatus(f)
    else getFileStatus(f)
}

object NioRawLocalFileSystem {
  private val ModeBits = 0xfff     // 07777
  private val SpecialBits = 0xe00  // 07000: setuid, setgid, sticky
  private val TypeBits = 0xf000    // S_IFMT
  private val SymlinkType = 0xa000 // S_IFLNK

  /** chmod(2) through NIO, when that equals `chmod` with a 4-digit mode
    * free of special bits: `f` is not a symlink and has no special bit
    * set (GNU chmod keeps a directory's setuid/setgid there, chmod(2)
    * clears them). False if it declined or failed, or the platform has
    * no `unix:mode` attribute. */
  private def chmod(f: File, mode: Int): Boolean = try {
    val path = f.toPath
    val current = Files.getAttribute(path, "unix:mode", LinkOption.NOFOLLOW_LINKS)
      .asInstanceOf[Int]
    (current & TypeBits) != SymlinkType && (current & SpecialBits) == 0 && {
      Files.setPosixFilePermissions(path, permissions(mode)); true
    }
  } catch { case _: IOException | _: UnsupportedOperationException => false }

  /** rwxrwxrwx bits as NIO permissions (PosixFilePermission lists them
    * in that order). */
  private def permissions(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (p, i) =>
      if ((mode & (0x100 >> i)) != 0) set.add(p)
    }
    set
  }
}

/** `fs.file.impl`: the stock checksummed LocalFileSystem over
  * [[NioRawLocalFileSystem]], for `FileSystem` users (the parquet sink,
  * Spark's file listing). */
class NioLocalFileSystem extends LocalFileSystem(new NioRawLocalFileSystem)

/** `fs.AbstractFileSystem.file.impl`: stock `LocalFs` (a ChecksumFs over
  * `RawLocalFs`) with [[NioRawLocalFileSystem]] underneath, for
  * `FileContext` users (checkpoint logs, state-store deltas). Like
  * stock, the raw layer is always rooted at `file:///`. */
class NioLocalFs(uri: URI, conf: Configuration) extends ChecksumFs(new NioRawLocalFs(conf))

/** Stock `RawLocalFs` delegating to [[NioRawLocalFileSystem]], with
  * its overrides. */
private[io] class NioRawLocalFs(conf: Configuration) extends DelegateToFileSystem(
    FsConstants.LOCAL_FS_URI, new NioRawLocalFileSystem, conf,
    FsConstants.LOCAL_FS_URI.getScheme, false) {
  override def getUriDefaultPort: Int = -1 // file:/// has no port
  override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
  override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
  // local file systems differ in what a valid name is: leave it to the OS
  override def isValidName(src: String): Boolean = true
}
