package graft.sources

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import java.nio.file.attribute.PosixFilePermission._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FsConstants, FsServerDefaults,
  LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.local.LocalConfigKeys
import org.apache.hadoop.fs.permission.FsPermission

/** The `file:` file system of every graft session: Hadoop's
  * checksummed `LocalFileSystem` (each data file keeps its `.crc`
  * sibling) over a raw local file system that sets modes without
  * starting a process.
  *
  * Without the native `libhadoop`, `RawLocalFileSystem.setPermission`
  * runs `/bin/chmod` once for every file and directory it creates, a
  * fork of about 4 ms; a warehouse commit creates dozens of them.
  * `Raw.setPermission` sets the same nine mode bits through
  * `Files.setPosixFilePermissions` instead.  Files, layout, checksums
  * and the resulting modes are unchanged.
  *
  * Contract:
  *  - the resulting `rwxrwxrwx` bits equal the stock path's for every
  *    mode 0o000–0o777;
  *  - a mode with the sticky bit, or a file system without POSIX
  *    attributes, takes the stock path;
  *  - a missing path raises an `IOException`, as the stock path does.
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  /** The same file system behind Hadoop's `FileContext` API (the
    * `fs.AbstractFileSystem.file.impl` of every graft session), which
    * Spark's streaming checkpoint files go through: the stock
    * `org.apache.hadoop.fs.local.LocalFs` — a `ChecksumFs` over a
    * `RawLocalFs` — with `Raw` as the delegate, so only the way modes
    * are set differs.  Like the stock class it ignores `uri` and
    * serves `file:///`. */
  class Afs(uri: URI, conf: Configuration) extends ChecksumFs(new RawAfs(conf))

  /** `org.apache.hadoop.fs.local.RawLocalFs` over `Raw`. */
  class RawAfs(conf: Configuration) extends DelegateToFileSystem(
      FsConstants.LOCAL_FS_URI, new Raw, conf, FsConstants.LOCAL_FS_URI.getScheme, false) {
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    @deprecated("as in AbstractFileSystem", "")
    override def getServerDefaults: FsServerDefaults = LocalConfigKeys.getServerDefaults
    // the OS validates local names, as RawLocalFileSystem leaves it
    override def isValidName(src: String): Boolean = true
  }

  /** The `rwxrwxrwx` bits, most significant first. */
  private val Bits: Array[PosixFilePermission] = Array(
    OWNER_READ, OWNER_WRITE, OWNER_EXECUTE,
    GROUP_READ, GROUP_WRITE, GROUP_EXECUTE,
    OTHERS_READ, OTHERS_WRITE, OTHERS_EXECUTE)

  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    for (i <- Bits.indices if (mode & (1 << (8 - i))) != 0) s.add(Bits(i))
    s
  }

  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else
        try Files.setPosixFilePermissions(pathToFile(p).toPath, posix(mode))
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }
}
