package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumFs, DelegateToFileSystem, FsServerDefaults, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.fs.local.LocalConfigKeys

import java.net.URI
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission

/** The `file:` filesystem every [[graft.GraftSession]] installs
  * (`fs.file.impl`): Hadoop's checksummed local FS, except that
  * permissions are set through `java.nio` instead of a forked `chmod`.
  * Without Hadoop's native library, the stock raw FS forks one `chmod`
  * per file and directory it creates, which costs 7-10 ms per create
  * against under 1 ms here. Bits NIO cannot express (sticky, setuid,
  * setgid) and non-POSIX filesystems fall back to the stock path.
  */
final class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val bits = permission.toShort & 0xfff
      if ((bits & ~0x1ff) != 0) super.setPermission(p, permission)
      else try Files.setPosixFilePermissions(pathToFile(p).toPath, posix(bits))
      catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }

  // PosixFilePermission lists OWNER_READ … OTHERS_EXECUTE, i.e. mode bits 8 … 0
  private def posix(bits: Int): java.util.Set[PosixFilePermission] = {
    val s = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (perm, i) =>
      if ((bits & (1 << (8 - i))) != 0) s.add(perm)
    }
    s
  }

  /** The same for `FileContext` (`fs.AbstractFileSystem.file.impl`),
    * which structured-streaming checkpoints write through: Hadoop's
    * `local.LocalFs` over [[Raw]].
    */
  final class Fc(uri: URI, conf: Configuration) extends ChecksumFs(new RawFc(uri, conf))

  private final class RawFc(uri: URI, conf: Configuration)
      extends DelegateToFileSystem(uri, new Raw, conf, "file", false) {
    // as Hadoop's `local.RawLocalFs`
    override def getUriDefaultPort: Int = -1
    override def getServerDefaults(f: Path): FsServerDefaults = LocalConfigKeys.getServerDefaults
    override def isValidName(src: String): Boolean = true
  }
}
