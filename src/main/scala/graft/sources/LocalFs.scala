package graft.sources

import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermission
import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** The checksummed local filesystem with a fork-free `setPermission`.
  *
  * Without Hadoop's native IO, `RawLocalFileSystem.setPermission` runs
  * a `chmod` subprocess (about 2–4 ms), and the local fs calls it for
  * every file it creates and every dir it creates with a mode: a
  * parquet part file, its `.crc`, each `_temporary` dir.  Here the
  * same already-umasked mode is set by one `chmod(2)` through
  * java.nio.  Modes nio cannot express (the sticky bit) and file
  * stores without POSIX attributes keep the stock path.  Everything
  * else — `.crc` sidecars, checksummed reads — is `LocalFileSystem`'s. */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {
  final class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val mode = permission.toShort.toInt
      if ((mode & ~0x1ff) != 0) super.setPermission(p, permission)
      else
        try Files.setPosixFilePermissions(pathToFile(p).toPath, posix(mode))
        catch { case _: UnsupportedOperationException => super.setPermission(p, permission) }
    }
  }

  // PosixFilePermission's ordinals run OWNER_READ (0400) .. OTHERS_EXECUTE (0001)
  private def posix(mode: Int): java.util.Set[PosixFilePermission] = {
    val set = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.foreach(b => if ((mode >> (8 - b.ordinal) & 1) != 0) set.add(b))
    set
  }

  /** The Hadoop settings that resolve `file:` to [[LocalFs]].  The
    * FileSystem cache is keyed on scheme, authority and user, not on
    * the impl class, so without `disable.cache` a conf that already
    * resolved `file:` would keep handing back the stock instance. */
  val Conf: Map[String, String] = Map(
    "fs.file.impl" -> classOf[LocalFs].getName,
    "fs.file.impl.disable.cache" -> "true")
}
