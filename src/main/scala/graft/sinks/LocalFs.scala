package graft.sinks

import java.nio.file.Files
import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermission}

import org.apache.hadoop.fs.{LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.DataFrameWriter

/** The `file:` filesystem graft's writers stage through: Hadoop's
  * checksummed [[LocalFileSystem]] (so every file keeps its `.crc`)
  * over [[LocalFs.Raw]], which sets permissions in-process.
  *
  * Stock `RawLocalFileSystem.setPermission` runs a forked `chmod`
  * whenever libhadoop is not loaded, as in any Spark started from jars
  * alone, and Hadoop calls it for every directory it makes and every
  * file it creates (each data file, its `.crc`, `_SUCCESS`): about 87
  * forks to stage one 9-table SQLite catalog. [[LocalFs.Raw]] applies
  * the same mode bits through `java.nio`, so staged files and
  * directories get the modes stock Hadoop gives them under the same
  * `fs.permissions.umask-mode`, without a process per path.
  */
class LocalFs extends LocalFileSystem(new LocalFs.Raw)

object LocalFs {

  /** A [[RawLocalFileSystem]] whose `setPermission` applies the mode
    * bits with `Files`' POSIX view. A sticky bit (which `java.nio`
    * cannot set) or a store without a POSIX view takes the stock path.
    */
  class Raw extends RawLocalFileSystem {
    override def setPermission(p: Path, permission: FsPermission): Unit = {
      val view = Files.getFileAttributeView(pathToFile(p).toPath,
        classOf[PosixFileAttributeView])
      if (permission.getStickyBit || view == null)
        super.setPermission(p, permission)
      else view.setPermissions(posix(permission))
    }
  }

  /** The rwx bits of `permission` as `java.nio` permissions, which
    * run from owner read (0400) to others execute (0001).
    */
  private def posix(
      permission: FsPermission): java.util.Set[PosixFilePermission] = {
    val mode = permission.toShort
    val out = java.util.EnumSet.noneOf(classOf[PosixFilePermission])
    PosixFilePermission.values.zipWithIndex.foreach { case (b, i) =>
      if ((mode & (0x100 >> i)) != 0) out.add(b)
    }
    out
  }

  /** `w` writing `file:` paths through [[LocalFs]]; other schemes are
    * unaffected. The cache is turned off for the write's `file:`
    * filesystem: Hadoop caches one instance per scheme and ignores
    * `fs.file.impl` once the stock one is cached.
    */
  def writer[T](w: DataFrameWriter[T]): DataFrameWriter[T] =
    w.option("fs.file.impl", classOf[LocalFs].getName)
      .option("fs.file.impl.disable.cache", "true")
}
