package graft

import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission

import graft.sinks.LocalFs

object LocalFsSpec {

  /** The permission bits (sticky included) of a local path. */
  def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0x0fff

  /** Every path under `dir` (not `dir` itself) as (kind, mode): "dir"
    * for a directory, else the file name with a part file's task
    * number and job id cut out, so two writes of the same layout
    * compare equal.
    */
  def modes(dir: String): Set[(String, Int)] = {
    val root = Paths.get(dir)
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_ != root).map { p =>
      val kind =
        if (Files.isDirectory(p)) "dir"
        else p.getFileName.toString.replaceAll("part-\\d+-[0-9a-f-]+", "part")
      kind -> mode(p)
    }.toSet
    finally walk.close()
  }
}

/** [[LocalFs]] leaves the modes stock Hadoop leaves, and the writer
  * helper routes a write's `file:` paths through it.
  */
class LocalFsSpec extends SparkFunSuite {
  import LocalFsSpec._

  private def withTempDir[T](body: String => T): T = {
    val dir = Files.createTempDirectory("graft-localfs").toString
    try body(dir)
    finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  /** mkdirs, create and setPermission (plain and sticky) through `fs`
    * under `root`; the mode of every path made, by relative name.
    */
  private def exercise(fs: FileSystem, root: String): Map[String, Int] = {
    val dir = new Path(s"$root/a/b")
    assert(fs.mkdirs(dir))
    val out = fs.create(new Path(dir, "f.txt"))
    out.write("hello".getBytes("UTF-8"))
    out.close()
    fs.mkdirs(new Path(s"$root/s"))
    fs.setPermission(new Path(s"$root/s"), new FsPermission(oct("1777").toShort))
    fs.mkdirs(new Path(s"$root/p"))
    fs.setPermission(new Path(s"$root/p"), new FsPermission("751"))
    val base = Paths.get(root)
    val walk = Files.walk(base)
    try walk.iterator().asScala.filter(_ != base)
      .map(p => base.relativize(p).toString -> mode(p)).toMap
    finally walk.close()
  }

  private def fileSystem(fs: FileSystem, umask: String): FileSystem = {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", umask)
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  private def oct(s: String): Int = Integer.parseInt(s, 8)

  Seq("022" -> ("755", "644"), "027" -> ("750", "640"),
      "077" -> ("700", "600")).foreach { case (umask, (dirMode, fileMode)) =>
    test(s"mkdirs, create and setPermission leave stock modes under umask $umask") {
      withTempDir { root =>
        val stock = fileSystem(new LocalFileSystem, umask)
        val graft = fileSystem(new LocalFs, umask)
        def run(fs: FileSystem, sub: String) = {
          // a missing path is refused by both
          assertThrows[java.io.IOException] {
            fs.setPermission(new Path(s"$root/missing-$sub"), new FsPermission("640"))
          }
          exercise(fs, s"$root/$sub")
        }
        val want = run(stock, "stock")
        val got = run(graft, "graft")
        assert(got == want)
        assert(got("a/b") == oct(dirMode) && got("a/b/f.txt") == oct(fileMode) &&
          got("a/b/.f.txt.crc") == oct(fileMode), got)
        // the sticky bit takes the stock path, the plain mode does not
        assert(got("s") == oct("1777") && got("p") == oct("751"), got)
      }
    }
  }

  test("the writer helper stages through LocalFs with stock modes") {
    withTempDir { root =>
      val raw = FileSystem.getStatistics("file", classOf[LocalFs.Raw])
      val df = spark.range(100).selectExpr("id", "cast(id as string) as s")
      val before = raw.getBytesWritten
      df.write.parquet(s"$root/stock/t")
      assert(raw.getBytesWritten == before)
      LocalFs.writer(df.write).parquet(s"$root/graft/t")
      assert(raw.getBytesWritten > before)
      val got = modes(s"$root/graft")
      assert(got == modes(s"$root/stock"))
      assert(got.map(_._1) == Set("dir", "_SUCCESS", "._SUCCESS.crc",
        "part.snappy.parquet", ".part.snappy.parquet.crc"), got)
      val back = spark.read.parquet(s"$root/graft/t")
      assert(back.count() == 100L && back.exceptAll(df).isEmpty)
    }
  }
}
