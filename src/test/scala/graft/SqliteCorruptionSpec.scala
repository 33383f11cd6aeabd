package graft

import java.io.RandomAccessFile
import java.nio.file.{Files, Paths}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import graft.sources.{SqliteFile, SqliteIndex}

/** One-pointer corruptions that once sent the reader into an endless
  * loop, patched into temp copies of committed fixtures. Each must now
  * fail within seconds with an IllegalStateException naming the page:
  *  - a table root whose rightmost (or leftmost) child points at the
  *    root itself (the `maxRowid`/`minRowid` spine walks);
  *  - an overflow chain whose last page links back to its first (every
  *    record walk, the local one and the Spark scan);
  *  - a chain that ends early, or a payload size larger than the file;
  *  - a root whose rightmost child is the root, under a full scan (the
  *    b-tree walk itself, and so the Spark scan and the migration), and
  *    one whose leftmost child is the root, under the leaf count;
  *  - an index root whose rightmost child is the root, under an index
  *    range probe and the Spark scan's pushed-down probe.
  * Each body runs on a daemon thread and the test gives up after a
  * fixed budget, so a regression fails here rather than hanging the
  * suite.
  */
class SqliteCorruptionSpec extends SparkFunSuite {

  private val res = "src/test/resources/sqlite"
  private val budget = 10.seconds

  /** The IllegalStateException `body` fails with, anywhere in its
    * cause chain (a Spark task failure wraps it), within [[budget]].
    */
  private def failure(body: => Any): IllegalStateException = {
    val f = Future(body)(ExecutionContext.global)
    Await.ready(f, budget)
    val err = f.value.get.failed.getOrElse(
      fail("the corrupt file read without an error"))
    Iterator.iterate(err)(_.getCause).takeWhile(_ != null)
      .collectFirst { case e: IllegalStateException => e }
      .getOrElse(fail(s"expected an IllegalStateException, got $err"))
  }

  /** Page-level view of a writable fixture copy. */
  private final class Pages(raf: RandomAccessFile) {
    val size: Int = { raf.seek(16); val s = raf.readUnsignedShort(); if (s == 1) 65536 else s }
    val usable: Int = { raf.seek(20); size - raf.readUnsignedByte() }
    val count: Int = (raf.length() / size).toInt
    def start(n: Int): Long = (n - 1).toLong * size
    def hdr(n: Int): Long = start(n) + (if (n == 1) 100 else 0)
    def u8(at: Long): Int = { raf.seek(at); raf.readUnsignedByte() }
    def u16(at: Long): Int = { raf.seek(at); raf.readUnsignedShort() }
    def u32(at: Long): Int = { raf.seek(at); raf.readInt() }
    def put32(at: Long, v: Int): Unit = { raf.seek(at); raf.writeInt(v) }
    def put(at: Long, bytes: Int*): Unit = {
      raf.seek(at); bytes.foreach(raf.writeByte)
    }
    def cell(n: Int, i: Int, interior: Boolean): Long =
      start(n) + u16(hdr(n) + (if (interior) 12 else 8) + 2 * i)
    def varint(at: Long): (Long, Int) = {
      var v = 0L; var i = 0
      while (i < 8) {
        val x = u8(at + i)
        v = (v << 7) | (x & 0x7f)
        if ((x & 0x80) == 0) return (v, i + 1)
        i += 1
      }
      ((v << 8) | u8(at + 8), 9)
    }

    /** The first table-leaf cell that spills: (its page, the cell
      * offset, its overflow pages in chain order).
      */
    def spill(): (Int, Long, Seq[Int]) = {
      val (page, c, len, body) = (for {
        n <- (1 to count).iterator if u8(hdr(n)) == 0x0d
        i <- (0 until u16(hdr(n) + 3)).iterator
        c = cell(n, i, interior = false)
        (len, n1) = varint(c) if len > usable - 35
      } yield (n, c, len, c + n1 + varint(c + n1)._2)).next()
      val m = (usable - 12) * 32 / 255 - 23
      val k = m + ((len - m) % (usable - 4)).toInt
      val local = if (k <= usable - 35) k else m
      (page, c, Iterator.iterate(u32(body + local))(n => u32(start(n)))
        .takeWhile(_ != 0).toList)
    }
  }

  /** A temp copy of a committed fixture, changed by `patch`. */
  private def corrupted(fixture: String)(patch: Pages => Unit): String = {
    val dir = Files.createTempDirectory("sqlite-corrupt")
    val copy = dir.resolve(fixture)
    dir.toFile.deleteOnExit()
    Files.copy(Paths.get(res, fixture), copy)
    copy.toFile.deleteOnExit()
    val raf = new RandomAccessFile(copy.toFile, "rw")
    try patch(new Pages(raf)) finally raf.close()
    copy.toString
  }

  private lazy val events =
    SqliteFile.listTables(s"$res/cdc_v3.db").find(_.name == "events").get

  test("maxRowid: a root whose rightmost child is itself fails") {
    val root = events.rootPage
    val db = corrupted("cdc_v3.db") { p =>
      assert(p.u8(p.hdr(root)) == 0x05, "fixture root must be interior")
      p.put32(p.hdr(root) + 8, root)
    }
    val e = failure(SqliteFile.maxRowid(db, events))
    assert(e.getMessage.contains(s"page $root"), e.getMessage)
  }

  test("minRowid: a root whose leftmost child is itself fails") {
    val root = events.rootPage
    val db = corrupted("cdc_v3.db") { p =>
      p.put32(p.cell(root, 0, interior = true), root)
    }
    val e = failure(SqliteFile.minRowid(db, events))
    assert(e.getMessage.contains(s"page $root"), e.getMessage)
  }

  test("a full scan over a root whose rightmost child is itself fails: " +
      "the local walk, the Spark scan and the migration") {
    val root = events.rootPage
    val db = corrupted("cdc_v3.db") { p =>
      p.put32(p.hdr(root) + 8, root)
    }
    val cyclic = s"(?s)page \\d+: b-tree walk from page $root still reads .*"
    val walk = failure(SqliteFile.pagesTouched(db, events))
    assert(walk.getMessage.matches(cyclic), walk.getMessage)
    val scan = failure(SqliteFile.read(spark, db, events).count())
    assert(scan.getMessage.matches(cyclic), scan.getMessage)
    val out = Files.createTempDirectory("sqlite-corrupt-out")
    try {
      val migration = failure(graft.operators.MigrationJob
        .migrateSqliteFile(spark, db, "db", out.toString))
      assert(migration.getMessage.matches(cyclic), migration.getMessage)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(out.toFile)
  }

  test("leafPages: a root whose leftmost child is itself fails") {
    val root = events.rootPage
    val db = corrupted("cdc_v3.db") { p =>
      p.put32(p.cell(root, 0, interior = true), root)
    }
    val e = failure(SqliteFile.leafPages(db, SqliteFile.header(db), root))
    assert(e.getMessage.matches(s"(?s)page \\d+: .*b-tree at page $root.*"),
      e.getMessage)
  }

  test("a cyclic overflow chain fails the walk and the Spark scan") {
    var chain: Seq[Int] = Nil
    val db = corrupted("fixture_utf16le.db") { p =>
      chain = p.spill()._3
      assert(chain.size > 1, "fixture cell must spill over several pages")
      p.put32(p.start(chain.last), chain.head)
    }
    val tables = SqliteFile.listTables(db)
    val walk = failure(tables.foreach(SqliteFile.pagesTouched(db, _)))
    assert(walk.getMessage.contains(s"page ${chain.last}: overflow chain " +
      s"links on to page ${chain.head}"), walk.getMessage)
    val scan = failure(tables.foreach(SqliteFile.read(spark, db, _).count()))
    assert(scan.getMessage.contains(s"page ${chain.last}"), scan.getMessage)
  }

  test("a short overflow chain or an impossible payload size fails") {
    var chain: Seq[Int] = Nil
    val short = corrupted("fixture_utf16le.db") { p =>
      chain = p.spill()._3
      p.put32(p.start(chain.head), 0)
    }
    val e1 = failure(SqliteFile.listTables(short)
      .foreach(SqliteFile.pagesTouched(short, _)))
    assert(e1.getMessage.contains(s"page ${chain.head}: overflow chain " +
      "ended after"), e1.getMessage)

    var page = 0
    val huge = corrupted("fixture_utf16le.db") { p =>
      val (n, c, _) = p.spill()
      page = n
      assert(p.varint(c)._2 == 3, "fixture payload size must be 3 bytes")
      p.put(c, 0xff, 0xff, 0x7f) // 2^21 - 1 bytes: more than the file
    }
    val e2 = failure(SqliteFile.listTables(huge)
      .foreach(SqliteFile.pagesTouched(huge, _)))
    assert(e2.getMessage.contains(s"page $page: cell payload of 2097151 " +
      "bytes cannot fit"), e2.getMessage)
  }

  test("an index walk over a root whose rightmost child is itself fails: " +
      "the range probe and the Spark scan's pushed-down probe") {
    val ix = SqliteIndex.listIndexes(s"$res/index_fixture.db")
      .find(_.name == "ix_k").get
    val root = ix.rootPage
    val db = corrupted("index_fixture.db") { p =>
      assert(p.u8(p.hdr(root)) == 0x02, "ix_k's root must be interior")
      p.put32(p.hdr(root) + 8, root)
    }
    val cyclic = s"(?s)page \\d+: index ix_k walk from page $root still reads .*"
    val probe = failure(SqliteIndex.rangeRowids(db, SqliteFile.header(db), ix,
      SqliteIndex.KeyRange(Some(90L), loInc = true, None, hiInc = false)))
    assert(probe.getMessage.matches(cyclic), probe.getMessage)
    val scan = failure(spark.read.format("sqlite").option("path", db)
      .option("table", "t").load().filter("k >= 90").count())
    assert(scan.getMessage.matches(cyclic), scan.getMessage)
  }
}
