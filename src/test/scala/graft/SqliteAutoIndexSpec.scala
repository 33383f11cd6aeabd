package graft

import graft.sources.{SqliteFile, SqliteIndex}
import SqliteIndex.{ColSpec, KeyRange}

/** Round-15 autoindex derivation: `sqlite_autoindex_<tbl>_<N>`
  * entries (UNIQUE / non-alias PRIMARY KEY constraints, no CREATE
  * INDEX sql to parse) served by deriving column specs from the
  * table's CREATE TABLE text — numbering, collation inheritance and
  * the rowid-alias quirks all pinned against sqlite's own PRAGMA
  * ground truth (printed by tools/make_autoindex_fixture.py).
  */
class SqliteAutoIndexSpec extends SparkFunSuite {

  private val db = "src/test/resources/sqlite/autoindex_fixture.db"
  private lazy val indexes = SqliteIndex.listIndexes(db)
  private def idx(name: String) = indexes.find(_.name == name).get
  private lazy val h = SqliteFile.header(db)

  private def scanIds(table: String, pred: String): Seq[Long] = {
    val t = SqliteFile.listTables(db).find(_.name == table).get
    scanReference(db, t).filter(pred)
      .collect().map(_.getLong(0)).sorted.toSeq
  }

  test("derived specs match sqlite's PRAGMA ground truth: numbering " +
      "by constraint appearance, collation inherited and overridden") {
    assert(idx("sqlite_autoindex_au_1").specs == Seq(ColSpec("a")))
    assert(idx("sqlite_autoindex_au_2").specs ==
      Seq(ColSpec("s", nocase = true))) // inherited from the column
    assert(idx("sqlite_autoindex_au_3").specs ==
      Seq(ColSpec("b"), ColSpec("c2"))) // composite, BINARY
    assert(idx("sqlite_autoindex_au_4").specs ==
      Seq(ColSpec("c2", nocase = true))) // keyspec COLLATE override
    assert(idx("sqlite_autoindex_pk_1").specs == Seq(ColSpec("x")))
    assert(idx("sqlite_autoindex_pk_2").specs == Seq(ColSpec("y")))
    assert(idx("sqlite_autoindex_pkd_1").specs ==
      Seq(ColSpec("x", desc = true))) // PRIMARY KEY DESC: real column
    assert(indexes.filter(_.table != "t").forall(_.supported))
  }

  test("UNIQUE-column probe == scan; O(log n) pages") {
    val (ids, pages) = SqliteIndex.indexRowids(db, h,
      idx("sqlite_autoindex_au_1"), "uniq-00777")
    assert(ids == scanIds("au", "a = 'uniq-00777'") && ids.size == 1)
    assert(pages < 15, s"point probe touched $pages pages")
  }

  test("NOCASE autoindex fold-matches across case variants " +
      "(fixture pin: key-00100 -> 1 row, id 100)") {
    val (ids, _) = SqliteIndex.indexRowids(db, h,
      idx("sqlite_autoindex_au_2"), "KEY-00100")
    assert(ids == Seq(100L))
    assert(ids == scanIds("au", "lower(s) = 'key-00100'"))
  }

  test("composite autoindex serves eq-prefix + range (fixture pin: " +
      "b=42, c2 in [c-00500, c-01500) -> 5 rows, sum 6350)") {
    val (ids, _) = SqliteIndex.compositeRangeRowids(db, h,
      idx("sqlite_autoindex_au_3"), Seq(42L),
      KeyRange(Some("c-00500"), loInc = true, Some("c-01500"),
        hiInc = false))
    assert(ids.size == 5 && ids.sum == 6350L)
    assert(ids.sorted ==
      scanIds("au", "b = 42 AND c2 >= 'c-00500' AND c2 < 'c-01500'"))
  }

  test("TEXT PRIMARY KEY probe through its pk autoindex") {
    val (ids, _) = SqliteIndex.indexRowids(db, h,
      idx("sqlite_autoindex_pk_1"), "pk-00042")
    val t = SqliteFile.listTables(db).find(_.name == "pk").get
    val rows = scanReference(db, t)
      .filter("x = 'pk-00042'").collect()
    assert(ids.size == 1 && rows.length == 1)
    assert(rows(0).getLong(1) == 42L * 7)
  }

  test("INTEGER PRIMARY KEY DESC is NOT a rowid alias: the column " +
      "reads its stored values, and the DESC autoindex serves ranges") {
    val t = SqliteFile.listTables(db).find(_.name == "pkd").get
    assert(!t.columns.find(_.name == "x").get.rowidAlias,
      "the quirk: column-level PRIMARY KEY DESC stores a real column")
    val df = SqliteFile.read(spark, db, t)
    // x values are 1000003..1001500 step 3 — NOT 1..500 rowids
    val xs = df.select("x").collect().map(_.getLong(0)).sorted
    assert(xs.head == 1000003L && xs.last == 1001500L && xs.length == 500)
    val (ids, _) = SqliteIndex.rangeRowids(db, h,
      idx("sqlite_autoindex_pkd_1"),
      KeyRange(Some(1000003L), loInc = true, Some(1000030L), hiInc = true))
    // rowids of x in [1000003, 1000030] = i in 1..10 -> rowids 1..10
    assert(ids.sorted == (1L to 10L))
  }

  test("fixture 1's u TEXT UNIQUE autoindex (previously refused) now " +
      "probes: sqlite_autoindex_t_1") {
    val db1 = "src/test/resources/sqlite/index_fixture.db"
    val a = SqliteIndex.listIndexes(db1)
      .find(_.name == "sqlite_autoindex_t_1").get
    assert(a.supported && a.specs == Seq(ColSpec("u")))
    val (ids, _) = SqliteIndex.indexRowids(db1, SqliteFile.header(db1),
      a, "uniq-002718")
    assert(ids == Seq(2718L))
  }
}
