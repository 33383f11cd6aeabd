package graft

import graft.sources.{SqliteFile, SqliteIndex}
import SqliteIndex.{ColSpec, KeyRange}

/** Round-17 prefix-substr expression indexes (the r16 verdict's #5
  * item): `substr(col, 1, n)` — the most common expression index
  * after lower/upper in real schemas — parses into a USABLE IndexDef.
  * The index b-tree STORES the prefix values, so the probe walk needs
  * no evaluator, only canonical-name matching, BINARY collation and
  * direction. Non-prefix substr (start != 1) refuses by name.
  * Ground truth: tools/make_substrindex_fixture.py (CPython sqlite3 —
  * point pfx-00123 -> 4 rows sum id 1974; range [pfx-00200,
  * pfx-00210) -> 40 rows sum 32780; desc point pfx-00900 -> 4 rows
  * sum 14406; 290-page file).
  */
class SqliteSubstrIndexSpec extends SparkFunSuite {

  private val db = "src/test/resources/sqlite/substrindex_fixture.db"
  private lazy val indexes = SqliteIndex.listIndexes(db)
  private def idx(name: String) = indexes.find(_.name == name).get
  private lazy val h = SqliteFile.header(db)
  private lazy val table = SqliteFile.listTables(db).find(_.name == "e").get

  test("substr(s, 1, 9) parses canonically; non-prefix substr " +
      "refuses by name") {
    assert(idx("s_pre").supported &&
      idx("s_pre").specs == Seq(ColSpec("substr(s,1,9)", expr = true)))
    assert(idx("s_pre_desc").supported &&
      idx("s_pre_desc").specs ==
        Seq(ColSpec("substr(s,1,9)", desc = true, expr = true)))
    val bad = idx("s_mid")
    assert(!bad.supported && bad.refusal.get.contains("PREFIX form"),
      bad.refusal.toString)
  }

  test("prefix point probe == scan (fixture pin: pfx-00123 -> 4 rows" +
      ", sum id 1974), O(log n) pages of a 290-page file") {
    val (ids, pages) = SqliteIndex.indexRowids(db, h,
      idx("s_pre"), "pfx-00123")
    assert(ids.size == 4 && ids.sum == 1974L)
    assert(pages < 12, s"substr point probe touched $pages pages")
    val scan = scanReference(db, table)
      .filter("substring(s, 1, 9) = 'pfx-00123'")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(ids.sorted == scan)
  }

  test("prefix range == scan (fixture pin: [pfx-00200, pfx-00210) " +
      "-> 40 rows, sum id 32780)") {
    val (ids, pages) = SqliteIndex.rangeRowids(db, h, idx("s_pre"),
      KeyRange(Some("pfx-00200"), loInc = true,
        Some("pfx-00210"), hiInc = false))
    assert(ids.size == 40 && ids.sum == 32780L)
    assert(pages < 16, s"substr range probe touched $pages pages")
    assert(ids.sorted == scanReference(db, table)
      .filter("substring(s, 1, 9) >= 'pfx-00200' AND " +
        "substring(s, 1, 9) < 'pfx-00210'")
      .collect().map(_.getLong(0)).sorted.toSeq)
  }

  test("DESC prefix point probe walks the descending index (fixture " +
      "pin: pfx-00900 -> 4 rows, sum id 14406)") {
    val (ids, pages) = SqliteIndex.indexRowids(db, h,
      idx("s_pre_desc"), "pfx-00900")
    assert(ids.size == 4 && ids.sum == 14406L)
    assert(pages < 12, s"desc substr probe touched $pages pages")
  }

  test("DSv2 never selects a substr index for an attribute filter " +
      "(the canonical name is not a plain attribute)") {
    val q = spark.read.format("sqlite")
      .option("path", db).option("table", "e").load()
      .filter("s = 'pfx-00123-suf0'")
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("probe=s_pre"),
      s"substr index wrongly chosen for a column filter:\n$plan")
  }
}
