package graft

import graft.sources.{SqliteFile, SqliteIndex}
import SqliteIndex.{ColSpec, KeyRange}

/** Round-16 WITHOUT ROWID pk probes (the r15 verdict's #2 item): a
  * WITHOUT ROWID table's b-tree IS a key-ordered index on its PRIMARY
  * KEY, so pk equality/range/IN probes descend it directly — the
  * composite tuple walk secondary indexes already take, except the
  * matching records ARE the rows (no rowid fetch phase at all).
  * Pinned row-for-row against full-scan filters on a CPython-written
  * fixture (tools/make_wr_fixture.py) with page receipts, plus the
  * DSv2 fold: pk filters land in the probe and nothing the walk
  * already guaranteed is re-evaluated post-scan.
  */
class SqliteWithoutRowidProbeSpec extends SparkFunSuite {

  private val db = "src/test/resources/sqlite/wr_fixture.db"
  private def tdef(n: String) =
    SqliteFile.listTables(db).find(_.name == n).get
  private lazy val h = SqliteFile.header(db)

  private def point(v: Any) =
    KeyRange(Some(v), loInc = true, Some(v), hiInc = true)

  test("pk specs derive from the CREATE TABLE text: composite, " +
      "column-level DESC, NOCASE; RTRIM refuses by name") {
    assert(SqliteIndex.withoutRowidPkSpecs(tdef("wr1")) ==
      Right(Seq(ColSpec("a"), ColSpec("b"))))
    assert(SqliteIndex.withoutRowidPkSpecs(tdef("wr2")) ==
      Right(Seq(ColSpec("k", desc = true))))
    assert(SqliteIndex.withoutRowidPkSpecs(tdef("wr3")) ==
      Right(Seq(ColSpec("k", nocase = true))))
    val r = SqliteIndex.withoutRowidPkSpecs(tdef("wr4"))
    assert(r.isLeft && r.swap.toOption.get.contains("RTRIM"), r)
    val e = intercept[IllegalArgumentException] {
      SqliteIndex.withoutRowidRange(db, h, tdef("wr4"), Nil,
        point("r-001 "))
    }
    assert(e.getMessage.contains("not derivable"))
  }

  test("composite eq-prefix + range probe == scan (fixture pin: " +
      "a=42, b in [b-01000, b-04000) -> 31 rows, sum v 229431); " +
      "O(log n + matches) pages") {
    val (recs, pages) = SqliteIndex.withoutRowidRange(db, h, tdef("wr1"),
      Seq(42L), KeyRange(Some("b-01000"), loInc = true,
        Some("b-04000"), hiInc = false))
    // record order is pk-first = declared order here (a, b, v, payload)
    assert(recs.size == 31)
    assert(recs.map(_(2).asInstanceOf[Long]).sum == 229431L)
    assert(pages < 15, s"composite probe touched $pages pages " +
      "(file has 433)")
    // row-for-row against the full-scan filter
    val scan = scanReference(db, tdef("wr1"))
      .filter("a = 42 AND b >= 'b-01000' AND b < 'b-04000'")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._2).toSeq
    assert(recs.map(r => (r(0), r(1), r(2))).sortBy(_._2.toString) == scan)
  }

  test("full-pk equality is a point read (fixture pin: (42, b-04116) " +
      "-> v 12348)") {
    val (recs, pages) = SqliteIndex.withoutRowidRange(db, h, tdef("wr1"),
      Seq(42L), point("b-04116"))
    assert(recs.map(r => (r(2), r(3))) ==
      Seq((12348L, "payload-04116-" + "x" * 12)))
    assert(pages < 10, s"point read touched $pages pages")
  }

  test("DESC pk range == scan (fixture pin: [k-01000, k-01010) -> " +
      "10 rows, sum v 70315) — the walk runs in index order") {
    val (recs, pages) = SqliteIndex.withoutRowidRange(db, h, tdef("wr2"),
      Nil, KeyRange(Some("k-01000"), loInc = true,
        Some("k-01010"), hiInc = false))
    assert(recs.size == 10 &&
      recs.map(_(1).asInstanceOf[Long]).sum == 70315L)
    assert(pages < 10, s"DESC range touched $pages pages")
  }

  test("NOCASE pk probe fold-matches (fixture pin: key-00505 -> " +
      "v 5555 under any probe case)") {
    val (recs, _) = SqliteIndex.withoutRowidRange(db, h, tdef("wr3"),
      Nil, point("KEY-00505"))
    assert(recs.map(_(1)) == Seq(5555L))
  }

  private def dsv2(t: String) = spark.read.format("sqlite")
    .option("path", db).option("table", t).load()

  test("DSv2: composite pk eq+range folds into ONE pushed probe on " +
      "the table b-tree, no post-scan Filter") {
    val q = dsv2("wr1")
      .filter("a = 42 AND b >= 'b-01000' AND b < 'b-04000'")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("probe=pk:wr1:[42]+[b-01000, b-04000)"),
      s"plan lost the pushed composite probe:\n$plan")
    assert(!plan.replace("RuntimeFilters:", "").contains("Filter"),
      s"fully-handled pk probe still re-filtered post-scan:\n$plan")
    val got = q.collect().map(r => (r.getLong(0), r.getString(1),
      r.getLong(2))).sortBy(_._2).toSeq
    assert(got.size == 31 && got.map(_._3).sum == 229431L)
  }

  test("DSv2: full-pk equality pushes as the degenerate composite; " +
      "IN on the leading pk column pushes as point probes") {
    val q = dsv2("wr1").filter("a = 42 AND b = 'b-04116'")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("probe=pk:wr1:[42]+[b-04116, b-04116]"),
      s"plan lost the full-pk probe:\n$plan")
    assert(q.collect().map(_.getLong(2)).toSeq == Seq(12348L))

    val qin = dsv2("wr1").filter("a IN (3, 42, 77)")
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).as("n"),
        org.apache.spark.sql.functions.sum("v").as("s"))
    val planIn = dsv2("wr1").filter("a IN (3, 42, 77)")
      .queryExecution.executedPlan.toString
    assert(planIn.contains("probe=pk:wr1:in[3]"),
      s"plan lost the pk IN probe:\n$planIn")
    val r = qin.head
    assert(r.getLong(0) == 186L && r.getLong(1) == 1673535L)
  }

  test("DSv2: NOCASE pk equality serves a CANDIDATE probe that " +
      "swallows nothing — Spark re-filters binarily") {
    val q = dsv2("wr3").filter("k = 'KEY-00505'")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("probe=pk:wr3:KEY-00505"),
      s"plan lost the candidate probe:\n$plan")
    assert(plan.contains("Filter"),
      s"candidate probe must keep the binary post-filter:\n$plan")
    // the fixture stores key i in case CASES((i / 97) % 3) of
    // (Key, KEY, key): (505 / 97) % 3 == 2, so the NOCASE candidate
    // exists as 'key-00505' and the binary re-filter drops it
    val candidates = scanReference(db, tdef("wr3"))
      .filter("upper(k) = 'KEY-00505'").collect().map(_.getString(0)).toSeq
    assert(candidates == Seq("key-00505"))
    val scan = scanReference(db, tdef("wr3"))
      .filter("k = 'KEY-00505'").collect().map(_.getLong(1)).toSeq
    assert(scan.isEmpty)
    assert(q.collect().map(_.getLong(1)).toSeq == scan)
  }

  test("DSv2: underivable pk (RTRIM) declines to a full scan that " +
      "still answers correctly") {
    val q = dsv2("wr4").filter("k = 'r-001 '")
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("probe="), s"RTRIM pk must not probe:\n$plan")
    assert(q.collect().map(_.getLong(1)).toSeq ==
      scanReference(db, tdef("wr4"))
        .filter("k = 'r-001 '").collect().map(_.getLong(1)).toSeq)
  }
}
