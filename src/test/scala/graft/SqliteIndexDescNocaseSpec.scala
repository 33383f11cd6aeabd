package graft

import graft.sources.{SqliteFile, SqliteIndex}
import SqliteIndex.{ColSpec, KeyRange}

/** Round-15 refusal shrink: DESC index walks, COLLATE NOCASE folding,
  * and composite second-column binds, pinned row-for-row against
  * full-scan filters on a CPython-written fixture
  * (tools/make_index_fixture2.py) whose TEXT values appear in FOUR
  * case variants per word so fold-equality differs from binary.
  */
class SqliteIndexDescNocaseSpec extends SparkFunSuite {

  private val db = "src/test/resources/sqlite/index_fixture2.db"
  private lazy val table = SqliteFile.listTables(db).find(_.name == "t2").get
  private lazy val indexes = SqliteIndex.listIndexes(db)
  private def idx(name: String) = indexes.find(_.name == name).get
  private lazy val h = SqliteFile.header(db)

  private lazy val reference = scanReference(db, table)

  private def scanIds(pred: String): Seq[Long] =
    reference.filter(pred)
      .collect().map(_.getLong(0)).sorted.toSeq

  test("specs parse DESC and COLLATE NOCASE modifiers per column") {
    assert(idx("ix_kd").specs == Seq(ColSpec("k", desc = true)))
    assert(idx("ix_sno").specs == Seq(ColSpec("s", nocase = true)))
    assert(idx("ix_ks").specs == Seq(ColSpec("k"), ColSpec("s")))
    assert(idx("ix_ksd").specs ==
      Seq(ColSpec("k", desc = true), ColSpec("s")))
    assert(idx("ix_kv").specs ==
      Seq(ColSpec("k"), ColSpec("v", desc = true)))
    assert(indexes.forall(_.supported))
  }

  test("DESC leading column: point, closed, open and half-open " +
      "ranges match the full scan") {
    val cases = Seq(
      (KeyRange(Some(42L), true, Some(42L), true), "k = 42"),
      (KeyRange(Some(10L), true, Some(20L), true), "k >= 10 AND k <= 20"),
      (KeyRange(Some(10L), false, Some(20L), false), "k > 10 AND k < 20"),
      (KeyRange(Some(90L), true, None, true), "k >= 90"),
      (KeyRange(None, true, Some(3L), false), "k < 3"))
    for ((r, pred) <- cases)
      assert(SqliteIndex.rangeRowids(db, h, idx("ix_kd"), r)._1.sorted ==
        scanIds(pred), s"DESC range $r vs '$pred'")
  }

  test("DESC narrow range touches a fraction of the index pages") {
    val (ids, pages) = SqliteIndex.rangeRowids(db, h, idx("ix_kd"),
      KeyRange(Some(10L), true, Some(12L), true))
    assert(ids.nonEmpty)
    assert(pages < 45, s"narrow DESC range touched $pages pages")
  }

  test("NOCASE probe fold-matches every case variant (fixture pins: " +
      "14 rows across 4 variants of word-0042)") {
    val (ids, _) =
      SqliteIndex.indexRowids(db, h, idx("ix_sno"), "Word-0042")
    assert(ids.size == 14 && ids.sum == 27552L)
    // probe case is irrelevant — the collation's equality
    val (ids2, _) =
      SqliteIndex.indexRowids(db, h, idx("ix_sno"), "WORD-0042")
    assert(ids.sorted == ids2.sorted)
    // and it is the union of the binary variants
    assert(ids.sorted == scanIds("lower(s) = 'word-0042'"))
  }

  test("composite eq-prefix + TEXT range matches the scan (fixture " +
      "pins: k=42, s in [Word-0100, Word-0200) -> 5 rows, sum 9163)") {
    val (ids, pages) = SqliteIndex.compositeRangeRowids(db, h, idx("ix_ks"),
      Seq(42L), KeyRange(Some("Word-0100"), true, Some("Word-0200"), false))
    assert(ids.size == 5 && ids.sum == 9163L)
    assert(ids.sorted ==
      scanIds("k = 42 AND s >= 'Word-0100' AND s < 'Word-0200'"))
    // binding BOTH columns descends tighter than the eq-only probe
    val (_, eqOnlyPages) = SqliteIndex.rangeRowids(db, h, idx("ix_ks"),
      KeyRange(Some(42L), true, Some(42L), true))
    assert(pages <= eqOnlyPages,
      s"composite $pages pages vs eq-only $eqOnlyPages")
  }

  test("composite with a DESC leading column returns the same rows") {
    val r = KeyRange(Some("Word-0100"), true, Some("Word-0200"), false)
    val a = SqliteIndex.compositeRangeRowids(db, h, idx("ix_ks"),
      Seq(42L), r)._1.sorted
    val b = SqliteIndex.compositeRangeRowids(db, h, idx("ix_ksd"),
      Seq(42L), r)._1.sorted
    assert(a == b)
  }

  test("composite with a DESC RANGED column (fixture pins: k=42, " +
      "v in [100, 500] -> 17 rows, sum 30611)") {
    val (ids, _) = SqliteIndex.compositeRangeRowids(db, h, idx("ix_kv"),
      Seq(42L), KeyRange(Some(100.0), true, Some(500.0), true))
    assert(ids.size == 17 && ids.sum == 30611L)
    assert(ids.sorted == scanIds("k = 42 AND v >= 100.0 AND v <= 500.0"))
  }

  test("pure multi-column equality binds both columns") {
    val some = scanIds("k = 42 AND s = 'Word-0142'")
    val (ids, _) = SqliteIndex.compositeRangeRowids(db, h, idx("ix_ks"),
      Seq(42L), KeyRange(Some("Word-0142"), true, Some("Word-0142"), true))
    assert(ids.sorted == some)
  }

  // ---- DSv2 pushdown over the new shapes ----

  private def dsv2 = spark.read.format("sqlite")
    .option("path", db).option("table", "t2").load()

  test("DSv2: BETWEEN on a DESC index pushes as one exact range " +
      "probe, no post-scan Filter") {
    val q = dsv2.filter("k >= 10 AND k <= 20")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("probe=ix_kd:[10, 20]") ||
      plan.contains("probe=ix_ks:"), // either index serves it
      s"range not pushed:\n$plan")
    assert(!plan.replace("RuntimeFilters:", "").contains("Filter"),
      s"fully-served range still re-filtered:\n$plan")
    assert(q.collect().map(_.getLong(0)).sorted.toSeq ==
      scanIds("k >= 10 AND k <= 20"))
  }

  test("DSv2: composite eq+range binds both columns into the probe " +
      "and swallows both filters") {
    val q = dsv2.filter("k = 42 AND s >= 'Word-0100' AND s < 'Word-0200'")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("probe=ix_ks:[42]+"),
      s"composite probe not pushed:\n$plan")
    assert(!plan.replace("RuntimeFilters:", "").contains("Filter"),
      s"fully-served composite still re-filtered:\n$plan")
    assert(q.collect().map(_.getLong(0)).sorted.toSeq ==
      scanIds("k = 42 AND s >= 'Word-0100' AND s < 'Word-0200'"))
  }

  test("DSv2: NOCASE index serves equality as a CANDIDATE probe — " +
      "Spark keeps the binary filter, result is binary-exact") {
    val q = dsv2.filter("s = 'Word-0042'")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("probe=ix_sno:"),
      s"NOCASE candidate probe not pushed:\n$plan")
    assert(plan.replace("RuntimeFilters:", "").contains("Filter"),
      s"binary filter must stay post-scan over fold candidates:\n$plan")
    // binary-exact: only the 4 'Word-0042' rows, not all 14 variants
    val ids = q.collect().map(_.getLong(0)).sorted.toSeq
    assert(ids.size == 4 && ids.sum == 7272L)
    assert(ids == scanIds("s = 'Word-0042'"))
  }

  test("DSv2: NOCASE index serves LIKE-prefix as a fold-space " +
      "candidate range; result is binary-exact") {
    val q = dsv2.filter("s LIKE 'WORD-00%'")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("probe=ix_sno:[word-00, word-01)"),
      s"fold-space prefix range not pushed:\n$plan")
    val ids = q.collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == scanIds("s LIKE 'WORD-00%'"))
    assert(ids.size == 333 && ids.sum == 625818L) // fixture pin
  }

  test("DSv2: NOCASE IN pushes candidate point probes; result is " +
      "binary-exact") {
    val q = dsv2.filter("s IN ('Word-0042', 'word-0123')")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("probe=ix_sno:in[2]"),
      s"NOCASE IN candidates not pushed:\n$plan")
    assert(q.collect().map(_.getLong(0)).sorted.toSeq ==
      scanIds("s IN ('Word-0042', 'word-0123')"))
  }
}
