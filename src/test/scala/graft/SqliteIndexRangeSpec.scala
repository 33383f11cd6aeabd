package graft

import graft.sources.{SqliteFile, SqliteIndex}
import SqliteIndex.KeyRange

/** Range pushdown (round 14): `>`, `>=`, `<`, `<=` and BETWEEN
  * conjunctions served by the index b-tree walk / the rowid-bounded
  * table descent, pinned row-for-row against full-scan filters on the
  * same CPython-written fixture as SqliteIndexSpec.
  */
class SqliteIndexRangeSpec extends SparkFunSuite {

  private val db = "src/test/resources/sqlite/index_fixture.db"
  private lazy val table = SqliteFile.listTables(db).find(_.name == "t").get
  private lazy val ixK =
    SqliteIndex.listIndexes(db).find(_.name == "ix_k").get
  private lazy val ixS =
    SqliteIndex.listIndexes(db).find(_.name == "ix_s").get
  private lazy val h = SqliteFile.header(db)

  private lazy val reference = scanReference(db, table)

  private def scanIds(pred: String): Seq[Long] =
    reference.filter(pred)
      .collect().map(_.getLong(0)).sorted.toSeq

  private def rangeIds(idx: SqliteIndex.IndexDef, r: KeyRange): Seq[Long] =
    SqliteIndex.rangeRowids(db, h, idx, r)._1.sorted

  test("closed, open and half-open integer ranges match the full scan") {
    val cases = Seq(
      (KeyRange(Some(10L), true, Some(20L), true), "k >= 10 AND k <= 20"),
      (KeyRange(Some(10L), false, Some(20L), false), "k > 10 AND k < 20"),
      (KeyRange(Some(90L), true, None, true), "k >= 90"),
      (KeyRange(None, true, Some(3L), false), "k < 3"),
      (KeyRange(Some(42L), true, Some(42L), true), "k = 42"))
    for ((r, pred) <- cases)
      assert(rangeIds(ixK, r) == scanIds(pred), s"range $r vs '$pred'")
  }

  test("range walk touches a fraction of the file's pages") {
    val (ids, pages) = SqliteIndex.rangeRowids(db, h, ixK,
      KeyRange(Some(10L), true, Some(12L), true))
    assert(ids.nonEmpty)
    assert(pages < 45, s"narrow range touched $pages pages")
  }

  test("text ranges use memcmp order like sqlite BINARY collation") {
    val r = KeyRange(Some("name-00100"), true, Some("name-00110"), false)
    assert(rangeIds(ixS, r) ==
      scanIds("s >= 'name-00100' AND s < 'name-00110'"))
  }

  test("empty and contradictory ranges return nothing, no error") {
    assert(rangeIds(ixK, KeyRange(Some(500L), true, None, true)).isEmpty)
    assert(rangeIds(ixK, KeyRange(Some(20L), true, Some(10L), true)).isEmpty)
  }

  private def dsv2 = spark.read.format("sqlite")
    .option("path", db).option("table", "t").load()

  test("DSv2: indexed BETWEEN folds into ONE pushed range probe, " +
      "no post-scan Filter") {
    val q = dsv2.filter("k >= 10 AND k <= 20")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("probe=ix_k:[10, 20]"),
      s"plan lost the pushed range:\n$plan")
    assert(!plan.replace("RuntimeFilters:", "").contains("Filter"),
      s"fully-handled range still re-filtered post-scan:\n$plan")
    assert(q.collect().map(_.getLong(0)).sorted.toSeq ==
      scanIds("k >= 10 AND k <= 20"))
  }

  test("DSv2: rowid-alias range becomes a pruned bounded scan that " +
      "keeps scan parallelism") {
    val q = dsv2.filter("id > 1000 AND id <= 1200")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("probe=rowid:(1000,1200]"),
      s"plan lost the pushed rowid range:\n$plan")
    val ids = q.collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == (1001L to 1200L))
  }

  test("DSv2: rowid alias wins over an index when both have " +
      "comparisons; the index predicate stays residual and correct") {
    val q = dsv2.filter("id <= 2000 AND k > 90")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("probe=rowid:"),
      s"rowid range not preferred:\n$plan")
    assert(q.collect().map(_.getLong(0)).sorted.toSeq ==
      scanIds("id <= 2000 AND k > 90"))
  }

  test("DSv2: IN-lists push as point-probe sets (rowid and indexed)") {
    val qr = dsv2.filter("id IN (5, 777, 2001, 99999)")
    val pr = qr.queryExecution.executedPlan.toString
    assert(pr.contains("probe=rowid:in[4]"), s"rowid IN not pushed:\n$pr")
    assert(qr.collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(5L, 777L, 2001L))
    val qi = dsv2.filter("k IN (3, 97)")
    val pi = qi.queryExecution.executedPlan.toString
    assert(pi.contains("probe=ix_k:in[2]"), s"index IN not pushed:\n$pi")
    assert(qi.collect().map(_.getLong(0)).sorted.toSeq ==
      scanIds("k IN (3, 97)"))
    // no redundant post-scan Filter for the fully-served IN
    assert(!pi.replace("RuntimeFilters:", "").contains("Filter"), pi)
  }

  test("DSv2: comparisons beat IN on the same attribute; a NULL in " +
      "the list is dropped exactly (IN never matches NULL)") {
    val q = dsv2.filter("k IN (3, 97) AND k >= 90")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("probe=ix_k:[90, +inf"),
      s"comparison fold not preferred over IN:\n$plan")
    assert(q.collect().map(_.getLong(0)).sorted.toSeq ==
      scanIds("k IN (3, 97) AND k >= 90"))
    val qn = dsv2.filter("k IN (42)") // single-value IN → EqualTo in DSv1
    assert(qn.collect().length == 42)
  }

  test("DSv2: LIKE-prefix on an indexed TEXT column pushes as a " +
      "half-open range; non-ASCII-safe prefixes stay with Spark") {
    val q = dsv2.filter("s LIKE 'name-0012%'")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("probe=ix_s:[name-0012, name-0013)"),
      s"prefix not pushed as a range:\n$plan")
    assert(!plan.replace("RuntimeFilters:", "").contains("Filter"),
      s"fully-served prefix still re-filtered:\n$plan")
    assert(q.collect().map(_.getLong(0)).sorted.toSeq ==
      scanIds("s LIKE 'name-0012%'"))
    // a non-ASCII prefix (multibyte tail — the byte successor would
    // need a carry) is NOT pushed; Spark's residual filter still
    // answers it correctly over the full scan
    val risky = dsv2.filter("s LIKE 'na\u00ef%'")
    assert(!risky.queryExecution.executedPlan.toString.contains("probe="))
    assert(risky.collect().map(_.getLong(0)).sorted.toSeq ==
      scanIds("s LIKE 'na\u00ef%'"))
  }

  test("DSv2: strict and mixed-openness conjunctions stay exact " +
      "(openness is honored, not rounded to closed)") {
    for (pred <- Seq("k > 10 AND k < 12", "k > 95", "k < 1",
        "s > 'name-00100' AND s <= 'name-00104'")) {
      val got = dsv2.filter(pred).collect().map(_.getLong(0)).sorted.toSeq
      assert(got == scanIds(pred), s"'$pred' drifted off the scan")
    }
  }
}
