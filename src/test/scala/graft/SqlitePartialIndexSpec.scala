package graft

import graft.sources.{SqliteFile, SqliteIndex}
import SqliteIndex.{KeyRange, PartialPred}

/** Round-15 partial-index support: an index `WHERE k >= 90` serves a
  * probe iff the probed interval is CONTAINED in the predicate
  * (sqlite's own planner rule) — rows outside the predicate are
  * absent from the index, so anything looser must scan. Fixture:
  * tools/make_partial_fixture.py (pt's ONLY index is the partial one).
  */
class SqlitePartialIndexSpec extends SparkFunSuite {

  private val db = "src/test/resources/sqlite/partial_fixture.db"
  private lazy val table = SqliteFile.listTables(db).find(_.name == "pt").get
  private lazy val hot =
    SqliteIndex.listIndexes(db).find(_.name == "pt_hot").get
  private lazy val h = SqliteFile.header(db)

  private lazy val reference = scanReference(db, table)

  private def scanIds(pred: String): Seq[Long] =
    reference.filter(pred)
      .collect().map(_.getLong(0)).sorted.toSeq

  test("the predicate parses; contained probes serve, loose ones refuse") {
    assert(hot.supported &&
      hot.partial == Some(PartialPred("k", ">=", 90L)))
    // contained: [95, +inf), point 92, [90, 95)
    assert(SqliteIndex.rangeRowids(db, h, hot,
      KeyRange(Some(95L), true, None, true))._1.sorted ==
      scanIds("k >= 95"))
    assert(SqliteIndex.indexRowids(db, h, hot, 92L)._1.sorted ==
      scanIds("k = 92"))
    assert(SqliteIndex.rangeRowids(db, h, hot,
      KeyRange(Some(90L), true, Some(95L), false))._1.sorted ==
      scanIds("k >= 90 AND k < 95"))
    // NOT contained: [50, +inf), point 89, (89, ...] — 89 < 90;
    // and a lower bound EXACTLY at the predicate with the wrong
    // openness for a strict pred would also refuse (pred here is >=,
    // so lo=90 inclusive is fine — tested above)
    def refuses(r: KeyRange): Unit = {
      val e = intercept[IllegalArgumentException] {
        SqliteIndex.rangeRowids(db, h, hot, r)
      }
      assert(e.getMessage.contains("PARTIAL"), e.getMessage)
    }
    refuses(KeyRange(Some(50L), true, None, true))
    refuses(KeyRange(Some(89L), true, Some(89L), true))
    refuses(KeyRange(None, true, Some(99L), true)) // unbounded below
  }

  private def dsv2 = spark.read.format("sqlite")
    .option("path", db).option("table", "pt").load()

  test("DSv2: a contained range pushes through the partial index " +
      "(fixture pin: k>=95 -> 200 rows, sum 398200)") {
    val q = dsv2.filter("k >= 95")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("probe=pt_hot:"),
      s"contained range not pushed through the partial index:\n$plan")
    val ids = q.collect().map(_.getLong(0))
    assert(ids.length == 200 && ids.sum == 398200L)
  }

  test("DSv2: a looser range does NOT use the partial index and " +
      "still answers correctly via the scan") {
    val q = dsv2.filter("k >= 50")
    assert(!q.queryExecution.executedPlan.toString.contains("probe="),
      "a probe here would silently MISS the rows below the predicate")
    assert(q.collect().map(_.getLong(0)).sorted.toSeq ==
      scanIds("k >= 50"))
  }

  test("DSv2: point probes split the same way (92 pushes, 42 scans)") {
    val in = dsv2.filter("k = 92")
    assert(in.queryExecution.executedPlan.toString.contains("probe=pt_hot:"))
    val ids = in.collect().map(_.getLong(0))
    assert(ids.length == 40 && ids.sum == 78640L)
    val out = dsv2.filter("k = 42")
    assert(!out.queryExecution.executedPlan.toString.contains("probe="))
    assert(out.collect().map(_.getLong(0)).sorted.toSeq ==
      scanIds("k = 42"))
  }

  test("DSv2: IN-lists push only when EVERY value is inside the " +
      "predicate") {
    val in = dsv2.filter("k IN (92, 95, 99)")
    assert(in.queryExecution.executedPlan.toString
      .contains("probe=pt_hot:in[3]"))
    assert(in.collect().map(_.getLong(0)).sorted.toSeq ==
      scanIds("k IN (92, 95, 99)"))
    val mixed = dsv2.filter("k IN (42, 95)")
    assert(!mixed.queryExecution.executedPlan.toString.contains("probe="))
    assert(mixed.collect().map(_.getLong(0)).sorted.toSeq ==
      scanIds("k IN (42, 95)"))
  }
}
