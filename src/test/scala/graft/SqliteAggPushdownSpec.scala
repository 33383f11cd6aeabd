package graft

import graft.sources.SqliteFile
import org.apache.spark.sql.functions._

/** Round-15 aggregate pushdown: MIN/MAX of the rowid-alias column
  * answer from the b-tree spine (O(depth) pages — the SQL form of the
  * CDC watermark probe), declining to push whenever filters, grouping
  * or non-alias columns are involved.
  */
class SqliteAggPushdownSpec extends SparkFunSuite {

  private val db = "src/test/resources/sqlite/index_fixture.db"
  private def dsv2 = spark.read.format("sqlite")
    .option("path", db).option("table", "t").load()

  test("max/min of the rowid alias push as a spine probe (plan shows " +
      "agg-spine; values match the full scan)") {
    val q = dsv2.agg(max("id").as("mx"), min("id").as("mn"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("agg-spine=[max,min]"),
      s"aggregate not pushed to the spine:\n$plan")
    val r = q.collect()(0)
    assert(r.getLong(0) == 4000L && r.getLong(1) == 1L)
    // against the reader's own primitives
    val t = SqliteFile.listTables(db).find(_.name == "t").get
    assert(SqliteFile.maxRowid(db, t) == Some(4000L))
    assert(SqliteFile.minRowid(db, t) == Some(1L))
  }

  test("declines with filters, grouping, or a non-alias column — " +
      "the normal plan answers correctly") {
    val f = dsv2.filter("k = 42").agg(max("id"))
    assert(!f.queryExecution.executedPlan.toString.contains("agg-spine"))
    assert(f.collect()(0).getLong(0) ==
      scanReference(db, SqliteFile.listTables(db).find(_.name == "t").get)
        .filter("k = 42").agg(max("id")).collect()(0).getLong(0))
    val g = dsv2.groupBy("k").agg(max("id"))
    assert(!g.queryExecution.executedPlan.toString.contains("agg-spine"))
    val n = dsv2.agg(max("k"))
    assert(!n.queryExecution.executedPlan.toString.contains("agg-spine"))
    assert(n.collect()(0).getLong(0) == 96L)
  }

  test("a second fixture agrees end-to-end (min=1, max=400)") {
    val alter = "src/test/resources/sqlite/cdc_alter_v1.db"
    val q = spark.read.format("sqlite")
      .option("path", alter).option("table", "ev").load()
      .agg(min("id"), max("id")).collect()(0)
    assert(q.getLong(0) == 1L && q.getLong(1) == 400L)
  }
}
