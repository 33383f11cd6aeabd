package graft

import graft.sources.SqliteFile

/** Every pushed-probe shape the `sqlite` source serves, checked
  * against the same predicate evaluated by Spark over an unpushed full
  * scan ([[SparkFunSuite.scanReference]]): the probed rows must equal
  * the scanned rows as a sorted multiset. Each case also names the
  * probe its plan must show, so a case that silently falls back to a
  * full scan fails instead of passing vacuously.
  */
class SqliteProbeDifferentialSpec extends SparkFunSuite {

  private val res = "src/test/resources/sqlite"

  /** (fixture, table, predicate, probe prefix the plan must show) */
  private val cases = Seq(
    // rowid alias: point, range, IN
    ("index_fixture.db", "t", "id = 777", "probe=rowid:777"),
    ("index_fixture.db", "t", "id > 1000 AND id <= 1200",
      "probe=rowid:(1000,1200]"),
    ("index_fixture.db", "t", "id >= 3990", "probe=rowid:("),
    ("index_fixture.db", "t", "id IN (5, 777, 2001, 3999, 99999)",
      "probe=rowid:in[5]"),
    // secondary index: point, range, IN, LIKE prefix, composite
    ("index_fixture.db", "t", "k = 42", "probe=ix_"),
    ("index_fixture.db", "t", "k >= 10 AND k <= 20", "probe=ix_"),
    ("index_fixture.db", "t", "k > 90", "probe=ix_"),
    ("index_fixture.db", "t", "k IN (3, 42, 97)", "probe=ix_"),
    ("index_fixture.db", "t", "s LIKE 'name-0012%'",
      "probe=ix_s:[name-0012, name-0013)"),
    ("index_fixture.db", "t",
      "k = 42 AND s >= 'name-001' AND s < 'name-003'",
      "probe=ix_multi:[42]+"),
    ("index_fixture2.db", "t2", "k = 42 AND s = 'WORD-0034'",
      "probe=ix_ks:[42]+"),
    ("index_fixture2.db", "t2", "k >= 10 AND k < 13", "probe=ix_"),
    // NOCASE candidate probes: Spark re-checks the binary predicate
    ("index_fixture2.db", "t2", "s = 'Word-0042'", "probe=ix_sno:"),
    ("index_fixture2.db", "t2", "s IN ('Word-0042', 'word-0119')",
      "probe=ix_sno:in[2]"),
    ("index_fixture2.db", "t2", "s LIKE 'Word-01%'", "probe=ix_sno:"),
    ("casecoll_fixture.db", "u", "x = 'Key-00001'", "probe=ix:"),
    // partial index: probes contained in its WHERE
    ("partial_fixture.db", "pt", "k >= 95", "probe=pt_hot:"),
    ("partial_fixture.db", "pt", "k = 92", "probe=pt_hot:"),
    ("partial_fixture.db", "pt", "k IN (91, 93, 99)",
      "probe=pt_hot:in[3]"),
    // WITHOUT ROWID primary key: point, range, IN, composite
    ("wr_fixture.db", "wr1", "a = 42", "probe=pk:wr1:"),
    ("wr_fixture.db", "wr1", "a >= 10 AND a < 12", "probe=pk:wr1:"),
    ("wr_fixture.db", "wr1", "a IN (3, 42, 96)", "probe=pk:wr1:in[3]"),
    ("wr_fixture.db", "wr1",
      "a = 42 AND b >= 'b-01000' AND b < 'b-04000'",
      "probe=pk:wr1:[42]+[b-01000, b-04000)"),
    ("wr_fixture.db", "wr1", "a = 42 AND b = 'b-04116'",
      "probe=pk:wr1:[42]+[b-04116, b-04116]"),
    ("wr_fixture.db", "wr2", "k >= 'k-01000' AND k < 'k-01010'",
      "probe=pk:wr2:"),
    ("wr_fixture.db", "wr3", "k = 'key-00505'", "probe=pk:wr3:"))

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  for ((file, table, pred, probe) <- cases)
    test(s"$file $table: '$pred' probed == scanned ($probe)") {
      val db = s"$res/$file"
      val t = SqliteFile.listTables(db).find(_.name == table).get
      val probed = SqliteFile.read(spark, db, t).filter(pred)
      val plan = probed.queryExecution.executedPlan.toString
      assert(plan.contains(probe), s"'$pred' did not probe as $probe:\n$plan")
      val want = rows(scanReference(db, t).filter(pred))
      assert(want.nonEmpty, s"'$pred' matches nothing: a vacuous case")
      assert(rows(probed) == want)
    }
}
