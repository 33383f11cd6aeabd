package graft

import graft.sources.{SqliteFile, SqliteIndex}

/** Secondary-index point lookups against a CPython-written fixture
  * (tools/make_index_fixture.py, committed bytes): probes return
  * exactly the rows sqlite's own WHERE col = ? returns, touch
  * O(log n + matches) pages instead of the 682-page table scan,
  * interior-cell entries are emitted (not just leaf cells), and the
  * unsupported index shapes refuse by name.
  */
class SqliteIndexSpec extends SparkFunSuite {

  private val db = "src/test/resources/sqlite/index_fixture.db"
  private lazy val table = SqliteFile.listTables(db).find(_.name == "t").get
  private lazy val reference = scanReference(db, table)
  private lazy val indexes = SqliteIndex.listIndexes(db)
  private def idx(name: String) = indexes.find(_.name == name).get

  test("listIndexes finds every CREATE INDEX plus the internal " +
      "autoindex, with refusal reasons parsed eagerly") {
    val byName = indexes.map(i => i.name -> i).toMap
    assert(byName.keySet == Set("ix_k", "ix_s", "ix_u", "ix_multi",
      "ix_expr", "ix_part", "ix_desc", "ix_coll", "sqlite_autoindex_t_1"))
    assert(byName("ix_k").supported && byName("ix_k").cols == Seq("k"))
    assert(byName("ix_multi").supported &&
      byName("ix_multi").cols == Seq("k", "s"))
    assert(byName("ix_u").supported && byName("ix_u").unique)
    assert(byName("ix_expr").refusal.exists(_.contains("expression")))
    // round 15: ix_part (WHERE k > 50) is SUPPORTED with its
    // predicate parsed; probes must imply it (tested below)
    assert(byName("ix_part").supported &&
      byName("ix_part").partial ==
        Some(SqliteIndex.PartialPred("k", ">", 50L)))
    // round 15: DESC and COLLATE NOCASE indexes are now SUPPORTED
    // (the walk runs in index order; NOCASE folds ASCII before memcmp)
    assert(byName("ix_desc").supported &&
      byName("ix_desc").specs == Seq(SqliteIndex.ColSpec("k", desc = true)))
    assert(byName("ix_coll").supported &&
      byName("ix_coll").specs ==
        Seq(SqliteIndex.ColSpec("s", nocase = true)))
    // round 15: the u TEXT UNIQUE autoindex DERIVES from the CREATE
    // TABLE text instead of refusing (SqliteAutoIndexSpec pins the
    // numbering/collation ground truth against CPython PRAGMAs)
    assert(byName("sqlite_autoindex_t_1").supported &&
      byName("sqlite_autoindex_t_1").specs ==
        Seq(SqliteIndex.ColSpec("u")))
  }

  test("integer probe matches sqlite's own WHERE k = 42 (count 42, " +
      "sum of ids 83895) and touches a fraction of the 682-page file") {
    val (rowids, idxPages) = SqliteIndex.indexRowids(db, idx("ix_k"), 42L)
    assert(rowids.size == 42)
    assert(rowids.sum == 83895L)
    assert(idxPages < 40,
      s"probe touched $idxPages index pages; expected O(depth + matches)")
    val rows = SqliteIndex.lookup(db, table, idx("ix_k"), 42L)
    assert(rows.size == 42)
    assert(rows.map(_.getLong(0)).sum == 83895L)
    assert(rows.forall(_.getLong(1) == 42L))
  }

  test("the probe agrees with a full-scan filter row for row " +
      "(all columns, not just ids)") {
    val scanned = reference.filter("k = 42").orderBy("id").collect().toSeq
    val probed = SqliteIndex.lookup(db, table, idx("ix_k"), 42L)
    assert(probed == scanned)
  }

  test("the full-scan reference filters in Spark; read pushes the " +
      "same filter into the probe") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def scans(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.collect { case b: BatchScanExec => b }
    assert(scans(reference.filter("k = 42")).isEmpty)
    val pushed = scans(SqliteFile.read(spark, db, table).filter("k = 42"))
    assert(pushed.size == 1 &&
      pushed.head.scan.description.contains("probe=ix_k:42"))
  }

  test("text probes: ASCII and multibyte UTF-8 keys (memcmp " +
      "collation), both matching sqlite's counts") {
    val a = SqliteIndex.lookup(db, table, idx("ix_s"), "name-00123")
    assert(a.size == 8 && a.map(_.getLong(0)).sum == 14136L)
    val b = SqliteIndex.lookup(db, table, idx("ix_s"), "naïve-003")
    assert(b.size == 1 && b.head.getLong(0) == 750L)
  }

  test("unique REAL probe and a leading-column probe on the " +
      "composite index") {
    val u = SqliteIndex.lookup(db, table, idx("ix_u"), 777.5)
    assert(u.map(_.getLong(0)) == Seq(777L))
    val m = SqliteIndex.lookup(db, table, idx("ix_multi"), 42L)
    assert(m.size == 42 && m.map(_.getLong(0)).sum == 83895L)
  }

  test("missing keys return empty without error") {
    assert(SqliteIndex.lookup(db, table, idx("ix_k"), 9999L).isEmpty)
    assert(SqliteIndex.lookup(db, table, idx("ix_s"), "absent").isEmpty)
  }

  test("interior index cells are real entries: the probe's rowid set " +
      "equals the scan's id set exactly (nothing lost to interiors)") {
    // ix_k at 1 KiB pages is multi-level; if interior-cell records
    // were skipped, some key's rowid set would come up short. Check
    // every key in one pass over a few.
    for (k <- Seq(0L, 1L, 50L, 96L)) {
      val expect = reference.filter(s"k = $k").count()
      val (rowids, _) = SqliteIndex.indexRowids(db, idx("ix_k"), k)
      assert(rowids.size.toLong == expect, s"k=$k")
      assert(rowids.distinct.size == rowids.size, s"k=$k dup rowids")
    }
  }

  private def dsv2 = spark.read.format("sqlite")
    .option("path", db).option("table", "t").load()

  test("DSv2 pushdown: an indexed equality becomes an index probe " +
      "(plan shows it; no post-scan Filter re-evaluates it)") {
    val q = dsv2.filter("k = 42")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("probe=ix_k:42"),
      s"scan description lost the pushed index probe:\n$plan")
    assert(!plan.replace("RuntimeFilters:", "").contains("Filter"),
      s"fully-handled equality still re-filtered post-scan:\n$plan")
    val rows = q.collect()
    assert(rows.length == 42 && rows.map(_.getLong(0)).sum == 83895L)
  }

  test("DSv2 pushdown: rowid-alias equality becomes a bounded spine " +
      "descent (no index involved)") {
    val q = dsv2.filter("id = 777")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("probe=rowid:777"),
      s"scan description lost the pushed rowid probe:\n$plan")
    val rows = q.collect()
    assert(rows.length == 1 && rows.head.getLong(0) == 777L &&
      rows.head.getDouble(3) == 777.5)
  }

  test("DSv2 pushdown: residual predicates still apply on top of the " +
      "probe; non-indexed equalities fall back to a full scan") {
    val mixed = dsv2.filter("k = 42 AND id > 2000").collect()
    val expect = reference.filter("k = 42 AND id > 2000").count()
    assert(mixed.length.toLong == expect && mixed.nonEmpty)
    // round 15: u's TEXT UNIQUE autoindex now SERVES this equality
    val viaAuto = dsv2.filter("u = 'uniq-000500'")
    assert(viaAuto.queryExecution.executedPlan.toString
      .contains("probe=sqlite_autoindex_t_1:"))
    assert(viaAuto.collect().map(_.getLong(0)).toSeq == Seq(500L))
    // an EXPRESSION predicate is not a pushable attribute filter —
    // the genuine full-scan fallback (k+0 would constant-fold back
    // to the attribute; a function call does not)
    val noIdx = dsv2.filter("length(u) = 11 AND k * 2 = 84")
    assert(!noIdx.queryExecution.executedPlan.toString.contains("probe="))
    assert(noIdx.count() == 42L)
  }

  test("DSv2 pushdown: a missing probe key returns zero rows without " +
      "touching the table tree") {
    assert(dsv2.filter("k = 12345").collect().isEmpty)
    assert(dsv2.filter("id = -5").collect().isEmpty)
  }

  test("unsupported probes refuse by name") {
    def msg(f: => Any): String =
      intercept[IllegalArgumentException](f).getMessage
    assert(msg(SqliteIndex.indexRowids(db, idx("ix_expr"), 1L))
      .contains("expression"))
    // a probe OUTSIDE the partial predicate refuses; inside it works
    assert(msg(SqliteIndex.indexRowids(db, idx("ix_part"), 1L))
      .contains("PARTIAL"))
    assert(SqliteIndex.indexRowids(db, idx("ix_part"), 60L)._1.sorted ==
      SqliteIndex.indexRowids(db, idx("ix_k"), 60L)._1.sorted)
    // round 15: ix_desc / ix_coll probe instead of refusing — the
    // DESC walk returns the same rowids as the ASC index on the same
    // column, and the NOCASE probe fold-matches regardless of probe
    // case (fixture values are lowercase; the UPPER probe only
    // matches through the fold)
    assert(SqliteIndex.indexRowids(db, idx("ix_desc"), 42L)._1.sorted ==
      SqliteIndex.indexRowids(db, idx("ix_k"), 42L)._1.sorted)
    assert(SqliteIndex.indexRowids(db, idx("ix_coll"), "NAME-00123")._1.sorted ==
      SqliteIndex.indexRowids(db, idx("ix_s"), "name-00123")._1.sorted)
    assert(msg(SqliteIndex.indexRowids(db, idx("ix_k"), null))
      .contains("NULL probe"))
    assert(msg(SqliteIndex.indexRowids(db, idx("ix_k"), true))
      .contains("unsupported probe type"))
    assert(msg(SqliteIndex.lookupRaw(db,
      SqliteFile.listTables(db).head.copy(name = "other"),
      idx("ix_k"), 1L)).contains("is on table"))
  }
}
