package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.operators.MigrationJob
import graft.sources.{SqliteDdl, SqliteFile, SqliteIndex}
import graft.sources.SqliteIndex.ColSpec
import org.apache.spark.sql.Row

/** The reader's one CREATE TABLE parser ([[SqliteDdl]]) against
  * sqlite's own answers: `PRAGMA table_info` and `SELECT *` as printed
  * by tools/make_ddl_fixture.py, which also writes table_info.tsv, the
  * PRAGMA rows of every committed fixture.
  */
class SqliteDdlSpec extends SparkFunSuite {

  private val res = "src/test/resources/sqlite"
  private val db = s"$res/ddl_fixture.db"
  private def table(path: String, name: String) =
    SqliteFile.listTables(path).find(_.name == name).get
  // sqlite prints its six standard type names (INTEGER, TEXT, ...) in
  // upper case whatever case the DDL wrote them in
  private def columns(t: SqliteFile.TableDef) =
    t.columns.map(c => (c.name, c.decl.toUpperCase, c.pkOrdinal))

  // (table, PRAGMA table_info (name, type, pk), SELECT * rows)
  private val forms = Seq(
    ("alias_case", Seq(("A", "INTEGER", 1), ("b", "TEXT", 0)),
      Seq(Row(1L, "b1"), Row(2L, "b2"), Row(3L, "b3"))),
    ("named_pk", Seq(("id", "INTEGER", 1), ("v", "TEXT", 0)),
      Seq(Row(1L, "v1"), Row(2L, "v2"), Row(3L, "v3"))),
    ("uniq_tc", Seq(("id", "INTEGER", 1), ("v", "TEXT", 0)),
      Seq(Row(1L, "u1"), Row(2L, "u2"), Row(3L, "u3"))),
    ("check_tc", Seq(("id", "INTEGER", 1), ("v", "INTEGER", 0)),
      Seq(Row(1L, 10L), Row(2L, 20L), Row(3L, 30L))),
    ("quoted_col", Seq(("id", "INTEGER", 1), ("my col", "TEXT", 0)),
      Seq(Row(1L, "q1"), Row(2L, "q2"), Row(3L, "q3"))),
    ("wr_case", Seq(("v", "INTEGER", 0), ("k", "TEXT", 1)),
      Seq(Row(1L, "k1"), Row(2L, "k2"), Row(3L, "k3"))),
    ("commented", Seq(("id", "INTEGER", 1), ("v", "TEXT", 0)),
      Seq(Row(1L, "c1"), Row(2L, "c2"), Row(3L, "c3"))),
    ("dup_uq", Seq(("id", "INTEGER", 1), ("a", "TEXT", 0), ("b", "TEXT", 0)),
      Seq(Row(1L, "x1", "x3"), Row(2L, "x2", "x2"), Row(3L, "x3", "x1"))))

  test("listTables reads each fixture form as sqlite's PRAGMA " +
      "table_info does") {
    assert(SqliteFile.listTables(db).map(_.name) == forms.map(_._1))
    forms.foreach { case (name, info, _) =>
      assert(columns(table(db, name)) == info, name)
    }
    assert(table(db, "alias_case").primaryKey == Seq("A"))
    assert(table(db, "named_pk").columns.head.rowidAlias)
    assert(table(db, "wr_case").recordIndex == Seq(1, 0))
  }

  test("SqliteFile.read returns sqlite's rows for each fixture form") {
    forms.foreach { case (name, info, rows) =>
      val df = SqliteFile.read(spark, db, table(db, name))
      assert(df.columns.toSeq == info.map(_._1), name)
      assert(df.collect().sortBy(_.getLong(0)).toSeq == rows, name)
    }
  }

  test("migrateSqliteFile stages the key-case and CONSTRAINT tables' " +
      "ids 1..3 and orders them by their key") {
    val out = Files.createTempDirectory("graft-ddl-mig").toString
    try {
      val reports = MigrationJob.migrateSqliteFile(spark, db, "db", out)
      Seq("alias_case" -> "A", "named_pk" -> "id").foreach { case (t, k) =>
        val ids = spark.read.parquet(s"$out/$t").select(k).collect()
          .map(_.getLong(0)).sorted.toSeq
        assert(ids == Seq(1L, 2L, 3L), t)
        val ddl = reports.find(_.table == t).get.ddl
        assert(ddl.endsWith(s"ORDER BY $k"), ddl)
      }
      // a name that is not a plain identifier is backquoted
      assert(reports.find(_.table == "quoted_col").get.ddl ==
        "CREATE TABLE IF NOT EXISTS db.quoted_col (id Int64, `my col` String) " +
          "ENGINE = ReplacingMergeTree ORDER BY id")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(out))
  }

  test("a key repeating an earlier one gets no autoindex: " +
      "sqlite_autoindex_dup_uq_2 is UNIQUE(b)") {
    val ix = SqliteIndex.listIndexes(db).filter(_.table == "dup_uq")
      .map(i => i.name -> i.specs).toMap
    assert(ix == Map("sqlite_autoindex_dup_uq_1" -> Seq(ColSpec("a")),
      "sqlite_autoindex_dup_uq_2" -> Seq(ColSpec("b"))))
    val probe = spark.read.format("sqlite").option("path", db)
      .option("table", "dup_uq").load().filter("b = 'x1'")
    assert(probe.queryExecution.executedPlan.toString
      .contains("sqlite_autoindex_dup_uq_2"))
    assert(probe.collect().toSeq == Seq(Row(3L, "x3", "x1")))
  }

  test("committed fixtures: casecoll t is [A, b] with A the rowid, n2 " +
      "is [S, v], autoindex pk is [x, y]") {
    val cc = s"$res/casecoll_fixture.db"
    val t = SqliteFile.read(spark, cc, table(cc, "t"))
    assert(t.columns.toSeq == Seq("A", "b"))
    assert(t.select("A").collect().map(_.getLong(0)).sorted.toSeq ==
      (1L to 2000L))
    assert(SqliteFile.read(spark, cc, table(cc, "n2")).columns.toSeq ==
      Seq("S", "v"))
    val ai = s"$res/autoindex_fixture.db"
    assert(SqliteFile.read(spark, ai, table(ai, "pk")).columns.toSeq ==
      Seq("x", "y"))
  }

  test("listTables agrees with sqlite's PRAGMA table_info on every " +
      "committed fixture (table_info.tsv)") {
    val rows = Files.readAllLines(Paths.get(res, "table_info.tsv")).asScala
      .drop(1).map(_.split("\t", -1).toSeq)
    val byFile = rows.groupBy(_.head)
    val fixtures = new java.io.File(res).list().filter(_.endsWith(".db"))
    assert(byFile.keySet == fixtures.toSet,
      "table_info.tsv is stale: rerun tools/make_ddl_fixture.py")
    byFile.toSeq.sortBy(_._1).foreach { case (file, fileRows) =>
      val tables = SqliteFile.listTables(s"$res/$file")
      assert(tables.map(_.name) == fileRows.map(_(1)).distinct, file)
      tables.foreach { t =>
        val want = fileRows.filter(_(1) == t.name)
          .map(r => (r(2), r(3).toUpperCase, r(4).toInt))
        assert(columns(t) == want, s"$file ${t.name}")
      }
    }
  }

  test("a generated column is refused by name, VIRTUAL or STORED; " +
      "the file's other tables still read") {
    val gen = s"$res/generated_fixture.db"
    def ddl(sql: String) = SqliteDdl.parseCreateTable(sql).columns
      .map(c => c.name -> c.generated)
    assert(ddl("CREATE TABLE g(a INTEGER, b TEXT GENERATED ALWAYS AS " +
      "(a || 'x') VIRTUAL, c TEXT, d AS (a * 2), e INT AS (a) STORED, " +
      "f DEFAULT 1)") == Seq("a" -> None, "b" -> Some("VIRTUAL"),
      "c" -> None, "d" -> Some("VIRTUAL"), "e" -> Some("STORED"), "f" -> None))
    // listTables lists the stored columns, as PRAGMA table_info does
    assert(table(gen, "g_virtual").generated == Seq("b" -> "VIRTUAL"))
    assert(table(gen, "g_stored").generated == Seq("b" -> "STORED"))
    Seq("g_virtual" -> "VIRTUAL", "g_stored" -> "STORED").foreach {
      case (t, kind) =>
        val e = intercept[SqliteFile.GeneratedColumnException] {
          SqliteFile.read(spark, gen, t).collect()
        }
        assert(e.table == t && e.column == "b" && e.kind == kind)
        assert(e.getMessage.contains(s"$t.b is a $kind generated column"))
    }
    assert(SqliteFile.read(spark, gen, "plain").collect().sortBy(_.getLong(0))
      .toSeq == Seq(Row(1L, "c1"), Row(2L, "c2"), Row(3L, "c3")))
    intercept[SqliteFile.GeneratedColumnException] {
      graft.sources.SqliteCatalogCdc.select(gen, "*")
    }
    val out = Files.createTempDirectory("graft-ddl-gen").toString
    try intercept[SqliteFile.GeneratedColumnException] {
      MigrationJob.migrateSqliteFile(spark, gen, "db", out)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(
      new java.io.File(out))
  }

  test("rowid alias and key numbering follow sqlite's rules") {
    def ddl(sql: String) = SqliteDdl.parseCreateTable(sql)
    // column-level INTEGER PRIMARY KEY DESC stores a real column ...
    assert(ddl("CREATE TABLE f(a, b, c INTEGER PRIMARY KEY DESC)")
      .rowidAlias.isEmpty)
    // ... while the table-level DESC form, a quoted type and ASC alias
    assert(ddl("CREATE TABLE g(a INTEGER, PRIMARY KEY(a DESC))")
      .rowidAlias.contains(0))
    assert(ddl("CREATE TABLE h(a \"INTEGER\" PRIMARY KEY, b)")
      .rowidAlias.contains(0))
    assert(ddl("CREATE TABLE i(a INTEGER  PRIMARY KEY  ASC, b)")
      .rowidAlias.contains(0))
    // sqlite_autoindex_j_1 is the UNIQUE; the alias pk makes no index
    val j = ddl("CREATE TABLE j(a INTEGER UNIQUE PRIMARY KEY, b)")
    assert(j.keys.map(_.primary) == Seq(false, true) &&
      j.rowidAlias.contains(0))
    // composite pk first (sqlite_autoindex_k_1), then UNIQUE(b) (_2)
    val k = ddl("CREATE TABLE k(a INTEGER, b TEXT, PRIMARY KEY(a, b), " +
      "UNIQUE(b))")
    assert(k.keys.map(_.primary) == Seq(true, false) && k.pkColumns ==
      Seq(0, 1) && k.rowidAlias.isEmpty)
    // doubled quotes, bracket names, a size with a comma
    val q = ddl("CREATE TABLE q(\"a\"\"b\" TEXT, [c d] DECIMAL(10, 2) " +
      "NOT NULL, 'e' VARCHAR(5) COLLATE NOCASE)")
    assert(q.columns == Seq(
      SqliteDdl.Column("a\"b", "TEXT", Right(false)),
      SqliteDdl.Column("c d", "DECIMAL(10, 2)", Right(false)),
      SqliteDdl.Column("e", "VARCHAR(5)", Right(true))))
  }
}
