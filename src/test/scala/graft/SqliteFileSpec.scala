package graft

import graft.sources.SqliteFile
import org.apache.spark.sql.functions._

/** The pure-Scala SQLite file-format reader against a REAL database
  * file written by CPython's canonical sqlite3 library (fixture
  * generated by tools/make_sqlite_fixture.py, committed bytes): the
  * end-to-end "read an actual .db" run the missing sqlite-jdbc driver
  * blocked for six rounds. Invariant values are the generator's own
  * sqlite-computed outputs.
  */
class SqliteFileSpec extends SparkFunSuite {

  private val db = "src/test/resources/sqlite/fixture.db"

  test("catalog: tables only, views/indexes/internal skipped; pk parse") {
    val ts = SqliteFile.listTables(db)
    assert(ts.map(_.name).sorted ===
      Seq("altered", "big", "pair", "typed", "wr", "wr_small"))
    val typed = ts.find(_.name == "typed").get
    assert(typed.columns.head.rowidAlias && typed.columns.head.name == "id")
    assert(typed.primaryKey === Seq("id"))
    val pair = ts.find(_.name == "pair").get
    assert(pair.primaryKey === Seq("a", "b"))
    assert(!pair.columns.exists(_.rowidAlias)) // composite pk != rowid alias
    // declared types survive for the reference's mapping
    assert(typed.columns.find(_.name == "v").get.decl.toUpperCase
      .startsWith("VARCHAR"))
  }

  test("typed: every serial type decodes exactly") {
    val df = SqliteFile.read(spark, db, "typed").orderBy("id")
    val rows = df.collect()
    assert(rows.length === 3)
    val r1 = rows(0)
    assert(r1.getLong(0) === 1L) // rowid alias materialized
    assert(Seq(1, 2, 3, 4, 5, 6).map(r1.getLong) ===
      Seq(127L, 32767L, 8388607L, 2147483647L, 140737488355327L,
        9223372036854775807L))
    assert(r1.getDouble(7) === 3.5)
    assert(r1.getString(8) === "héllo wörld 世界") // multibyte UTF-8
    assert(r1.getString(9) === "vtext")
    assert(r1.getAs[Array[Byte]](10).toSeq ===
      Seq(0x00, 0x01, 0xfe, 0xff).map(_.toByte).toSeq)
    // BOOLEAN is absent from the reference's decl map (main.py:125-134)
    // -> String fallback, so the stored int surfaces as "1"
    assert(r1.getString(11) === "1")
    assert(r1.getString(12) === "2024-03-01 12:34:56") // raw, parse is downstream
    assert(r1.getString(13) === "2024-03-01")
    val r2 = rows(1) // negative boundaries at every width
    assert(Seq(1, 2, 3, 4, 5, 6).map(r2.getLong) ===
      Seq(-128L, -32768L, -8388608L, -2147483648L, -140737488355328L,
        -9223372036854775808L))
    assert(r2.getDouble(7) === -0.25)
    assert(r2.isNullAt(9) && r2.getAs[Array[Byte]](10).isEmpty)
    assert(r2.getString(11) === "0")
    val r3 = rows(2) // serial types 8/9 (const 0/1) + NULL tail
    assert(r3.getLong(1) === 0L && r3.getLong(2) === 1L)
    assert((3 to 8).forall(r3.isNullAt) && (10 to 13).forall(r3.isNullAt))
  }

  test("big: interior b-tree + multi-page overflow, invariants match " +
      "sqlite's own aggregates") {
    val df = SqliteFile.read(spark, db, "big")
    assert(df.rdd.getNumPartitions > 1, "interior root should partition")
    val agg = df.agg(count(lit(1)), sum("val"), sum(length(col("body"))),
      min("score"), max("score")).head()
    assert(agg.getLong(0) === 6000L)
    assert(agg.getLong(1) === -184095L)   // generator-printed invariant
    assert(agg.getLong(2) === 2078994L)   // includes the 50 KB overflow row
    assert(agg.getDouble(3) === 0.0)
    assert(agg.getDouble(4) === 142.28571428571428)
    // the overflow row specifically
    val ov = df.where(col("id") === 4242L).head()
    assert(ov.getString(3).length === 50009 &&
      ov.getString(3).startsWith("overflow-xxx"))
  }

  test("altered: pre-ALTER records pad trailing column with NULL") {
    val rows = SqliteFile.read(spark, db, "altered")
      .orderBy("id").collect()
    assert(rows.map(_.getString(1)).toSeq === Seq("old1", "old2", "new3"))
    assert(rows(0).isNullAt(2) && rows(1).isNullAt(2))
    assert(rows(2).getLong(2) === 33L)
  }

  test("DataSource V2: pruning reaches the byte decoder") {
    val df = spark.read.format("sqlite")
      .option("path", db).option("table", "big").load()
    assert(df.rdd.getNumPartitions > 1)
    assert(df.count() === 6000L)
    val two = df.select("id", "val")
    // the pushed-down required schema must have dropped the fat body
    // column before the scan
    val scan = two.queryExecution.executedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        s.scan.readSchema()
    }
    assert(scan.isDefined, "no BatchScanExec in the V2 plan")
    assert(scan.get.fieldNames.toSeq === Seq("id", "val"),
      s"pruning did not reach the scan: ${scan.get.fieldNames.toSeq}")
    assert(two.agg(sum("val")).head().getLong(0) === -184095L)
  }

  test("WITHOUT ROWID: index b-tree walk, pk-first record permutation, " +
      "interior-cell rows, index-rule overflow, ALTER padding") {
    val ts = SqliteFile.listTables(db)
    val wr = ts.find(_.name == "wr").get
    assert(wr.withoutRowid && wr.primaryKey === Seq("grp", "k"))
    assert(!wr.columns.exists(_.rowidAlias))
    // declared (payload, grp, k, amount, extra) <- record (grp, k,
    // payload, amount, extra)
    assert(wr.recordIndex === IndexedSeq(2, 0, 1, 3, 4))

    val df = SqliteFile.read(spark, db, "wr")
    assert(df.rdd.getNumPartitions > 1,
      "interior index root should partition (children + cells-only slice)")
    // sqlite's own aggregates (generator-printed invariants); the
    // float sum gets tolerance — partition order differs from the
    // reference cursor's sequential add
    val agg = df.agg(count(lit(1)), sum("grp"),
      sum(length(col("payload"))), sum("amount")).head()
    assert(agg.getLong(0) === 5001L)
    assert(agg.getLong(1) === 239886L)
    assert(agg.getLong(2) === 625867L)
    assert(math.abs(agg.getDouble(3) - 173479.5) < 1e-6)

    // the overflow row (index spill rule, not the table-leaf rule)
    val ov = df.where(col("k") === "k00777").head()
    assert(ov.getAs[String]("payload").length === 30006 &&
      ov.getAs[String]("payload").startsWith("wrbig-yyy"))
    assert(ov.getAs[Long]("grp") === 777L % 97)

    // ALTER-added column: NULL for all pre-ALTER records, value for
    // the post-ALTER insert — the short-record rule under permutation
    assert(df.where(col("extra").isNotNull).count() === 1L)
    val tail = df.where(col("k") === "k99999").head()
    assert(tail.getAs[Long]("extra") === 42L &&
      tail.getAs[String]("payload") === "tail")

    // every key exactly once: interior-cell records are emitted
    // exactly once across the partition slices
    assert(df.select("grp", "k").distinct().count() === 5001L)

    // leaf-only root variant + TEXT pk + NULL non-pk value
    val small = SqliteFile.read(spark, db, "wr_small").orderBy("name")
      .collect()
    assert(small.map(_.getString(0)).toSeq === Seq("alpha", "beta", "gamma"))
    assert(small(0).getLong(1) === 1L && small(2).isNullAt(1))
  }

  test("WITHOUT ROWID through DataSource V2: pruning") {
    val v2 = spark.read.format("sqlite")
      .option("path", db).option("table", "wr").load()
    assert(v2.select(sum("grp")).head().getLong(0) === 239886L)
    val two = v2.select("grp", "amount")
    val scan = two.queryExecution.executedPlan.collectFirst {
      case s: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        s.scan.readSchema()
    }
    assert(scan.get.fieldNames.toSeq === Seq("grp", "amount"),
      s"pruning did not reach the scan: ${scan.get.fieldNames.toSeq}")
  }

  test("refusals are loud and named") {
    val e = intercept[IllegalArgumentException] {
      SqliteFile.read(spark, db, "no_such_table")
    }
    assert(e.getMessage.contains("no_such_table"))
    val bad = java.io.File.createTempFile("notadb", ".db")
    java.nio.file.Files.write(bad.toPath, "hello world, not sqlite".getBytes)
    val e2 = intercept[IllegalArgumentException] {
      SqliteFile.listTables(bad.getPath)
    }
    assert(e2.getMessage.contains("not a SQLite 3 database"))
  }

  test("a non-positive maxPartitions is refused by name") {
    val big = SqliteFile.listTables(db).find(_.name == "big").get
    Seq(0, -1).foreach { n =>
      val e = intercept[IllegalArgumentException](
        SqliteFile.read(spark, db, big, maxPartitions = n).count())
      assert(e.getMessage.contains("maxPartitions") &&
        e.getMessage.contains(s"got $n"), e.getMessage)
    }
    val e = intercept[IllegalArgumentException](
      spark.read.format("sqlite").option("path", db).option("table", "big")
        .option("maxPartitions", "abc").load().count())
    assert(e.getMessage.contains("maxPartitions") &&
      e.getMessage.contains("got abc"), e.getMessage)
  }

  test("journal siblings (round 14): cold/garbage journals are ignored, " +
      "hot journals REPLAY (SqliteJournalSpec), empty journals read fine") {
    // a journal without the 8-byte magic is COLD — sqlite's own rule:
    // only a valid header makes a journal hot; garbage carries no
    // authority over the main file (pre-r14 this refused blanket-ly)
    val dir = java.nio.file.Files.createTempDirectory("graft_jrn")
    val cp = dir.resolve("fixture.db")
    java.nio.file.Files.copy(java.nio.file.Paths.get(db), cp)
    java.nio.file.Files.write(dir.resolve("fixture.db-journal"),
      Array.fill[Byte](512)(0x42))
    assert(SqliteFile.listTables(cp.toString).nonEmpty)
    // an EMPTY journal sibling (sqlite's journal_mode=PERSIST leftover
    // after clean commit is truncated, not deleted) reads fine
    java.nio.file.Files.write(dir.resolve("fixture.db-journal"),
      Array.empty[Byte])
    assert(SqliteFile.listTables(cp.toString).nonEmpty)
  }

  test("auto-vacuum databases (round 14): ptrmap pages and vacuum page " +
      "relocation are invisible to the rootpage-pointer walk — FULL " +
      "and INCREMENTAL fixtures decode to sqlite's own aggregates") {
    // fixtures from tools/make_autovacuum_fixture.py: 1 KiB pages (a
    // ptrmap page every ~205 pages — both files span several), bulk
    // insert + delete-half churn + re-insert, overflow-chain rows; the
    // INCREMENTAL one additionally ran PRAGMA incremental_vacuum, so
    // pages were physically RELOCATED and sqlite_schema rootpages
    // rewritten. A sequential page walk would decode a ptrmap page as
    // a b-tree page; the pointer walk must not notice any of it.
    Seq("autovac_full.db", "autovac_incr.db").foreach { f =>
      val p = s"src/test/resources/sqlite/$f"
      // the header really claims auto-vacuum (byte 52: largest root
      // b-tree page, nonzero iff ptrmap pages exist)
      val hdr = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
        .slice(52, 56).map(_ & 0xff)
      assert(hdr.exists(_ != 0), s"$f lost its auto-vacuum header")
      val items = SqliteFile.read(spark, p, "items")
      val ag = items.agg(count(lit(1)), sum("k"), sum(length(col("s"))))
        .collect()(0)
      assert(ag.getLong(0) == 4500L && ag.getLong(1) == 2120750L &&
        ag.getLong(2) == 126890L, s"$f items: $ag")
      val blobs = SqliteFile.read(spark, p, "blobs")
      val bg = blobs.agg(count(lit(1)), sum(length(col("payload"))))
        .collect()(0)
      assert(bg.getLong(0) == 30L && bg.getLong(1) == 150120L,
        s"$f blobs: $bg")
    }
  }
}
