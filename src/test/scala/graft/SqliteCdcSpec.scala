package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.sources.SqliteFile
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException

/** Rowid-watermark CDC over a growing SQLite database (round 14) —
  * the continuous evolution of the reference's drop-and-reload loop
  * (main.py:157-179 reloads EVERY row EVERY run; the stream ships only
  * `rowid > watermark`). Fixtures are growth snapshots written by
  * CPython's canonical sqlite3 (tools/make_cdc_fixture.py):
  * cdc_v1/v2/v3.db are committed snapshots of one append-only table at
  * 400/700/1000 rows (page_size=512 so the b-tree is multi-level and
  * interior-cell pruning is load-bearing), and cdc_wal_v1/v2.db share
  * a byte-IDENTICAL main file — v2's growth lives only in committed
  * WAL frames, so the wal-overlay delta path is what any passing
  * wal-growth assertion proves.
  *
  * Laws pinned here:
  *  - a rowid-alias range on `read` probes the b-tree and returns the
  *    full read filtered to (a, b], row for row;
  *  - the bounded walk touches O(matching leaves + spine) pages — the
  *    indexed incremental-read shape, NOT a rescan;
  *  - the stream settles to its batch twin after each growth step,
  *    exactly-once per rowid (no dupes across batches);
  *  - WAL growth streams through the committed-frame overlay with no
  *    main-file change at all;
  *  - refusals: WITHOUT ROWID tables (no file-level monotonic key) and
  *    watermark regression (shrunk/replaced table) fail loudly.
  */
class SqliteCdcSpec extends SparkFunSuite {

  private val res = "src/test/resources/sqlite"
  private def v(n: Int) = s"$res/cdc_v$n.db"

  /** Swap a LIVE-streamed file atomically. `Files.copy(REPLACE_EXISTING)`
    * is delete-then-copy on Linux — a window where the target does not
    * exist, racing the stream's `latestOffset` open (the r16 full-suite
    * flake). Copy to a temp sibling, then ATOMIC_MOVE: the path always
    * resolves to a complete file.
    */
  private def atomicSwap(src: String, dst: String): Unit = {
    val d = Paths.get(dst)
    val tmp = d.resolveSibling(d.getFileName.toString + ".swap")
    Files.copy(Paths.get(src), tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, d, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def events(path: String) =
    SqliteFile.listTables(path).find(_.name == "events").get

  test("maxRowid probes the rightmost spine; snapshots watermark 400/700/1000") {
    assert(SqliteFile.maxRowid(v(1), events(v(1))) === Some(400L))
    assert(SqliteFile.maxRowid(v(2), events(v(2))) === Some(700L))
    assert(SqliteFile.maxRowid(v(3), events(v(3))) === Some(1000L))
  }

  test("subtreeRanges tile the rowid axis in order") {
    val r = SqliteFile.subtreeRanges(v(3), SqliteFile.header(v(3)),
      events(v(3)))
    assert(r.size > 1, "multi-level tree expected at page_size=512")
    assert(r.head._2 == Long.MinValue && r.last._3 == Long.MaxValue)
    r.sliding(2).foreach { case Seq((_, _, hi), (_, lo, _)) =>
      assert(hi == lo, "adjacent subtree intervals must abut")
    }
  }

  test("rowid range probe == full read filtered, row for row") {
    val t = events(v(3))
    val reference = scanReference(v(3), t)
    for ((pred, rows) <- Seq(
        (col("id") > 400, 600),
        (col("id") > 400 && col("id") <= 700, 300),
        (col("id") > 1000, 0))) { // empty slice past the end
      val probed = SqliteFile.read(spark, v(3), t).where(pred)
      val plan = probed.queryExecution.executedPlan.toString
      assert(plan.contains("probe=rowid:("), s"$pred not probed:\n$plan")
      val got = probed.orderBy("id").collect().toSeq
      assert(got.size === rows)
      assert(got === reference.where(pred).orderBy("id").collect().toSeq)
    }
  }

  test("pruning receipt: a tail read touches O(delta) pages, not O(tree)") {
    val t = events(v(3))
    val (allRows, allPages) = SqliteFile.pagesTouched(v(3), t)
    val (tailRows, tailPages) = SqliteFile.pagesTouched(v(3), t, 970L)
    assert(allRows === 1000L && tailRows === 30L)
    // 1000 rows over ~90 pages; the 30-row tail must be a handful
    assert(tailPages * 5 <= allPages,
      s"bounded walk read $tailPages of $allPages pages - not pruned")
  }

  test("refusal: rowid bounds/watermark on a WITHOUT ROWID table") {
    val fix = s"$res/fixture.db"
    val wr = SqliteFile.listTables(fix).find(_.name == "wr").get
    val e1 = intercept[IllegalArgumentException] {
      SqliteFile.maxRowid(fix, wr)
    }
    assert(e1.getMessage.contains("WITHOUT ROWID"))
    val e2 = intercept[IllegalArgumentException] {
      SqliteFile.subtreeRanges(fix, SqliteFile.header(fix), wr)
    }
    assert(e2.getMessage.contains("WITHOUT ROWID"))
  }

  // ---------------------------------------------------------- streaming

  private def streamInto(dbPath: String, dir: java.nio.file.Path,
                         name: String) = {
    spark.readStream.format("sqlite")
      .option("path", dbPath).option("table", "events").load()
      .writeStream.format("memory").queryName(name)
      .outputMode("append")
      .option("checkpointLocation", dir.resolve("ckpt").toString)
      .start()
  }

  test("snapshot growth streams exactly-once and settles to the batch twin") {
    val dir = Files.createTempDirectory("graft-cdc")
    val db = dir.resolve("live.db").toString
    atomicSwap(v(1), db)
    val q = streamInto(db, dir, "cdc_growth")
    try {
      q.processAllAvailable()
      val t1 = spark.table("cdc_growth")
      assert(t1.count() === 400L && t1.select(max("id")).head.getLong(0) === 400L)

      atomicSwap(v(2), db)
      q.processAllAvailable()
      val t2 = spark.table("cdc_growth")
      assert(t2.count() === 700L)
      assert(t2.select(countDistinct("id")).head.getLong(0) === 700L,
        "exactly-once per rowid: no dupes across micro-batches")

      atomicSwap(v(3), db)
      q.processAllAvailable()
      // settle-to-batch-twin: the streamed union equals one batch read
      val streamed = spark.table("cdc_growth")
        .agg(count(lit(1)), sum("id"), sum("grp"),
          sum(length(col("payload")))).collect()(0).toSeq
      val batch = SqliteFile.read(spark, v(3), events(v(3)))
        .agg(count(lit(1)), sum("id"), sum("grp"),
          sum(length(col("payload")))).collect()(0).toSeq
      assert(streamed === batch)
    } finally q.stop()
  }

  test("live-WAL growth: new committed transactions arrive through the " +
      "wal overlay with a byte-identical main file") {
    val a = Files.readAllBytes(Paths.get(s"$res/cdc_wal_v1.db"))
    val b = Files.readAllBytes(Paths.get(s"$res/cdc_wal_v2.db"))
    assert(java.util.Arrays.equals(a, b),
      "fixture contract: wal growth must not touch the main file")

    val dir = Files.createTempDirectory("graft-cdc-wal")
    val db = dir.resolve("live.db").toString
    atomicSwap(s"$res/cdc_wal_v1.db", db)
    atomicSwap(s"$res/cdc_wal_v1.db-wal", db + "-wal")
    val q = streamInto(db, dir, "cdc_wal_growth")
    try {
      q.processAllAvailable()
      assert(spark.table("cdc_wal_growth").count() === 360L)

      // the writer commits one more txn: ONLY the wal changes
      atomicSwap(s"$res/cdc_wal_v2.db-wal", db + "-wal")
      q.processAllAvailable()
      val t = spark.table("cdc_wal_growth")
      assert(t.count() === 420L)
      assert(t.select(countDistinct("id")).head.getLong(0) === 420L)
      assert(t.select(max("id")).head.getLong(0) === 420L)
    } finally q.stop()
  }

  test("subtree roots come from the caller's header snapshot " +
      "when a WAL commit lands after it") {
    val dir = Files.createTempDirectory("graft-cdc-snap")
    val db = dir.resolve("live.db").toString
    try {
      atomicSwap(s"$res/cdc_wal_v1.db", db)
      atomicSwap(s"$res/cdc_wal_v1.db-wal", db + "-wal")
      val t = events(db)
      val h1 = SqliteFile.header(db)
      def ranges(path: String) =
        SqliteFile.subtreeRanges(path, SqliteFile.header(path), t)
      val v1 = ranges(s"$res/cdc_wal_v1.db")
      val v2 = ranges(s"$res/cdc_wal_v2.db")
      assert(v1 != v2, "fixture contract: the v2 commit changes the root")
      // the writer commits between the caller's parse and the planning
      atomicSwap(s"$res/cdc_wal_v2.db-wal", db + "-wal")
      assert(SqliteFile.subtreeRanges(db, h1, t) == v1)
      assert(SqliteFile.subtreeRoots(db, h1, t) == v1.map(_._1))
      assert(ranges(db) == v2)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }

  test("refusal: a shrunk table (watermark regression) fails the stream " +
      "loudly instead of double-reading") {
    val dir = Files.createTempDirectory("graft-cdc-shrink")
    val db = dir.resolve("live.db").toString
    atomicSwap(v(2), db)
    val q = streamInto(db, dir, "cdc_shrink")
    try {
      q.processAllAvailable()
      assert(spark.table("cdc_shrink").count() === 700L)
      atomicSwap(v(1), db)
      val e = intercept[Exception] {
        q.processAllAvailable()
        q.awaitTermination(30000)
      }
      val msgs = Iterator.iterate(e: Throwable)(_.getCause)
        .takeWhile(_ != null).map(t => Option(t.getMessage).getOrElse(""))
        .mkString(" | ")
      assert(msgs.contains("regressed"), s"unexpected failure: $msgs")
    } finally q.stop()
  }
}
