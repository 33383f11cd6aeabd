package graft

import java.sql.DriverManager

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** End-to-end CLI parity check: graft.Migrate's main() run the way a
  * user would (flags in, staged parquet + printed DDL out) against a
  * live embedded Derby — the argparse surface of main.py:184-204
  * mapped onto the distributed loop.
  */
class MigrateCliSpec extends SparkFunSuite {

  test("flag parsing mirrors the reference surface") {
    val c = Migrate.parse(Array(
      "--sqlite", "/tmp/x.db",
      "--clickhouse-host", "ch1", "--clickhouse-port", "8123",
      "--clickhouse-user", "u", "--clickhouse-password", "p",
      "--clickhouse-database", "analytics",
      "--chunk-size", "500", "--num-partitions", "3", "--dry-run"))
    // round 12: --sqlite routes to the driverless FILE reader
    assert(c.sqlitePath == "/tmp/x.db" && c.jdbcUrl.isEmpty)
    assert(c.chHost == "ch1" && c.chPort == 8123)
    assert(c.chUser == "u" && c.chPassword == "p")
    assert(c.chDatabase == "analytics")
    assert(c.chunkSize == 500L && c.numPartitions == 3 && c.dryRun)
    intercept[IllegalArgumentException](Migrate.parse(Array("--bogus")))
    intercept[IllegalArgumentException](Migrate.parse(Array[String]()))
    // a value flag given last is refused as missing its value, by name
    Seq("--out", "--chunk-size", "--clickhouse-host").foreach { flag =>
      val e = intercept[IllegalArgumentException](Migrate.parse(
        Array("--sqlite", "/tmp/x.db", flag)))
      assert(e.getMessage == s"$flag needs a value", e.getMessage)
    }
  }

  test("--num-partitions must be positive") {
    Seq("--num-partitions" -> Seq("0", "-2", "abc"),
        "--chunk-size" -> Seq("0", "-2", (Int.MaxValue + 1L).toString, "abc"),
        "--clickhouse-port" -> Seq("0", "-1", "65536", "abc"))
      .foreach { case (flag, ns) =>
        ns.foreach { n =>
          val e = intercept[IllegalArgumentException](Migrate.parse(
            Array("--sqlite", "/tmp/x.db", flag, n)))
          assert(e.getMessage.contains(flag), e.getMessage)
        }
      }
    assert(Migrate.parse(Array("--sqlite", "/tmp/x.db", "--chunk-size",
      Int.MaxValue.toString)).chunkSize == Int.MaxValue)
    assert(Migrate.parse(Array("--sqlite", "/tmp/x.db", "--clickhouse-port",
      "65535")).chPort == 65535)
  }

  /** stdout of `Migrate.main(args :+ "--out" :+ dir)`, `dir` printed as `<out>`. */
  private def dryRun(args: String*): String = {
    val out = java.nio.file.Files.createTempDirectory("graft_cli_dry").toString
    val stdout = new java.io.ByteArrayOutputStream()
    try {
      Console.withOut(new java.io.PrintStream(stdout, true, "UTF-8")) {
        Migrate.main((args ++ Seq("--out", out)).toArray)
      }
      stdout.toString("UTF-8").replace(out, "<out>")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  test("the dry-run transcript on fixture.db matches the committed golden file") {
    val golden = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      "src/test/resources/migrate/fixture_dry_run.txt")), "UTF-8")
    assert(dryRun("--sqlite", "src/test/resources/sqlite/fixture.db",
      "--dry-run") == golden)
  }

  test("the dry run starts no Spark job after the last table's staging write") {
    // staging jobs carry MigrationJob.concurrently's job tag; a job
    // started with the marker property flushes the asynchronous bus
    val marker = "graft.spec.dryRunFlush"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val p = Option(j.properties)
        def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
        jobs.add(
          if (prop(marker).isDefined) "marker"
          else if (prop("spark.job.tags").exists(_.contains("graft-migrate-"))) "staging"
          else "other")
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      dryRun("--sqlite", "src/test/resources/sqlite/fixture.db", "--dry-run")
      spark.sparkContext.setLocalProperty(marker, "flush")
      try spark.range(1).collect()
      finally spark.sparkContext.setLocalProperty(marker, null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!jobs.contains("marker") && System.nanoTime() < deadline) Thread.sleep(20)
      assert(jobs.contains("marker"), "the marker job was never seen")
      val run = jobs.asScala.takeWhile(_ != "marker").toSeq
      assert(run.contains("staging"), run)
      assert(run.last == "staging", run)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("main() migrates a live Derby catalog end-to-end in dry-run") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cli_derby").toString
    System.setProperty("derby.stream.error.file", s"$dir/derby.log")
    val url = s"jdbc:derby:$dir/db;create=true"
    val c = DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      st.executeUpdate("CREATE TABLE EVENTS (ID BIGINT NOT NULL PRIMARY KEY, " +
        "KIND VARCHAR(16), SCORE DOUBLE)")
      val ins = c.prepareStatement("INSERT INTO EVENTS VALUES (?, ?, ?)")
      (1 to 200).foreach { i =>
        ins.setLong(1, i.toLong); ins.setString(2, s"k${i % 4}")
        ins.setDouble(3, i * 0.5); ins.addBatch()
      }
      ins.executeBatch()
    } finally c.close()

    val out = java.nio.file.Files.createTempDirectory("graft_cli_out").toString
    val stdout = new java.io.ByteArrayOutputStream()
    try {
      Console.withOut(new java.io.PrintStream(stdout)) {
        Migrate.main(Array(
          "--jdbc-url", url.stripSuffix(";create=true"),
          "--clickhouse-database", "db",
          "--chunk-size", "50", "--num-partitions", "2",
          "--out", out))
      }
      val printed = stdout.toString
      // staged parquet is real and complete
      assert(spark.read.parquet(s"$out/events").count() == 200L)
      // the reference's statement sequence is printed in dry-run
      assert(printed.contains("CREATE TABLE IF NOT EXISTS db.events"))
      assert(printed.contains("ORDER BY ID") || printed.contains("ORDER BY id"))
      assert(printed.contains("INSERT INTO db.events"))
      assert(printed.contains("OPTIMIZE TABLE db.events"))
      assert(printed.contains("200 rows"))
      // the spec's shared session survives main()
      assert(!spark.sparkContext.isStopped)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    }
  }

  test("main() migrates a REAL SQLite file end-to-end — the " +
      "reference's identity run, with no JDBC driver at all (round 12)") {
    val out = java.nio.file.Files.createTempDirectory("graft_cli_sqlite").toString
    val stdout = new java.io.ByteArrayOutputStream()
    try {
      Console.withOut(new java.io.PrintStream(stdout)) {
        Migrate.main(Array(
          "--sqlite", "src/test/resources/sqlite/fixture.db",
          "--clickhouse-database", "db",
          "--chunk-size", "1000", "--out", out))
      }
      val printed = stdout.toString
      // every user table staged, row-complete (counts from the
      // fixture generator's own sqlite aggregates)
      assert(spark.read.parquet(s"$out/typed").count() == 3L)
      assert(spark.read.parquet(s"$out/big").count() == 6000L)
      assert(spark.read.parquet(s"$out/pair").count() == 3L)
      assert(spark.read.parquet(s"$out/altered").count() == 3L)
      // pk-driven DDL: rowid-alias single key and the composite key
      assert(printed.contains("CREATE TABLE IF NOT EXISTS db.big"))
      assert(printed.contains("ORDER BY id"))
      assert(printed.contains("ORDER BY (a, b)"))
      assert(printed.contains("ReplacingMergeTree"))
      assert(printed.contains("OPTIMIZE TABLE db.big"))
      // WITHOUT ROWID tables (round 12) migrate through the same CLI:
      // composite pk -> tuple ORDER BY, 5001 + 3 rows join the total
      assert(spark.read.parquet(s"$out/wr").count() == 5001L)
      assert(printed.contains("ORDER BY (grp, k)"))
      assert(printed.contains("11013 rows total"))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    }
  }

  test("main() parses declared DATE/DATETIME columns and declares them " +
      "Date/DateTime, like the reference (main.py:18-37)") {
    val out = java.nio.file.Files.createTempDirectory("graft_cli_temporal").toString
    val stdout = new java.io.ByteArrayOutputStream()
    try {
      Console.withOut(new java.io.PrintStream(stdout)) {
        Migrate.main(Array(
          "--sqlite", "src/test/resources/sqlite/fixture.db",
          "--clickhouse-database", "db", "--out", out))
      }
      val ddl = stdout.toString.linesIterator
        .find(_.startsWith("CREATE TABLE IF NOT EXISTS db.typed ")).get
      assert(ddl.contains("dt DateTime, d Date)"), ddl)
      import org.apache.spark.sql.types.{DateType, TimestampType}
      val typed = spark.read.parquet(s"$out/typed").orderBy("id")
      assert(typed.schema("dt").dataType == TimestampType)
      assert(typed.schema("d").dataType == DateType)
      // the fixture's third row holds NULL in both: parsed to NULL
      val got = typed.selectExpr("cast(dt AS string)", "cast(d AS string)")
        .collect().map(r => (r.getString(0), r.getString(1))).toSeq
      assert(got == Seq(("2024-03-01 12:34:56", "2024-03-01"),
        ("1999-12-31 23:59:59", "1999-12-31"), (null, null)))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    }
  }

  test("main() migrates a LIVE WAL-mode SQLite file — un-checkpointed " +
      "-wal sibling read, not refused (round 13)") {
    val out = java.nio.file.Files.createTempDirectory("graft_cli_wal").toString
    val stdout = new java.io.ByteArrayOutputStream()
    try {
      Console.withOut(new java.io.PrintStream(stdout)) {
        Migrate.main(Array(
          "--sqlite", "src/test/resources/sqlite/fixture_wal.db",
          "--clickhouse-database", "db",
          "--chunk-size", "1000", "--out", out))
      }
      val printed = stdout.toString
      // committed wal state: 3464 kv rows (post update+insert+delete)
      // and the table that exists ONLY in the wal's sqlite_master
      assert(spark.read.parquet(s"$out/kv").count() == 3464L)
      assert(spark.read.parquet(s"$out/walnew").count() == 200L)
      assert(printed.contains("CREATE TABLE IF NOT EXISTS db.walnew"))
      assert(printed.contains("3664 rows total"))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    }
  }

  test("main() migrates a TORN SQLite file with a hot rollback journal " +
      "— pre-image replay restores the pre-transaction snapshot (round 14)") {
    val out = java.nio.file.Files.createTempDirectory("graft_cli_jrn").toString
    val stdout = new java.io.ByteArrayOutputStream()
    try {
      Console.withOut(new java.io.PrintStream(stdout)) {
        Migrate.main(Array(
          "--sqlite", "src/test/resources/sqlite/fixture_journal.db",
          "--clickhouse-database", "db",
          "--chunk-size", "1000", "--out", out))
      }
      val printed = stdout.toString
      // the raw torn main file holds 3658 rows mixing committed and
      // uncommitted state; the journal replay restores exactly 4000
      val acct = spark.read.parquet(s"$out/acct")
      assert(acct.count() == 4000L)
      import org.apache.spark.sql.functions.col
      assert(acct.where(col("label").startsWith("dirty-")).count() == 0L)
      // the uncommitted CREATE TABLE must not be discovered or staged
      assert(!printed.contains("db.ghost"))
      assert(printed.contains("4000 rows total"))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    }
  }

  test("main() migrates a UTF-16LE SQLite file — non-UTF-8 text decoded " +
      "through the same CLI (round 14)") {
    val out = java.nio.file.Files.createTempDirectory("graft_cli_u16").toString
    val stdout = new java.io.ByteArrayOutputStream()
    try {
      Console.withOut(new java.io.PrintStream(stdout)) {
        Migrate.main(Array(
          "--sqlite", "src/test/resources/sqlite/fixture_utf16le.db",
          "--clickhouse-database", "db",
          "--chunk-size", "1000", "--out", out))
      }
      val printed = stdout.toString
      val tx = spark.read.parquet(s"$out/tx")
      assert(tx.count() == 5L)
      // surrogate-pair text survives the staging round-trip
      import org.apache.spark.sql.functions.col
      assert(tx.where(col("id") === 2L).collect()(0)
        .getAs[String]("u") == "😀🚀 pair")
      assert(printed.contains("CREATE TABLE IF NOT EXISTS db.tx"))
      assert(printed.contains("6 rows total")) // 5 tx + 1 bin
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    }
  }
}
