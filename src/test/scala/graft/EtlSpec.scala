package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.sources.{ChType, SchemaMapper}
import graft.functions.Coercions
import graft.operators.ReplacingMerge
import graft.sinks.ClickHouseDdl

class SchemaMapperSpec extends SparkFunSuite {
  test("sqlite declared types map like the reference (main.py:125-134)") {
    assert(SchemaMapper.fromSqliteDecl("INTEGER") == ChType.Int64)
    assert(SchemaMapper.fromSqliteDecl("int") == ChType.Int64)
    assert(SchemaMapper.fromSqliteDecl("REAL") == ChType.Float64)
    assert(SchemaMapper.fromSqliteDecl("FLOAT") == ChType.Float64)
    assert(SchemaMapper.fromSqliteDecl("VARCHAR") == ChType.Str)
    assert(SchemaMapper.fromSqliteDecl("TEXT") == ChType.Str)
    assert(SchemaMapper.fromSqliteDecl("DATETIME") == ChType.DateTime)
    assert(SchemaMapper.fromSqliteDecl("DATE") == ChType.Date)
    assert(SchemaMapper.fromSqliteDecl("BLOB") == ChType.Str) // unknown -> String
  }

  test("value-based inference matches main.py:39-54") {
    assert(SchemaMapper.fromValue(true) == ChType.Bool)
    assert(SchemaMapper.fromValue(-1) == ChType.Int32)
    assert(SchemaMapper.fromValue(7) == ChType.UInt32)
    assert(SchemaMapper.fromValue(4294967295L) == ChType.UInt32)
    assert(SchemaMapper.fromValue(4294967296L) == ChType.UInt64)
    assert(SchemaMapper.fromValue(1.5) == ChType.Float64)
    assert(SchemaMapper.fromValue("x") == ChType.Str)
    assert(SchemaMapper.fromValue(Symbol("odd")) == ChType.Str)
  }

  test("spark schema mapping covers the test tables") {
    val li = Tables.lineitem(spark, sf)
    val m = SchemaMapper.mapSchema(li.schema).toMap
    assert(m("l_orderkey") == ChType.Int64)
    assert(m("l_linenumber") == ChType.Int32)
    assert(m("l_quantity") == ChType.Float64)
    assert(m("l_returnflag") == ChType.Str)
    assert(m("l_shipdate") == ChType.DateTime)
    val emb = Tables.embeddings(spark, sf)
    assert(SchemaMapper.mapSchema(emb.schema).toMap.apply("embedding") ==
      ChType.Arr(ChType.Float32))
  }
}

class CoercionsSpec extends SparkFunSuite {
  import spark.implicits._

  test("parseDateTime drops fractional seconds and nulls malformed") {
    val df = Seq(
      "2024-07-25 15:04:42.056",
      "2024-07-25 15:04:42",
      " 2024-01-01 00:00:00.999999 ",
      "not a date", "", "  ", "2024-13-01 00:00:00"
    ).toDF("s").select(Coercions.parseDateTime($"s").as("t"))
    val got = df.collect().map(r => Option(r.get(0)).map(_.toString))
    assert(got(0).contains("2024-07-25 15:04:42.0"))
    assert(got(1).contains("2024-07-25 15:04:42.0"))
    assert(got(2).contains("2024-01-01 00:00:00.0"))
    assert(got(3).isEmpty && got(4).isEmpty && got(5).isEmpty && got(6).isEmpty)
  }

  test("parseDate strict yyyy-MM-dd") {
    val df = Seq("2024-07-25", " 2024-07-25 ", "2024-13-45", "", "x")
      .toDF("s").select(Coercions.parseDate($"s").as("d"))
    val got = df.collect().map(r => Option(r.get(0)).map(_.toString))
    assert(got(0).contains("2024-07-25"))
    assert(got(1).contains("2024-07-25"))
    assert(got(2).isEmpty && got(3).isEmpty && got(4).isEmpty)
  }

  test("uint32 wraparound masks like main.py:89") {
    val df = Seq(-1L, 4294967296L, 5L).toDF("x")
      .select(Coercions.toUInt32($"x").as("u"))
    assert(df.as[Long].collect().toSeq == Seq(4294967295L, 0L, 5L))
  }

  test("nullAsDefault fills typed zeros") {
    val df = Seq((Option.empty[Long], Option.empty[Double], Option.empty[String]))
      .toDF("i", "f", "s")
      .select(
        Coercions.nullAsDefault($"i", ChType.Int64).as("i"),
        Coercions.nullAsDefault($"f", ChType.Float64).as("f"),
        Coercions.nullAsDefault($"s", ChType.Str).as("s"))
    val r = df.collect()(0)
    assert(r.getLong(0) == 0L && r.getDouble(1) == 0.0 && r.getString(2) == "")
  }
}

class ReplacingMergeSpec extends SparkFunSuite {
  import spark.implicits._

  test("latestByKey keeps max version per key; both strategies agree") {
    val df = Seq(
      (1L, "a", 1L, 10.0), (1L, "a", 3L, 30.0), (1L, "a", 2L, 20.0),
      (2L, "b", 5L, 50.0)
    ).toDF("k1", "k2", "ver", "v")
    val byAgg = ReplacingMerge.latestByKey(df, Seq("k1", "k2"), Seq($"ver"))
      .orderBy("k1").collect().toSeq
    val byWin = ReplacingMerge.latestByKeyWindow(df, Seq("k1", "k2"), Seq($"ver"))
      .orderBy("k1").collect().toSeq
    assert(byAgg == byWin)
    assert(byAgg.map(r => (r.getLong(0), r.getLong(2), r.getDouble(3))) ==
      Seq((1L, 3L, 30.0), (2L, 5L, 50.0)))
  }

  test("optimize dedups and repartitions by key") {
    val ev = Tables.events(spark, sf)
    val merged = ReplacingMerge.optimize(ev, Seq("user_id", "event_type"),
      Seq($"ts_us", $"event_id"), numPartitions = Some(4))
    val keys = merged.select("user_id", "event_type").distinct().count()
    assert(merged.count() == keys)
  }

  test("latestByKeyWithDeletes: tombstone winner removes the key") {
    val df = Seq(
      (1L, 1L, 10.0, 0), (1L, 2L, 20.0, 1),  // latest is deleted -> gone
      (2L, 1L, 30.0, 1), (2L, 2L, 40.0, 0),  // deletion superseded -> kept
      (3L, 1L, 50.0, 0)                       // plain key -> kept
    ).toDF("k", "ver", "v", "del")
    val got = ReplacingMerge.latestByKeyWithDeletes(
        df, Seq("k"), Seq($"ver"), $"del")
      .orderBy("k").collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(got == Seq((2L, 40.0), (3L, 50.0)))
  }

  test("collapse: net-negative and balanced keys vanish; latest +1 represents") {
    val df = Seq(
      (1L, 1L, 10.0, 1), (1L, 2L, 11.0, -1),            // balanced -> gone
      (2L, 1L, 20.0, 1), (2L, 2L, 21.0, 1), (2L, 3L, 22.0, -1), // net +1
      (3L, 1L, 30.0, -1)                                 // net -1 -> gone
    ).toDF("k", "ver", "v", "sign")
    val got = ReplacingMerge.collapse(df, Seq("k"), $"sign", Seq($"ver"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    // survivor is key 2's latest +1 row (ver 2), not the -1 at ver 3
    assert(got == Seq((2L, 2L, 21.0)))
  }

  test("summingMerge: numerics sum, the rest comes from the latest row") {
    val df = Seq(
      (1L, 1L, 10.0, "first"), (1L, 2L, 5.0, "last"),
      (2L, 7L, 1.5, "only")
    ).toDF("k", "ver", "v", "tag")
    val got = ReplacingMerge.summingMerge(df, Seq("k"), Seq("v"), Seq($"ver"))
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(3))).toSeq
    assert(got == Seq((1L, 15.0, "last"), (2L, 1.5, "only")))
  }

  test("summingMerge: every non-key column summed (no representative)") {
    val df = Seq((1L, 10.0, 1L), (1L, 5.0, 2L), (2L, 1.5, 1L))
      .toDF("k", "v", "n")
    val got = ReplacingMerge.summingMerge(df, Seq("k"), Seq("v", "n"), Seq($"v"))
      .orderBy("k").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, 15.0, 3L), (2L, 1.5, 1L)))
  }
}

class DdlSpec extends SparkFunSuite {
  test("createTable emits ReplacingMergeTree DDL (main.py:65-71)") {
    val schema = Tables.events(spark, sf).schema
    val ddl = ClickHouseDdl.createTable("db", "events",
      SchemaMapper.mapSchema(schema), Some("event_id"))
    assert(ddl.startsWith("CREATE TABLE IF NOT EXISTS db.events ("))
    assert(ddl.contains("event_id Int64"))
    assert(ddl.contains("ts_ns Int64"))
    assert(ddl.contains("value Float64"))
    // DateTime mapping exercised on a real timestamp column:
    val liDdl = ClickHouseDdl.createTable("db", "lineitem",
      SchemaMapper.mapSchema(Tables.lineitem(spark, sf).schema), Some("l_orderkey"))
    assert(liDdl.contains("l_shipdate DateTime"))
    assert(ddl.contains("ENGINE = ReplacingMergeTree ORDER BY event_id"))
    val noPk = ClickHouseDdl.createTable("db", "t", SchemaMapper.mapSchema(schema), None)
    assert(noPk.endsWith("ORDER BY tuple()"))
  }

  test("identifiers that are not plain are backquoted, ` and \\ escaped") {
    Seq("a", "_x9", "Ab_1").foreach(n => assert(ClickHouseDdl.quote(n) == n))
    assert(ClickHouseDdl.quote("my col") == "`my col`")
    assert(ClickHouseDdl.quote("9lives") == "`9lives`")
    assert(ClickHouseDdl.quote("a`b") == "`a\\`b`")
    assert(ClickHouseDdl.quote("a\\b") == "`a\\\\b`")
    assert(ClickHouseDdl.quote("é") == "`é`")
    val schema = StructType(Seq(StructField("my col", LongType), StructField("v", StringType)))
    assert(ClickHouseDdl.createTable("my db", "t-1", SchemaMapper.mapSchema(schema),
      Some("`my col`")) == "CREATE TABLE IF NOT EXISTS `my db`.`t-1` " +
      "(`my col` Int64, v String) ENGINE = ReplacingMergeTree ORDER BY `my col`")
    assert(ClickHouseDdl.insertInto("db", "t", schema) ==
      "INSERT INTO db.t (`my col`, v) VALUES")
    assert(ClickHouseDdl.optimizeTable("db", "t 1") == "OPTIMIZE TABLE db.`t 1`")
  }
}

class PrimaryKeyInferenceSpec extends SparkFunSuite {
  import graft.sources.PrimaryKeyInference

  test("single-column keys inferred and data-confirmed across the catalog") {
    for ((t, want) <- Seq("events" -> "event_id", "orders" -> "o_orderkey",
        "customer" -> "c_custkey", "documents" -> "doc_id",
        "embeddings" -> "vec_id", "nation" -> "n_nationkey",
        "region" -> "r_regionkey", "supplier" -> "s_suppkey",
        "part" -> "p_partkey")) {
      assert(PrimaryKeyInference.infer(Tables(spark, sf, t), t)
        .contains(Seq(want)), t)
    }
  }

  test("no unique candidate prefix -> None (synthetic lineitem even dups its TPC-H pk)") {
    assert(PrimaryKeyInference.infer(Tables.lineitem(spark, sf), "lineitem",
      maxCols = 3).isEmpty)
  }

  test("composite key found by greedy extension") {
    import spark.implicits._
    // single best candidate (ends in 'key') is not unique; extending
    // with the rank-3 'number' column is
    val df = Seq((1L, 1L), (1L, 2L), (2L, 1L)).toDF("o_orderkey", "l_linenumber")
    assert(PrimaryKeyInference.infer(df, "lineitem")
      .contains(Seq("o_orderkey", "l_linenumber")))
  }

  test("nothing key-ish named -> None without scanning") {
    import spark.implicits._
    val df = Seq(("a", "b")).toDF("name", "label")
    assert(PrimaryKeyInference.infer(df, "t").isEmpty)
  }

  test("unconfirmed mode trusts the top-ranked name") {
    import spark.implicits._
    val df = Seq((1L, 1L), (1L, 2L)).toDF("t_id", "n")
    assert(PrimaryKeyInference.infer(df, "t", confirm = false)
      .contains(Seq("t_id")))
  }

  test("migrateTable threads the inferred key into the DDL") {
    val out = java.nio.file.Files.createTempDirectory("graft-pk").toString
    try {
      val rep = graft.operators.MigrationJob.migrateTable(
        Tables.orders(spark, sf), "db", "orders", out)
      assert(rep.ddl.contains("ORDER BY o_orderkey"), rep.ddl)
      // pk-less table falls back to tuple() exactly like the reference
      val repLi = graft.operators.MigrationJob.migrateTable(
        Tables.lineitem(spark, sf), "db", "lineitem", out)
      assert(repLi.ddl.endsWith("ORDER BY tuple()"), repLi.ddl)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
    }
  }
}

class MigrationJobSpec extends SparkFunSuite {
  test("migrateAll conforms, chunks, and counts every table") {
    val out = java.nio.file.Files.createTempDirectory("graft-mig").toString
    val reports = graft.operators.MigrationJob
      .migrateAll(spark, sf, "db", out, chunkSize = 100L)
    assert(reports.map(_.table).sorted == Tables.all.sorted)
    val li = reports.find(_.table == "lineitem").get
    assert(li.rows == Tables.lineitem(spark, sf).count())
    assert(li.ddl.contains("ENGINE = ReplacingMergeTree"))
    // chunk bound respected: no output file has more than chunkSize rows
    val files = new java.io.File(s"$out/lineitem").listFiles()
      .filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty)
    val back = spark.read.parquet(s"$out/lineitem")
    assert(back.count() == li.rows)
    files.foreach { f =>
      assert(spark.read.parquet(f.getAbsolutePath).count() <= 100L)
    }
  }

  import graft.operators.MigrationJob
  import graft.sources.SqliteFile
  import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

  private val fixture = "src/test/resources/sqlite/fixture.db"

  private def withTempDir[T](prefix: String)(body: String => T): T = {
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    try body(dir)
    finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
  }

  private def poolThreadsAlive(): Seq[String] = {
    import scala.jdk.CollectionConverters._
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.isAlive && t.getName.startsWith("graft-migrate-"))
      .map(_.getName)
  }

  test("concurrent tables: reports in catalog order, rows equal to the source counts") {
    withTempDir("graft-mig-order") { out =>
      val tables = SqliteFile.listTables(fixture)
      assert(tables.size == 6)
      val reports = MigrationJob.migrateSqliteFile(spark, fixture, "db", out)
      assert(reports.map(_.table) == tables.map(_.name.toLowerCase))
      tables.zip(reports).foreach { case (t, r) =>
        assert(r.rows == SqliteFile.read(spark, fixture, t).count(), t.name)
        assert(spark.read.parquet(s"$out/${r.table}").count() == r.rows, t.name)
      }
      assert(poolThreadsAlive().isEmpty)
    }
  }

  test("largest table listed last: reports in catalog order, rows and " +
      "modes as stock Hadoop stages them") {
    val lpt = "src/test/resources/sqlite/lpt_fixture.db"
    withTempDir("graft-mig-lpt") { root =>
      val tables = SqliteFile.listTables(lpt)
      val h = SqliteFile.header(lpt)
      val leaves = tables.map(t => SqliteFile.leafPages(lpt, h, t.rootPage))
      assert(leaves.last > leaves.init.max, leaves)
      val reports = MigrationJob.migrateSqliteFile(spark, lpt, "db", s"$root/graft")
      assert(reports.map(_.table) == Seq("one_a", "one_b", "one_c", "big"))
      assert(reports.map(_.rows) == Seq(3L, 3L, 3L, 4000L))
      tables.zip(reports).foreach { case (t, r) =>
        val staged = spark.read.parquet(s"$root/graft/${r.table}")
        assert(staged.count() == r.rows, t.name)
        // the same rows written by a stock writer: same names and modes
        staged.write.parquet(s"$root/stock/${r.table}")
      }
      assert(reports.last.ddl.endsWith("ORDER BY id"), reports.last.ddl)
      val big = spark.read.parquet(s"$root/graft/big")
        .selectExpr("sum(id)", "count(d)", "min(d)").head
      // tools/make_lpt_fixture.py: sum(id) over 1..4000, every date parsed
      assert(big.getLong(0) == 8002000L && big.getLong(1) == 4000L &&
        big.getDate(2).toString == "2024-01-01", big)
      assert(LocalFsSpec.modes(s"$root/graft") == LocalFsSpec.modes(s"$root/stock"))
      assert(poolThreadsAlive().isEmpty)
    }
  }

  private def partFiles(dir: String): Int =
    new java.io.File(dir).listFiles().count(_.getName.startsWith("part-"))

  test("leafPages counts each b-tree's leaf pages as sqlite's dbstat does") {
    val h = SqliteFile.header(fixture)
    val roots = SqliteFile.listTables(fixture).map(t => t.name -> t.rootPage) ++
      graft.sources.SqliteIndex.listIndexes(fixture).map(i => i.name -> i.rootPage)
    val leaves = roots.map { case (name, root) =>
      name -> SqliteFile.leafPages(fixture, h, root)
    }.toMap
    // SELECT name, count(*) FROM dbstat WHERE pagetype = 'leaf' GROUP BY name
    // (big_val is the index on big.val)
    assert(leaves("big") == 556 && leaves("big_val") == 15 && leaves("wr") == 170,
      leaves)
    assert(leaves("typed") == 1)
  }

  test("migrateSqliteFile sizes reads by bytes: a small catalog stages " +
      "each table as one file") {
    withTempDir("graft-mig-split") { out =>
      val reports = MigrationJob.migrateSqliteFile(spark, fixture, "db", out)
      SqliteFile.listTables(fixture).zip(reports).foreach { case (t, r) =>
        assert(partFiles(s"$out/${r.table}") == 1, t.name)
        assert(r.rows == SqliteFile.read(spark, fixture, t).count(), t.name)
        assert(spark.read.parquet(s"$out/${r.table}").count() == r.rows, t.name)
      }
    }
  }

  test("migrateSqliteFile still splits a table larger than the split size") {
    val keys = Seq("spark.sql.files.maxPartitionBytes",
      "spark.sql.files.openCostInBytes")
    val before = keys.map(k => k -> spark.conf.getOption(k))
    withTempDir("graft-mig-split-big") { out =>
      try {
        spark.conf.set(keys(0), "256k")
        spark.conf.set(keys(1), "64k")
        val reports = MigrationJob.migrateSqliteFile(spark, fixture, "db", out)
        assert(partFiles(s"$out/big") > 1)
        assert(reports.find(_.table == "big").get.rows == 6000L)
        val staged = spark.read.parquet(s"$out/big")
        val source = MigrationJob.conform(SqliteFile.read(spark, fixture, "big"))
        assert(staged.count() == 6000L)
        assert(staged.exceptAll(source).isEmpty && source.exceptAll(staged).isEmpty)
      } finally before.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }

  test("a failing table: the caller gets its exception, and no pool thread is left") {
    withTempDir("graft-mig-fail") { dir =>
      val src = s"$dir/src"
      Seq("region", "nation", "supplier").foreach { t =>
        Tables(spark, sf, t).write.parquet(s"$src/$t.parquet")
      }
      // a table whose read throws: its only file is not parquet
      new java.io.File(s"$src/broken.parquet").mkdirs()
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"$src/broken.parquet/part-0.parquet"),
        "not a parquet file".getBytes("UTF-8"))
      val alone = intercept[Exception](spark.read.parquet(s"$src/broken.parquet"))
      val thrown = intercept[Exception](
        MigrationJob.migrateAll(spark, src, "db", s"$dir/out"))
      assert(!thrown.isInstanceOf[java.util.concurrent.ExecutionException])
      assert(thrown.getClass == alone.getClass, thrown)
      assert(poolThreadsAlive().isEmpty)
    }
  }

  test("the first failure cancels the other tables' jobs and is rethrown as is") {
    val boom = new IllegalStateException("boom")
    val started = new java.util.concurrent.CountDownLatch(1)
    val t0 = System.nanoTime()
    val thrown = intercept[IllegalStateException] {
      MigrationJob.concurrently(spark, Seq("slow", "failing")) {
        case "slow" =>
          started.countDown()
          // 40 half-second tasks: about 5 s on 4 cores unless cancelled
          spark.sparkContext.parallelize(1 to 40, 40)
            .foreach(_ => Thread.sleep(500))
        case _ =>
          started.await()
          Thread.sleep(300)
          throw boom
      }
    }
    val seconds = (System.nanoTime() - t0) / 1e9
    assert(thrown eq boom)
    assert(seconds < 4.0, s"the slow table's job was not cancelled ($seconds s)")
    assert(poolThreadsAlive().isEmpty)
  }

  test("concurrently: no items give no results; one item runs on a pool " +
      "thread that sees the caller's local properties") {
    assert(MigrationJob.concurrently(spark, Seq.empty[Int])(identity).isEmpty)
    val sc = spark.sparkContext
    sc.setLocalProperty("graft.test.caller", "set")
    try {
      val Seq((thread, seen)) = MigrationJob.concurrently(spark, Seq(1)) { _ =>
        (Thread.currentThread.getName, sc.getLocalProperty("graft.test.caller"))
      }
      assert(thread.startsWith("graft-migrate-"))
      assert(seen == "set")
    } finally sc.setLocalProperty("graft.test.caller", null)
    assert(poolThreadsAlive().isEmpty)
  }

  test("migrateTable reads a declared-pk table's source once") {
    val sc = spark.sparkContext
    val tag = s"migrate-table-jobs-${java.util.UUID.randomUUID()}"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val marker = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        val tags = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.job.tags"))).getOrElse("")
        if (tags.contains(s"$tag-marker")) marker.countDown()
        else if (tags.split(",").contains(tag)) jobs.incrementAndGet()
      }
    }
    withTempDir("graft-mig-jobs") { out =>
      sc.addSparkListener(listener)
      try {
        sc.addJobTag(tag)
        val rep = try MigrationJob.migrateTable(
          SqliteFile.read(spark, fixture, "big"), "db", "big", out,
          primaryKey = Some("id"))
        finally sc.removeJobTag(tag)
        assert(rep.rows == 6000L)
        // listener events arrive in order: once the marker job is seen,
        // every job of the migration has been counted
        sc.addJobTag(s"$tag-marker")
        try spark.range(1).collect()
        finally sc.removeJobTag(s"$tag-marker")
        assert(marker.await(30, java.util.concurrent.TimeUnit.SECONDS))
      } finally sc.removeSparkListener(listener)
    }
    // the parquet write is the only job: no count() re-scan after it
    assert(jobs.get == 1, s"${jobs.get} jobs")
  }
}

class EtlQueriesSpec extends SparkFunSuite {
  test("every A-group query runs and returns rows") {
    EtlQueries.queries.foreach { case (name, fn) =>
      val n = fn(spark, sf).count()
      assert(n > 0, s"$name returned no rows")
    }
  }

  test("replacing_merge has unique keys") {
    val df = EtlQueries.queries("replacing_merge")(spark, sf)
    assert(df.count() ==
      df.select("user_id", "event_type").distinct().count())
  }
}
