package graft

import java.sql.DriverManager

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StringType}
import graft.operators.MigrationJob
import graft.sinks.{ClickHouseDdl, ClickHouseSink}
import graft.sources.SchemaMapper

/** The load half of the reference's loop with BOTH ends LIVE, run the
  * way `graft.Migrate` runs it: a source catalog is staged by
  * `Migrate.stage` (discover, pk-partitioned read, conform, chunked
  * parquet write), and each table's `ClickHouseSink.plan` is executed
  * by `ClickHouseSink.load` into an embedded Derby target, then read
  * back and compared row-for-row against the source. Derby stands in
  * for ClickHouse on the wire: the plan keeps its INSERT, batch size
  * and qualified table, and only its URL, its CREATE (a Derby CREATE
  * of the report's staged schema) and its OPTIMIZE (Derby's
  * SYSCS_COMPRESS_TABLE) are swapped. The ClickHouse DDL each report
  * carries, which the load runs against a cluster, is asserted
  * string-for-string against ClickHouseDdl. This is the offline twin
  * of main.py:157-179: create → chunked INSERT → optimize → verify,
  * with nothing mocked on either side.
  */
class JdbcLoadRoundTripSpec extends SparkFunSuite {

  private lazy val srcUrl: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_rt_src").toString
    val url = s"jdbc:duckdb:$dir/src.db"
    val c = DriverManager.getConnection(url)
    try {
      val st = c.createStatement()
      st.executeUpdate(
        "CREATE TABLE accounts (a_id BIGINT PRIMARY KEY, " +
          "a_grp BIGINT, a_bal DOUBLE, a_note VARCHAR)")
      st.executeUpdate(
        "CREATE TABLE ledger (l_acct BIGINT, l_seq INTEGER, " +
          "l_amt DOUBLE, PRIMARY KEY (l_acct, l_seq))")
      val insA = c.prepareStatement("INSERT INTO accounts VALUES (?,?,?,?)")
      (1 to 700).foreach { i =>
        insA.setLong(1, i.toLong); insA.setLong(2, (i % 23).toLong)
        insA.setDouble(3, (i % 401) / 4.0)
        // NULL notes exercise the null-as-default coercion on the wire
        if (i % 7 == 0) insA.setNull(4, java.sql.Types.VARCHAR)
        else insA.setString(4, s"acct-$i")
        insA.addBatch()
      }
      insA.executeBatch()
      val insL = c.prepareStatement("INSERT INTO ledger VALUES (?,?,?)")
      (1 to 300).foreach { i =>
        (1 to (i % 4) + 1).foreach { s =>
          insL.setLong(1, i.toLong); insL.setInt(2, s)
          insL.setDouble(3, s * 0.25); insL.addBatch()
        }
      }
      insL.executeBatch()
      url
    } finally c.close()
  }

  private lazy val dstUrl: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft_rt_dst").toString
    System.setProperty("derby.stream.error.file", s"$dir/derby.log")
    s"jdbc:derby:$dir/dst;create=true"
  }

  /** Stage every table of `srcUrl` under a fresh directory as
    * `graft.Migrate` does, then load each report's plan into the Derby
    * database at `dstUrl`; the reports come back in catalog order.
    */
  private def stageAndLoad(srcUrl: String, dstUrl: String,
                           chunkSize: Long = 10000L,
                           numPartitions: Int = 8): Seq[MigrationJob.TableReport] = {
    val out = java.nio.file.Files.createTempDirectory("graft_rt_stage").toString
    try {
      val cfg = Migrate.Config(jdbcUrl = srcUrl, chDatabase = "db", out = out,
        chunkSize = chunkSize, numPartitions = numPartitions)
      val reports = Migrate.stage(spark, cfg)
      reports.foreach { r =>
        val plan = ClickHouseSink.plan(r, "ch", cfg.chPort, cfg.chunkSize)
        ClickHouseSink.load(spark, plan.copy(url = dstUrl, ddl = derbyCreate(plan),
            optimize = "CALL SYSCS_UTIL.SYSCS_COMPRESS_TABLE(" +
              s"'${r.database.toUpperCase}', '${r.table.toUpperCase}', 1)"),
          s"$out/${r.table}", cfg.chUser, cfg.chPassword)
      }
      reports
    } finally org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(out))
  }

  /** A Derby CREATE of the plan's table with its staged schema. The
    * names are quoted so they keep their case: unquoted, Derby would
    * uppercase them, and raw SQL naming `"a_note"` would miss the column.
    */
  private def derbyCreate(plan: ClickHouseSink.LoadPlan): String =
    plan.schema.fields.map { f =>
      val t = f.dataType match {
        case LongType => "BIGINT"
        case IntegerType => "INT"
        case DoubleType => "DOUBLE"
        case StringType => "VARCHAR(255)"
      }
      s"\"${f.name}\" $t"
    }.mkString(s"CREATE TABLE ${plan.table} (", ", ", ")")

  test("discover -> conform -> chunked JDBC write -> read back: " +
      "row-for-row parity on both tables, CH DDL per report") {
    val reports = stageAndLoad(srcUrl, dstUrl, chunkSize = 128L,
      numPartitions = 4)
    assert(reports.map(_.table).sorted == Seq("accounts", "ledger"))
    assert(reports.find(_.table == "accounts").get.rows == 700L)
    assert(reports.find(_.table == "ledger").get.rows == 750L)

    // the DDL in each report is EXACTLY what ClickHouseDdl generates
    // for the source schema's type mapping + declared pk (the
    // cluster-side half)
    val accDdl = reports.find(_.table == "accounts").get.ddl
    assert(accDdl == ClickHouseDdl.createTable("db", "accounts",
      SchemaMapper.mapSchema(
        spark.read.jdbc(srcUrl, "accounts", new java.util.Properties()).schema),
      Some("a_id")))
    assert(accDdl.contains("ReplacingMergeTree"))
    assert(accDdl.contains("ORDER BY a_id"))
    assert(reports.find(_.table == "ledger").get.ddl ==
      ClickHouseDdl.createTable("db", "ledger",
        SchemaMapper.mapSchema(
          spark.read.jdbc(srcUrl, "ledger", new java.util.Properties()).schema),
        Some("(l_acct, l_seq)")))

    // read BACK from the live target and compare to the conformed
    // source row for row (pk-sorted) — count/content parity on the
    // wire, the reference's own verification step
    Seq(("accounts", Seq("a_id")), ("ledger", Seq("l_acct", "l_seq")))
      .foreach { case (t, pk) =>
        val src = MigrationJob.conform(
          spark.read.jdbc(srcUrl, t, new java.util.Properties()))
        val dst = spark.read.jdbc(dstUrl, s"db.$t", new java.util.Properties())
        assert(dst.count() == src.count(), s"$t count")
        val s = src.orderBy(pk.map(col): _*).collect()
        val d = dst.select(src.columns.map(col): _*)
          .orderBy(pk.map(col): _*).collect()
        s.zip(d).foreach { case (a, b) => assert(a == b, s"$t row") }
      }

    // null-as-default really happened ON THE TARGET: no NULL notes
    // survive (they landed as '' per the reference's coercion)
    val c = DriverManager.getConnection(dstUrl)
    try {
      // the target's columns are QUOTED lowercase identifiers; raw
      // Derby SQL must quote them too (unquoted would uppercase)
      val rs = c.createStatement().executeQuery(
        "SELECT count(*) FROM db.accounts WHERE \"a_note\" IS NULL")
      assert(rs.next() && rs.getLong(1) == 0L)
      val rs2 = c.createStatement().executeQuery(
        "SELECT count(*) FROM db.accounts " +
          "WHERE CAST(\"a_note\" AS VARCHAR(64)) = ''")
      assert(rs2.next() && rs2.getLong(1) == 100L) // i % 7 == 0
    } finally c.close()
  }

  test("the report DDL keeps the source's INT width; the target gets the conformed rows") {
    // DuckDB's driver surfaces INTEGER as unsigned (read as a Long), so
    // a signed INT column needs a source that reports it as such: Derby
    val dir = java.nio.file.Files.createTempDirectory("graft_rt_int").toString
    val src = s"jdbc:derby:$dir/src;create=true"
    val c = DriverManager.getConnection(src)
    try {
      val st = c.createStatement()
      st.executeUpdate("CREATE TABLE COUNTS (C_ID BIGINT NOT NULL PRIMARY KEY, C_N INT)")
      st.executeUpdate("INSERT INTO COUNTS VALUES (1, 7), (2, NULL), (3, -2)")
    } finally c.close()
    val Seq(report) = stageAndLoad(src, s"jdbc:derby:$dir/dst;create=true")
    assert(report.rows == 3L)
    assert(report.ddl == "CREATE TABLE IF NOT EXISTS db.counts " +
      "(C_ID Int64, C_N Int32) ENGINE = ReplacingMergeTree ORDER BY C_ID")
    val landed = spark.read.jdbc(s"jdbc:derby:$dir/dst", "db.counts",
        new java.util.Properties())
      .orderBy("C_ID").collect().map(r => r.getLong(1)).toSeq
    assert(landed == Seq(7L, 0L, -2L))
  }
}
