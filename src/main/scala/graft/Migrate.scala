package graft

import org.apache.spark.sql.SparkSession

import graft.operators.MigrationJob
import graft.sinks.ClickHouseSink

/** CLI entrypoint — behavioral parity with the reference's argparse
  * surface (main.py:184-204), mapped onto the distributed migration:
  *
  * {{{
  * graft.Migrate \
  *   --sqlite /path/db.sqlite | --jdbc-url jdbc:duckdb:/path/db \
  *   --clickhouse-host HOST [--clickhouse-port 9000] \
  *   [--clickhouse-user U] [--clickhouse-password P] \
  *   --clickhouse-database DB \
  *   [--chunk-size 10000] [--num-partitions 8] \
  *   [--out /staging/dir] [--dry-run]
  * }}}
  *
  * `--sqlite PATH` is sugar for `--jdbc-url jdbc:sqlite:PATH` (the
  * reference's only source; needs org.sqlite.JDBC on the classpath —
  * any JDBC database works through `--jdbc-url`, proven live on Derby
  * and DuckDB in specs). [[stage]] conforms each table and stages it
  * as parquet under `--out`, one report per table. Each report's
  * [[graft.sinks.ClickHouseSink.LoadPlan]] is then either executed
  * against ClickHouse over JDBC (create → chunked insert → optimize,
  * the reference's sequence) or, with `--dry-run` or when no
  * `--clickhouse-host` is given, printed: the dry run prints the very
  * statements the live load executes, and reads nothing back.
  *
  * `--chunk-size N` (1 to `Int.MaxValue`) bounds both the staged files
  * and the load's INSERT batches to N rows.
  *
  * `--num-partitions N` (positive) reads each table in at most N
  * partitions. A JDBC table takes N key ranges; a SQLite file's table
  * takes as many as its bytes need under Spark's file split rule
  * (`MigrationJob.migrateSqliteFile`), at most N.
  */
object Migrate {

  final case class Config(jdbcUrl: String = "",
                          sqlitePath: String = "",
                          chHost: String = "", chPort: Int = 9000,
                          chUser: String = "", chPassword: String = "",
                          chDatabase: String = "default",
                          chunkSize: Long = 10000L,
                          numPartitions: Int = 8,
                          out: String = "",
                          dryRun: Boolean = false)

  private[graft] def parse(args: Array[String]): Config = {
    def loop(rest: List[String], c: Config): Config = rest match {
      // round 12: --sqlite reads the FILE FORMAT directly (SqliteFile)
      // — no JDBC driver needed at all; jdbc:sqlite: urls still work
      // through --jdbc-url when a driver is on the classpath
      case "--sqlite" :: v :: t => loop(t, c.copy(sqlitePath = v))
      case "--jdbc-url" :: v :: t => loop(t, c.copy(jdbcUrl = v))
      case "--clickhouse-host" :: v :: t => loop(t, c.copy(chHost = v))
      case "--clickhouse-port" :: v :: t => loop(t, c.copy(chPort = v.toInt))
      case "--clickhouse-user" :: v :: t => loop(t, c.copy(chUser = v))
      case "--clickhouse-password" :: v :: t => loop(t, c.copy(chPassword = v))
      case "--clickhouse-database" :: v :: t => loop(t, c.copy(chDatabase = v))
      case "--chunk-size" :: v :: t => loop(t, c.copy(chunkSize = v.toLong))
      case "--num-partitions" :: v :: t => loop(t, c.copy(numPartitions = v.toInt))
      case "--out" :: v :: t => loop(t, c.copy(out = v))
      case "--dry-run" :: t => loop(t, c.copy(dryRun = true))
      case Nil => c
      case other :: _ =>
        throw new IllegalArgumentException(s"unknown argument: $other")
    }
    val c = loop(args.toList, Config())
    require(c.jdbcUrl.nonEmpty || c.sqlitePath.nonEmpty,
      "one of --sqlite or --jdbc-url is required")
    require(c.numPartitions > 0,
      s"--num-partitions must be positive, got ${c.numPartitions}")
    require(c.chunkSize >= 1 && c.chunkSize <= Int.MaxValue,
      s"--chunk-size must be between 1 and ${Int.MaxValue}, got ${c.chunkSize}")
    c
  }

  /** Conform and stage every table of the source under `cfg.out`; the
    * reports come back in catalog order.
    */
  def stage(spark: SparkSession, cfg: Config): Seq[MigrationJob.TableReport] =
    if (cfg.sqlitePath.nonEmpty)
      MigrationJob.migrateSqliteFile(spark, cfg.sqlitePath,
        cfg.chDatabase, cfg.out, cfg.chunkSize, cfg.numPartitions)
    else MigrationJob.migrateJdbc(
      spark, cfg.jdbcUrl, cfg.chDatabase, cfg.out, cfg.chunkSize,
      cfg.numPartitions)

  def main(args: Array[String]): Unit = {
    val parsed = parse(args)
    val cfg =
      if (parsed.out.nonEmpty) parsed
      else parsed.copy(out = java.nio.file.Files.createTempDirectory("graft_migrate").toString)
    val hadSession = SparkSession.getDefaultSession.isDefined
    val spark = SparkSession.builder()
      .appName("graft-migrate")
      .master(sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()

    val reports = stage(spark, cfg)
    val dry = cfg.dryRun || cfg.chHost.isEmpty
    reports.foreach { r =>
      val staged = s"${cfg.out}/${r.table}"
      println(s"-- table ${r.table}: ${r.rows} rows staged at $staged")
      val plan = ClickHouseSink.plan(r, cfg.chHost, cfg.chPort, cfg.chunkSize)
      if (dry) Seq(plan.ddl, plan.insert, plan.optimize).foreach(println)
      else ClickHouseSink.load(spark, plan, staged, cfg.chUser, cfg.chPassword)
    }
    println(s"-- migrated ${reports.size} tables, ${reports.map(_.rows).sum} rows total")
    if (!hadSession) spark.stop()
  }
}
