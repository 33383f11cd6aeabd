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
  * `--clickhouse-port N` must be a TCP port, 1 to 65535; a bad port is
  * refused before anything is staged.
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

  /** Each flag that takes a value, and how it sets the config. */
  private val setters: Map[String, (Config, String) => Config] = Map(
    // round 12: --sqlite reads the FILE FORMAT directly (SqliteFile)
    // — no JDBC driver needed at all; jdbc:sqlite: urls still work
    // through --jdbc-url when a driver is on the classpath
    "--sqlite" -> ((c, v) => c.copy(sqlitePath = v)),
    "--jdbc-url" -> ((c, v) => c.copy(jdbcUrl = v)),
    "--clickhouse-host" -> ((c, v) => c.copy(chHost = v)),
    "--clickhouse-port" -> ((c, v) => c.copy(chPort = v.toInt)),
    "--clickhouse-user" -> ((c, v) => c.copy(chUser = v)),
    "--clickhouse-password" -> ((c, v) => c.copy(chPassword = v)),
    "--clickhouse-database" -> ((c, v) => c.copy(chDatabase = v)),
    "--chunk-size" -> ((c, v) => c.copy(chunkSize = v.toLong)),
    "--num-partitions" -> ((c, v) => c.copy(numPartitions = v.toInt)),
    "--out" -> ((c, v) => c.copy(out = v)))

  /** The config `args` give; every refusal names the flag at fault. */
  private[graft] def parse(args: Array[String]): Config = {
    def loop(rest: List[String], c: Config): Config = rest match {
      case "--dry-run" :: t => loop(t, c.copy(dryRun = true))
      case flag :: t if setters.contains(flag) => t match {
        case v :: tail =>
          val next =
            try setters(flag)(c, v)
            catch {
              case _: NumberFormatException =>
                throw new IllegalArgumentException(s"$flag needs a number, got '$v'")
            }
          loop(tail, next)
        case Nil => throw new IllegalArgumentException(s"$flag needs a value")
      }
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
    require(c.chPort >= 1 && c.chPort <= 65535,
      s"--clickhouse-port must be between 1 and 65535, got ${c.chPort}")
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
