package graft.sinks

import java.sql.DriverManager

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.operators.MigrationJob.TableReport
import graft.sources.SchemaMapper

/** The load side of the migration (reference main.py:147-179): one
  * JDBC connection, CREATE TABLE, chunked INSERT, OPTIMIZE.
  *
  * A [[LoadPlan]] holds every statement of one table's load; `graft.Migrate`
  * prints it on a dry run and [[load]] executes it. The INSERT runs
  * through Spark's JDBC writer as a parameterised
  * `INSERT INTO db.t ("c", …) VALUES (?, …)`, batched by `batchSize`
  * rows; the printed `insert` is its preamble. `load` is the only code
  * that writes migrated rows to a JDBC target. It is tested offline
  * against a recording JDBC driver (the statements) and embedded Derby
  * (the values read back); against a cluster, the ClickHouse JDBC
  * driver on the classpath serves the `jdbc:clickhouse:` URL.
  */
object ClickHouseSink {

  /** `table` is the qualified target name the rows are appended to, and
    * `schema` the schema the staged files are read with.
    */
  final case class LoadPlan(ddl: String, insert: String, optimize: String,
                            url: String, batchSize: Long,
                            table: String, schema: StructType)

  def url(host: String, port: Int, database: String): String =
    s"jdbc:clickhouse://$host:$port/$database"

  /** The load of one migrated table: its report's DDL, an INSERT of its
    * staged schema and the OPTIMIZE, in batches of `chunkSize` rows.
    */
  def plan(report: TableReport, host: String, port: Int,
           chunkSize: Long): LoadPlan = LoadPlan(
    ddl = report.ddl,
    insert = ClickHouseDdl.insertInto(report.database, report.table, report.schema),
    optimize = ClickHouseDdl.optimizeTable(report.database, report.table),
    url = url(host, port, report.database),
    batchSize = chunkSize,
    table = ClickHouseDdl.qualified(report.database, report.table),
    schema = report.schema)

  /** The plan for `df` as it is, with `primaryKey` as its ORDER BY. */
  def plan(df: DataFrame, host: String, port: Int, database: String,
           table: String, primaryKey: Option[String] = None,
           chunkSize: Long = 10000L): LoadPlan =
    plan(TableReport(table, 0L, database, df.schema,
      SchemaMapper.mapSchema(df.schema), primaryKey), host, port, chunkSize)

  /** Execute `plan` against its URL, with the driver `DriverManager`
    * picks for it: the CREATE, then the parquet files under `staged`,
    * read with the plan's schema, appended over Spark JDBC (`batchsize`
    * is the reference's chunk_size: every task flushes bounded INSERT
    * batches), then the OPTIMIZE.
    */
  def load(spark: SparkSession, plan: LoadPlan, staged: String,
           user: String, password: String): Unit = {
    val props = new java.util.Properties()
    if (user.nonEmpty) props.setProperty("user", user)
    if (password.nonEmpty) props.setProperty("password", password)
    val conn = DriverManager.getConnection(plan.url, props)
    try {
      def execute(sql: String): Unit = {
        val st = conn.createStatement()
        try st.execute(sql) finally st.close()
      }
      execute(plan.ddl)
      spark.read.schema(plan.schema).parquet(staged).write
        .mode("append")
        .option("batchsize", plan.batchSize)
        .option("isolationLevel", "NONE") // ClickHouse has no txns
        .jdbc(plan.url, plan.table, props)
      execute(plan.optimize)
    } finally conn.close()
  }
}
