package graft.operators

import java.util.concurrent.{Callable, ExecutionException, ExecutorCompletionService, Executors, TimeUnit}

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.sql.types.StructType
import graft.sources.{CatalogDiscovery, ChType, PrimaryKeyInference, SchemaMapper}
import graft.functions.Coercions
import graft.sinks.{ClickHouseDdl, LocalFs}

/** Whole-catalog migration pipeline — the reference's main loop
  * (main.py:138-182) re-expressed as one declarative Spark job per
  * table:
  *
  *   discover tables -> map schema -> coerce columns -> chunked write
  *
  * Chunking (main.py:106-116, chunk_size=10000 default) maps to
  * `maxRecordsPerFile` on the write: output files are bounded-size
  * batches, produced in parallel by every executor, instead of a single
  * driver-side cursor loop. A SQLite table is read in as many tasks as
  * its bytes need under Spark's file split rule over the whole catalog
  * (see [[migrateSqliteFile]]), up to the caller's `maxPartitions`, so
  * a small table is one task and one staged file, not one per b-tree
  * subtree. DDL for the target engine comes from
  * ClickHouseDdl; the data lands as parquet already conforming to the
  * mapped schema.
  *
  * Three catalog loops ([[migrateAll]] over parquet files,
  * [[migrateSqliteFile]] over a SQLite file, [[migrateJdbc]] over a
  * JDBC catalog) feed one table write, [[migrateTable]]'s staged
  * parquet write. Loading the staged tables into a target is
  * `graft.sinks.ClickHouseSink.load`'s job, not this object's.
  *
  * Each table's source is read once: the row count in its report is
  * observed on the write itself, not counted by a second scan. The
  * catalog loops run their tables concurrently (see [[concurrently]]),
  * submitted in catalog order, except that [[migrateSqliteFile]]
  * submits a file's tables largest first; every loop returns its
  * reports in catalog order. Parquet staging writes `file:` paths
  * through [[graft.sinks.LocalFs]], which sets each staged file's and
  * directory's mode without forking `chmod`.
  */
object MigrationJob {

  /** One migrated table: what was staged and how it loads.
    *
    * `schema` is the staged (conformed) schema, which the load reads the
    * staged files with; `columns` are the target types the DDL declares.
    * They differ where the conform widens: an Int32 column stages as a
    * Long, a Float32 one as a Double. `orderBy` is the rendered ORDER BY
    * expression, `None` for `tuple()`.
    */
  final case class TableReport(table: String, rows: Long, database: String,
                               schema: StructType,
                               columns: Seq[(String, ChType)],
                               orderBy: Option[String]) {
    /** CREATE TABLE … ENGINE = ReplacingMergeTree ORDER BY … */
    def ddl: String = ClickHouseDdl.createTable(database, table, columns, orderBy)
  }

  /** Coerce every column of `df` to its mapped target type with
    * null-as-default semantics (main.py:81-104).
    */
  def conform(df: DataFrame): DataFrame =
    conform(df, SchemaMapper.mapSchema(df.schema))

  private def conform(df: DataFrame, types: Seq[(String, ChType)]): DataFrame =
    df.select(Coercions.coerceRow(types): _*)

  /** Migrate one table: conform + bounded-batch parquet write
    * (main.py:157-179), and report the rows the write saw (a `count(1)`
    * observation: no second scan of the source) with the conformed
    * schema and the target types of the same mapping.
    *
    * ORDER BY resolution (main.py:124): an explicit `primaryKey` wins
    * (the declared-pk path — PRAGMA via JDBC); otherwise
    * [[graft.sources.PrimaryKeyInference]] derives a data-confirmed key
    * from the schema naming convention; otherwise the DDL falls back to
    * `tuple()` like the reference with a pk-less table. Composite keys
    * render as `(a, b)`.
    *
    * `declaredTypes` overrides the target type mapped from a column's
    * Spark type, for sources that declare more than their Spark schema
    * carries (SQLite DATE/DATETIME columns read as text). The conform
    * and the DDL use the same mapping.
    */
  def migrateTable(df: DataFrame, database: String, table: String,
                   outDir: String, chunkSize: Long = 10000L,
                   primaryKey: Option[String] = None,
                   declaredTypes: Map[String, ChType] = Map.empty): TableReport = {
    val types = SchemaMapper.mapSchema(df.schema).map { case (n, t) =>
      n -> declaredTypes.getOrElse(n, t)
    }
    val conformed = conform(df, types)
    val observed = Observation()
    LocalFs.writer(conformed.observe(observed, count(lit(1)).as("rows"))
      .write.mode("overwrite"))
      .option("maxRecordsPerFile", chunkSize)
      .parquet(s"$outDir/$table")
    val rows = observed.get("rows").asInstanceOf[Long]
    val orderBy = primaryKey.orElse(
      PrimaryKeyInference.infer(df, table, rows = Some(rows)).flatMap(orderByOf))
    TableReport(table, rows, database, conformed.schema, types, orderBy)
  }

  private def orderByOf(pk: Seq[String]): Option[String] = pk.map(ClickHouseDdl.quote) match {
    case Seq()    => None
    case Seq(one) => Some(one)
    case many     => Some(many.mkString("(", ", ", ")"))
  }

  /** Run `f` on every item, at most min(items, `defaultParallelism`) at
    * once, and return the results in item order.
    *
    * The pool is built for this call, so its threads start with a copy
    * of the caller's Spark local properties (job group, job tags, any
    * tracing properties). Every job they submit also carries a tag of
    * this call's own: on the first failure the other items' jobs are
    * cancelled through it, items not yet started are dropped, and the
    * original exception is rethrown once every pool thread has ended.
    * An item cancelled partway through is left as far as it got: when
    * `f` overwrites an output, that output may be cleared or partly
    * written, while items not yet started keep their previous output.
    */
  private[graft] def concurrently[T, R](spark: SparkSession, items: Seq[T])(
      f: T => R): Seq[R] = {
    val sc = spark.sparkContext
    val width = math.max(1, math.min(items.size, sc.defaultParallelism))
    val tag = s"graft-migrate-${java.util.UUID.randomUUID()}"
    val pool = Executors.newFixedThreadPool(width, { (r: Runnable) =>
      val t = new Thread(r, tag)
      t.setDaemon(true)
      t
    })
    val done = new ExecutorCompletionService[R](pool)
    val futures = items.map { item =>
      val task: Callable[R] = () => { sc.addJobTag(tag); f(item) }
      done.submit(task)
    }
    try {
      items.foreach(_ => done.take().get())
      futures.map(_.get())
    } catch {
      case failure: Throwable =>
        // cancel until every pool thread has ended: a job submitted after
        // one cancel is caught by the next, or by the last one below
        sc.cancelJobsWithTag(tag)
        pool.shutdownNow()
        while (!pool.awaitTermination(100, TimeUnit.MILLISECONDS))
          sc.cancelJobsWithTag(tag)
        sc.cancelJobsWithTag(tag)
        throw (failure match {
          case e: ExecutionException if e.getCause != null => e.getCause
          case other => other
        })
    } finally pool.shutdown()
  }

  /** Full catalog migration (main.py:157: for table in tables). Tables
    * are independent, so they run concurrently ([[concurrently]]);
    * rows stream through executors, the driver only sees per-table
    * counts. Each table's output is overwritten: if one table fails,
    * the tables writing at the same time are cancelled and their
    * output directories may be left empty or partly written.
    */
  def migrateAll(spark: SparkSession, srcDir: String, database: String,
                 outDir: String, chunkSize: Long = 10000L): Seq[TableReport] =
    concurrently(spark, CatalogDiscovery.listTables(spark, srcDir)) { t =>
      val df = spark.read.parquet(s"$srcDir/$t.parquet")
      migrateTable(df, database, t, outDir, chunkSize)
    }

  /** The reference's loop over a REAL SQLite FILE with no JDBC driver
    * at all (round 12): [[graft.sources.SqliteFile]] reads the
    * database bytes directly (main.py:140-145 without the sqlite3
    * module), the declared pk comes from the parsed CREATE TABLE (the
    * PRAGMA-table_info equivalent, main.py:124), each table reads
    * partitioned by b-tree subtree, and everything flows through the
    * same conform → chunked write → DDL path as every other source.
    * Declared DATE/DATETIME columns are parsed to Date/DateTime
    * (main.py:18-37) and declared as such in the DDL. A failure leaves
    * the other tables' outputs as [[migrateAll]] describes.
    *
    * Each table's read is sized by its bytes (leaf pages × page size,
    * [[graft.sources.SqliteFile.leafPages]]) with Spark's file-source
    * split rule taken over the whole catalog:
    * `split = min(maxPartitionBytes, max(openCostInBytes, catalogBytes
    * / defaultParallelism))` from `spark.sql.files.*`, and a table
    * reads in `ceil(tableBytes / split)` partitions, at least 1 and at
    * most `maxPartitions`. With the tables running concurrently, the
    * catalog makes about one task per core, while a large table still
    * splits up to `maxPartitionBytes` a task.
    *
    * Tables are submitted largest first (by the same bytes, ties in
    * catalog order), so the longest reads start at once instead of
    * queueing behind small ones; the reports still come back in
    * catalog order.
    */
  def migrateSqliteFile(spark: SparkSession, dbPath: String,
                        database: String, outDir: String,
                        chunkSize: Long = 10000L,
                        maxPartitions: Int = 32): Seq[TableReport] = {
    import graft.sources.SqliteFile
    val h = SqliteFile.header(dbPath)
    val tables = SqliteFile.listTables(dbPath)
    val bytes = tables.map(t =>
      SqliteFile.leafPages(dbPath, h, t.rootPage).toLong * h.pageSize)
    val conf = spark.sessionState.conf
    val split = math.max(1L, math.min(conf.filesMaxPartitionBytes,
      math.max(conf.filesOpenCostInBytes,
        bytes.sum / spark.sparkContext.defaultParallelism)))
    val largestFirst = tables.zip(bytes).zipWithIndex.sortBy(-_._1._2)
    concurrently(spark, largestFirst) { case ((t, b), i) =>
      val parts = math.min(maxPartitions, math.max(1L, (b + split - 1) / split))
      val df = SqliteFile.read(spark, dbPath, t, parts.toInt)
      i -> migrateTable(df, database, t.name.toLowerCase, outDir, chunkSize,
        orderByOf(t.primaryKey), declaredTypes = SqliteFile.temporalTypes(t))
    }.sortBy(_._1).map(_._2)
  }

  /** The reference's ACTUAL loop, end-to-end over a live JDBC source
    * (main.py:138-182): discover tables, read each partitioned on its
    * declared key, conform, chunk-write, emit pk-driven DDL. The
    * declared pk (DatabaseMetaData) takes precedence; tables without
    * one fall through to [[graft.sources.PrimaryKeyInference]]'s
    * heuristic inside migrateTable. Proven in-sandbox against embedded
    * Derby (JdbcMigrationSpec); identical calls serve SQLite once its
    * driver is on the classpath. A failure leaves the other tables'
    * outputs as [[migrateAll]] describes.
    */
  def migrateJdbc(spark: SparkSession, url: String, database: String,
                  outDir: String, chunkSize: Long = 10000L,
                  numPartitions: Int = 8): Seq[TableReport] = {
    import graft.sources.JdbcCatalog
    concurrently(spark, JdbcCatalog.listTables(url)) { t =>
      val df = JdbcCatalog.readTable(spark, url, t,
        JdbcCatalog.partitionKey(spark, url, t), numPartitions)
      migrateTable(df, database, t.toLowerCase, outDir, chunkSize,
        orderByOf(JdbcCatalog.primaryKey(url, t)))
    }
  }
}
