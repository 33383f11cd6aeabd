package graft.sources

import java.sql.DriverManager

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}

/** Engine-agnostic JDBC catalog discovery and partitioned extract —
  * the reference's SQLite extract (main.py:138-145) generalized to ANY
  * JDBC database through `java.sql.DatabaseMetaData`, so the
  * migration's extract side is provable END-TO-END in-sandbox against
  * the embedded Derby that ships on Spark's classpath, and runs
  * unchanged against SQLite (`jdbc:sqlite:file.db`) once
  * `org.sqlite.JDBC` is present — sqlite-jdbc is NOT in the offline
  * cache (checked round 7), which is exactly why the proof runs on
  * Derby.
  *
  * Driver-side JDBC here touches only METADATA and one min/max scalar
  * per table; row data always flows through Spark's partitioned JDBC
  * source, never a driver cursor.
  */
object JdbcCatalog {

  def withConnection[A](url: String)(f: java.sql.Connection => A): A = {
    val c = DriverManager.getConnection(url)
    try f(c) finally c.close()
  }

  /** User tables — the `sqlite_master` scan (main.py:144) via the
    * portable metadata call. The type filter names both spellings a
    * dialect may report ("TABLE": Derby/SQLite/Postgres; "BASE TABLE":
    * DuckDB's information_schema passthrough) — either way system
    * tables and views stay excluded.
    */
  def listTables(url: String, schemaPattern: String = null): Seq[String] =
    withConnection(url) { c =>
      val rs = c.getMetaData.getTables(null, schemaPattern, "%",
        Array("TABLE", "BASE TABLE"))
      Iterator.continually(rs).takeWhile(_.next())
        .map(_.getString("TABLE_NAME")).toList.sorted
    }

  /** DECLARED primary key in key order — the PRAGMA-pk path
    * (main.py:124) via `DatabaseMetaData.getPrimaryKeys`, the
    * strongest tier of [[PrimaryKeyInference]].
    */
  def primaryKey(url: String, table: String): Seq[String] =
    withConnection(url) { c =>
      val rs = c.getMetaData.getPrimaryKeys(null, null, table)
      Iterator.continually(rs).takeWhile(_.next())
        .map(r => r.getShort("KEY_SEQ") -> r.getString("COLUMN_NAME"))
        .toList.sortBy(_._1).map(_._2)
    }

  /** One table as a DataFrame. With a numeric `partitionColumn`, the
    * bounds come from one scalar min/max query and every executor
    * reads its own range — the distributed analog of the reference's
    * chunked cursor (main.py:106-116). Without one, a single-partition
    * read (small/dimension tables).
    */
  def readTable(spark: SparkSession, url: String, table: String,
                partitionColumn: Option[String] = None,
                numPartitions: Int = 8): DataFrame = {
    val base = spark.read.format("jdbc")
      .option("url", url).option("dbtable", table)
    partitionColumn match {
      case Some(pc) =>
        val (lo, hi) = withConnection(url) { c =>
          val rs = c.createStatement()
            .executeQuery(s"SELECT MIN($pc), MAX($pc) FROM $table")
          rs.next()
          (rs.getLong(1), rs.getLong(2))
        }
        base.option("partitionColumn", pc)
          .option("lowerBound", lo)
          .option("upperBound", math.max(hi, lo + 1))
          .option("numPartitions", numPartitions)
          .load()
      case None => base.load()
    }
  }

  /** The leading declared-pk column IF Spark reads it as an integer-
    * valued type — the partition column a range-partitioned extract
    * wants. Scale-0 decimals count: some dialects surface BIGINT with
    * precision 20 (unsigned headroom), which Spark maps to
    * DecimalType(20,0) rather than LongType (observed live on DuckDB;
    * SQLite's loose affinity produces the same shape), and Spark's
    * JDBC source range-partitions numeric columns either way.
    */
  def partitionKey(spark: SparkSession, url: String, table: String): Option[String] = {
    val pk = primaryKey(url, table)
    pk.headOption.filter { c =>
      val schema = spark.read.format("jdbc")
        .option("url", url).option("dbtable", table).load().schema
      schema.fields.find(_.name.equalsIgnoreCase(c))
        .exists(f => f.dataType match {
          case ByteType | ShortType | IntegerType | LongType => true
          case d: org.apache.spark.sql.types.DecimalType => d.scale == 0
          case _ => false
        })
    }
  }
}
