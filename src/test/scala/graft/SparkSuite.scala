package graft

import graft.sources.SqliteFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites. */
object SparkSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf = "/root/testdata/sf0.001"
}

abstract class SparkFunSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSuite.spark
  val sf: String = SparkSuite.sf

  /** Every row of a SQLite table, collected from [[SqliteFile.read]]
    * and re-wrapped as a local DataFrame of the same schema. A filter
    * on it runs in Spark and never reaches a sqlite probe, so it is the
    * full-scan reference the pushdown specs compare their probes with.
    */
  def scanReference(db: String, table: SqliteFile.TableDef): DataFrame =
    spark.createDataFrame(
      java.util.Arrays.asList(SqliteFile.read(spark, db, table).collect(): _*),
      SqliteFile.schemaOf(table))
}
