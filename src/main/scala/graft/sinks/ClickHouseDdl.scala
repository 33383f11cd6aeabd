package graft.sinks

import org.apache.spark.sql.types.StructType
import graft.sources.{ChType, SchemaMapper}

/** DDL generation for the ClickHouse side (reference main.py:56-73).
  * Pure string construction from a Spark schema — no connection needed,
  * so it is unit-testable and usable from any writer (JDBC, file drop).
  */
object ClickHouseDdl {

  /** CREATE TABLE IF NOT EXISTS db.t (...) ENGINE = ReplacingMergeTree
    * ORDER BY pk|tuple()  — main.py:65-71 verbatim semantics, including
    * the `tuple()` fallback when no primary key is known.
    */
  def createTable(database: String, table: String, schema: StructType,
                  primaryKey: Option[String] = None): String =
    createTable(database, table, SchemaMapper.mapSchema(schema), primaryKey)

  /** The same statement from an explicit (column, target type) list. */
  def createTable(database: String, table: String,
                  columns: Seq[(String, ChType)],
                  primaryKey: Option[String]): String = {
    val cols = columns.map { case (n, t) => s"$n ${t.sql}" }.mkString(", ")
    val orderBy = primaryKey.filter(_.nonEmpty).getOrElse("tuple()")
    s"CREATE TABLE IF NOT EXISTS $database.$table ($cols) " +
      s"ENGINE = ReplacingMergeTree ORDER BY $orderBy"
  }

  /** INSERT preamble (main.py:169). */
  def insertInto(database: String, table: String, schema: StructType): String =
    s"INSERT INTO $database.$table (${schema.fieldNames.mkString(", ")}) VALUES"

  /** OPTIMIZE statement (main.py:178). */
  def optimizeTable(database: String, table: String): String =
    s"OPTIMIZE TABLE $database.$table"
}
