package graft.sinks

import org.apache.spark.sql.types.StructType
import graft.sources.ChType

/** DDL generation for the ClickHouse side (reference main.py:56-73).
  * Pure string construction from target column types — no connection
  * needed, so it is unit-testable and usable from any writer (JDBC,
  * file drop).
  *
  * Identifiers that are not plain `[A-Za-z_][A-Za-z0-9_]*` are
  * backquoted, with `` ` `` and `\` escaped by a backslash; plain ones
  * render as they are.
  */
object ClickHouseDdl {

  private val Plain = "[A-Za-z_][A-Za-z0-9_]*".r

  /** `name` as a ClickHouse identifier. */
  def quote(name: String): String = name match {
    case Plain() => name
    case _ => "`" + name.replace("\\", "\\\\").replace("`", "\\`") + "`"
  }

  /** `database.table`, each part quoted. */
  def qualified(database: String, table: String): String =
    s"${quote(database)}.${quote(table)}"

  /** CREATE TABLE IF NOT EXISTS db.t (...) ENGINE = ReplacingMergeTree
    * ORDER BY pk|tuple()  — main.py:65-71 verbatim semantics, including
    * the `tuple()` fallback when no primary key is known. `primaryKey`
    * is a rendered ORDER BY expression, its names already quoted.
    */
  def createTable(database: String, table: String,
                  columns: Seq[(String, ChType)],
                  primaryKey: Option[String]): String = {
    val cols = columns.map { case (n, t) => s"${quote(n)} ${t.sql}" }.mkString(", ")
    val orderBy = primaryKey.filter(_.nonEmpty).getOrElse("tuple()")
    s"CREATE TABLE IF NOT EXISTS ${qualified(database, table)} ($cols) " +
      s"ENGINE = ReplacingMergeTree ORDER BY $orderBy"
  }

  /** INSERT preamble (main.py:169). */
  def insertInto(database: String, table: String, schema: StructType): String =
    s"INSERT INTO ${qualified(database, table)} " +
      s"(${schema.fieldNames.map(quote).mkString(", ")}) VALUES"

  /** OPTIMIZE statement (main.py:178). */
  def optimizeTable(database: String, table: String): String =
    s"OPTIMIZE TABLE ${qualified(database, table)}"
}
