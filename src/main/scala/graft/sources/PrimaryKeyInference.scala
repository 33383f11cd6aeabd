package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** ORDER BY / primary-key inference for the target-engine DDL
  * (reference main.py:124: SQLite's `PRAGMA table_info` pk flag drives
  * `ORDER BY`; main.py:65-71 falls back to `tuple()`).
  *
  * Spark sources rarely carry a declared key, so this layers three
  * sources of truth, strongest first:
  *   1. DECLARED — caller-supplied (the JDBC path's
  *      `DatabaseMetaData.getPrimaryKeys` via [[JdbcCatalog.primaryKey]],
  *      or the SQLite file's parsed CREATE TABLE via
  *      [[SqliteFile.TableDef.primaryKey]]);
  *   2. NAME HEURISTIC — rank orderable columns by key-ish naming
  *      (`id`, `<table>_id`, `*key`, `*id`, `*number`), the
  *      documented convention of every table this engine ships
  *      (TPC-H `?_?key`, `doc_id`, `event_id`, `emb_id`);
  *   3. DATA CONFIRMATION — a candidate prefix is accepted only when
  *      it is actually unique: `count(DISTINCT struct(cands)) ==
  *      count(*)`, one aggregation per attempted prefix, at most
  *      `maxCols` attempts. Greedy extension covers composite keys
  *      ((l_orderkey, l_linenumber)-shaped) without a combinatorial
  *      search.
  *
  * At 100 TB each confirmation is a full-scan distinct — bounded to
  * `maxCols` shuffles of ONLY the candidate columns (pruned scan), and
  * run once per table migration, not per query. Callers that cannot
  * afford it pass `confirm = false` to accept the top-ranked naming
  * candidate unverified (what the reference itself does: it trusts the
  * declared pk, never checks uniqueness).
  */
object PrimaryKeyInference {

  private def orderable(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | StringType |
         DateType | TimestampType | BooleanType => true
    case _: DecimalType => true
    case _ => false
  }

  /** Rank: lower = stronger key candidate. Only key-ish NAMES enter at
    * ranks 0-3; any other orderable column ranks 4+ and is used only to
    * complete a composite key (e.g. l_linenumber).
    */
  private[sources] def rank(table: String, name: String): Int = {
    val n = name.toLowerCase
    val t = table.toLowerCase
    if (n == "id" || n == "rowid" || n == s"${t}_id" || n == s"${t}id") 0
    else if (n.endsWith("key")) 1
    else if (n.endsWith("_id") || n.endsWith("id")) 2
    else if (n.endsWith("number") || n.endsWith("_no") || n.endsWith("seq")) 3
    else 4
  }

  /** Ordered candidate list for a table's schema: key-ish names first
    * (rank, then schema position — TPC-H puts keys leftmost).
    */
  def candidates(table: String, schema: StructType): Seq[String] = {
    val fields = schema.fields.toSeq.zipWithIndex
      .filter { case (f, _) => orderable(f.dataType) }
    fields.sortBy { case (f, pos) => (rank(table, f.name), pos) }
      .map(_._1.name)
  }

  /** Infer an ORDER BY column list. Greedy: take candidates in rank
    * order, extending the prefix until it is unique (confirmed against
    * the data) or `maxCols` is hit. Returns None when nothing key-ish
    * exists or no prefix is unique — the DDL then falls back to
    * `tuple()` exactly like the reference with a pk-less table.
    *
    * `rows` is `df`'s row count when the caller already knows it (a
    * migration observes it on its write); otherwise it is counted here.
    */
  def infer(df: DataFrame, table: String, maxCols: Int = 2,
            confirm: Boolean = true,
            rows: Option[Long] = None): Option[Seq[String]] = {
    val cands = candidates(table, df.schema)
    if (cands.isEmpty || rank(table, cands.head) == 4) return None
    if (!confirm) return Some(Seq(cands.head))
    val total = rows.getOrElse(df.count())
    (1 to math.min(maxCols, cands.size)).iterator.map(cands.take)
      .find { prefix =>
        df.select(countDistinct(struct(prefix.map(col): _*)))
          .head().getLong(0) == total
      }
  }
}
