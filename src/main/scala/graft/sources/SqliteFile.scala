package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Pure-Scala READ-ONLY reader for the SQLite database FILE FORMAT
  * (https://www.sqlite.org/fileformat2.html — a public, stable,
  * exhaustively documented format), built because this container has
  * no sqlite-jdbc driver (zero egress): the reference's identity is
  * "read a real SQLite file" (main.py:140-145) and this makes that
  * run END-TO-END — real `.db` bytes in, Spark DataFrame out — with
  * no driver on the classpath at all.
  *
  * Scope (refused loudly outside it): rowid AND WITHOUT ROWID tables,
  * journal or WAL mode, all three header text encodings (UTF-8,
  * UTF-16le, UTF-16be — round 14; text serial types store raw bytes
  * in the header-declared encoding, decoded per record), read-only.
  * A non-empty HOT `-journal` sibling is READ, not refused (round
  * 14): [[SqliteJournal]] validates the pre-image records and the
  * reader overlays them on the (possibly torn) main file — sqlite's
  * own rollback playback, producing the pre-transaction snapshot; the
  * journal's initial page count truncates appended pages away. Cold
  * (zeroed-header) journals are ignored. A non-checkpointed `-wal`
  * sibling is READ, not refused (round 13): [[SqliteWal]] validates
  * and replays the committed frame prefix — salt + cumulative
  * checksum, cut at the last commit frame, exactly sqlite's own
  * recovery rule — and pages in the override map come from the log,
  * so the reader sees the same committed state `sqlite3` itself
  * would. Genuinely unreadable wal states (truncated/bad-magic/
  * failed-header-checksum/mismatched page size) refuse with named
  * errors. AUTO-VACUUM databases (FULL and INCREMENTAL) read
  * transparently (round 14): their pointer-map pages and
  * vacuum-relocated b-trees are invisible to this reader BY DESIGN —
  * it walks sqlite_schema ROOTPAGE POINTERS, never page order, and
  * rootpages are rewritten by the vacuum itself (fixtures with live
  * ptrmap pages + incremental_vacuum churn pin the immunity in
  * SqliteFileSpec).
  *
  * WITHOUT ROWID tables (round 12) store rows in an INDEX b-tree
  * (page types 0x02/0x0a, fileformat2 §2.3): the record holds the
  * PRIMARY KEY columns first (in PK-clause order) then the remaining
  * columns in declared order, interior pages carry full records too
  * (not just routing keys), and the overflow spill threshold differs
  * from table leaves (X = ((U-12)*64/255)-23, not U-35). The walker
  * emits interior-cell records inline, [[columnValue]] permutes record
  * order back to declared order, and partitioning adds one
  * cells-only slice for the root's own records.
  *
  * Distribution model: this object holds the file format (header,
  * pages, records, b-tree walks, `sqlite_master`); the one Spark scan
  * over it is the `sqlite` DataSource V2 ([[SqliteDataSource]]), and
  * [[read]] is that scan's batch front door. The driver opens the file
  * to parse the header + `sqlite_master` and to collect the root
  * b-tree's level-1 subtrees; each Spark partition then walks its own
  * subtrees through its own file handle. Like every local-file source,
  * executors must see the same path (shared FS on a real cluster) —
  * the exact constraint sqlite-jdbc itself would have. Within a
  * subtree the walk is sequential b-tree order, the same access
  * pattern as the reference's single cursor, but one cursor PER
  * SUBTREE.
  *
  * Values decode faithfully: integers (all six widths + the 0/1
  * constants) → Long, IEEE754 → Double, text → String, blob →
  * Array[Byte], NULL → null; the INTEGER-PRIMARY-KEY rowid alias is
  * materialized from the cell's rowid (the record stores NULL there,
  * fileformat2 §2.2). Declared-type COLUMN coercion follows the
  * reference's `prepare_row` (main.py:81-104): numeric widening into
  * REAL columns, `str(value)` into TEXT columns; a value that cannot
  * meet its column's type refuses with a named error instead of
  * silently corrupting. DATE/DATETIME columns surface as raw strings
  * — parsing is the already-gated parse_datetime/parse_date
  * operators' job downstream, not the byte reader's.
  */
object SqliteFile {

  /** walPath/walOverrides (round 13; journal overlay round 14): when
    * the database has a live `-wal` sibling OR a hot `-journal`
    * sibling, pages in the override map (page number → byte offset of
    * the page content inside the overlay file) are read from that
    * file instead of the main one. For a wal the overlay is the
    * committed-prefix replay [[SqliteWal]] validated (newer pages);
    * for a journal it is the pre-image set [[SqliteJournal]] validated
    * (ORIGINAL pages under an in-flight transaction's spill) — the
    * same mechanism restores the consistent snapshot from either
    * side. Serializable; captured by the Spark read closures like the
    * rest of the header.
    */
  final case class Header(pageSize: Int, reserved: Int, encoding: Int,
                          pageCount: Int, walPath: String = "",
                          walOverrides: Map[Int, Long] = Map.empty) {
    def usable: Int = pageSize - reserved
  }

  final case class ColumnDef(name: String, decl: String, pkOrdinal: Int,
                             rowidAlias: Boolean) {
    /** Resolved once per column, not per cell ([[coerceValue]]). */
    lazy val chType: ChType = SchemaMapper.fromSqliteDecl(decl)

    /** BLOB-declared (or undeclared — SQLite's BLOB affinity) columns
      * keep their bytes: the reference's String fallback would mangle
      * binary through str(); BinaryType preserves it for the multimodal
      * pipeline, which treats blobs as opaque binary columns anyway.
      */
    lazy val isBlob: Boolean = {
      val d = decl.trim.toUpperCase
      d.isEmpty || d.contains("BLOB")
    }
  }

  /** A table's stored columns, as `PRAGMA table_info` lists them, and
    * its generated columns (name, VIRTUAL or STORED), which it leaves
    * out.
    */
  final case class TableDef(name: String, rootPage: Int,
                            columns: Seq[ColumnDef], sql: String,
                            withoutRowid: Boolean = false,
                            generated: Seq[(String, String)] = Nil) {
    def primaryKey: Seq[String] =
      columns.filter(_.pkOrdinal > 0).sortBy(_.pkOrdinal).map(_.name)

    /** This table, or a [[GeneratedColumnException]] naming its first
      * generated column: a VIRTUAL one is absent from the record and a
      * STORED one shifts the columns after it, and this reader
      * evaluates no column expressions.
      */
    def readable: TableDef = generated.headOption match {
      case Some((column, kind)) =>
        throw new GeneratedColumnException(name, column, kind)
      case None => this
    }

    /** Record-position of each DECLARED column. Rowid tables store
      * records in declared order (identity); WITHOUT ROWID records
      * hold PK columns first (PK-clause order) then non-PK columns in
      * declared order (fileformat2 §2.3) — this permutation maps them
      * back. ALTER-added columns sit last in BOTH orders, so the
      * short-record NULL-padding rule survives the permutation.
      * Computed once per TableDef: CDC emits one JSON record per row.
      */
    lazy val recordIndex: IndexedSeq[Int] =
      if (!withoutRowid) columns.indices.toIndexedSeq
      else {
        val nPk = columns.count(_.pkOrdinal > 0)
        var nonPkSeen = 0
        columns.map { c =>
          if (c.pkOrdinal > 0) c.pkOrdinal - 1
          else { val i = nPk + nonPkSeen; nonPkSeen += 1; i }
        }.toIndexedSeq
      }
  }

  /** A read of a table with a generated column, refused by name. */
  final class GeneratedColumnException(val table: String, val column: String,
                                       val kind: String)
      extends UnsupportedOperationException(
        s"$table.$column is a $kind generated column - this reader " +
          "cannot compute it; read the table through sqlite itself")

  // ------------------------------------------------------------ header

  def header(path: String): Header = {
    val raf = new java.io.RandomAccessFile(path, "r")
    try {
      // Hot rollback journal (round 14 — replaces the blanket refusal):
      // a non-empty -journal sibling whose header is live means the
      // main file may hold uncommitted/torn pages; SqliteJournal
      // validates the pre-image records and we read THOSE pages from
      // the journal instead — sqlite's own playback, as a read overlay.
      // A cold journal (zeroed header, journal_mode=PERSIST leftovers)
      // carries no authority and is ignored.
      val jrn = new java.io.File(path + "-journal")
      val jrnInfo =
        if (jrn.exists() && jrn.length() > 0) {
          val j = SqliteJournal.parse(jrn.getPath)
          if (j.hot) Some(j) else None
        } else None
      val wal = new java.io.File(path + "-wal")
      require(!(jrnInfo.nonEmpty && wal.exists() && wal.length() > 0),
        s"$path has BOTH a hot -journal and a non-empty -wal sibling - " +
          "not a state sqlite itself produces; let sqlite recover")
      val walInfo =
        if (jrnInfo.isEmpty && wal.exists() && wal.length() > 0)
          Some(SqliteWal.parse(wal.getPath))
        else None
      // effective page 1: the wal's committed copy wins over the main
      // file (journal_mode=WAL keeps schema/header changes in the log
      // until checkpoint); SYMMETRICALLY, a hot journal's page-1
      // PRE-IMAGE wins over a dirty main page 1 (an in-flight schema
      // change spilled mid-transaction must roll back)
      val h = new Array[Byte](100)
      val p1Override = walInfo.flatMap(_.overrides.get(1))
        .map(off => (wal.getPath, off))
        .orElse(jrnInfo.flatMap(_.overrides.get(1))
          .map(off => (jrn.getPath, off)))
      p1Override match {
        case Some((opath, off)) =>
          val oraf = new java.io.RandomAccessFile(opath, "r")
          try { oraf.seek(off); oraf.readFully(h) } finally oraf.close()
        case None =>
          require(raf.length() >= 512,
            s"$path is not a SQLite 3 database (too short: " +
              s"${raf.length()} bytes)")
          raf.readFully(h)
      }
      val magic = new String(h, 0, 16, java.nio.charset.StandardCharsets.ISO_8859_1)
      require(magic == "SQLite format 3\u0000",
        s"$path is not a SQLite 3 database (bad magic)")
      val rawPs = be(h, 16, 2).toInt
      val pageSize = if (rawPs == 1) 65536 else rawPs
      require(pageSize >= 512 && (pageSize & (pageSize - 1)) == 0,
        s"invalid page size $pageSize")
      walInfo.foreach { w =>
        require(w.pageSize == pageSize,
          s"$path: wal page size ${w.pageSize} != database page size " +
            s"$pageSize - mismatched wal sibling; let sqlite recover")
        // Independent check against the MAIN file's own header bytes
        // 16-17: when the wal carries a committed page-1 frame, the
        // pageSize above came from the wal itself, so a foreign wal
        // with a different page size would self-validate — and the
        // non-overridden pages would then be sliced from the main file
        // at the wrong stride (garbage decode instead of this refusal).
        if (raf.length() >= 512) {
          val mh = new Array[Byte](18)
          raf.seek(0); raf.readFully(mh)
          val mRaw = be(mh, 16, 2).toInt
          val mainPs = if (mRaw == 1) 65536 else mRaw
          require(mainPs == w.pageSize,
            s"$path: main-file page size $mainPs != wal page size " +
              s"${w.pageSize} - foreign/mismatched wal sibling; let " +
              "sqlite recover")
        }
      }
      jrnInfo.foreach { j =>
        // same self-validation hazard as the wal (a journal page-1
        // pre-image is where pageSize came from): cross-check both
        // the journal header's declared page size and the main file's
        // own bytes 16-17
        require(j.pageSize == pageSize,
          s"$path: journal page size ${j.pageSize} != database page " +
            s"size $pageSize - mismatched journal sibling; let sqlite " +
            "recover")
        if (raf.length() >= 512) {
          val mh = new Array[Byte](18)
          raf.seek(0); raf.readFully(mh)
          val mRaw = be(mh, 16, 2).toInt
          val mainPs = if (mRaw == 1) 65536 else mRaw
          require(mainPs == j.pageSize,
            s"$path: main-file page size $mainPs != journal page size " +
              s"${j.pageSize} - foreign/mismatched journal sibling; " +
              "let sqlite recover")
        }
      }
      val enc = be(h, 56, 4).toInt
      require(enc >= 1 && enc <= 3,
        s"unsupported text encoding $enc (1 = UTF-8, 2 = UTF-16le, " +
          "3 = UTF-16be); re-export the database")
      // page count: the last commit frame's size is authoritative when
      // a wal applies (appended pages live only in the log; a committed
      // truncation shrinks below the main file's size); a hot journal's
      // initial page count is authoritative the same way (an in-flight
      // transaction may have APPENDED pages to the main file — rollback
      // truncates them away); otherwise the file size (the header count
      // can lag on legacy journals)
      val pages = walInfo.filter(_.dbPages > 0).map(_.dbPages)
        .orElse(jrnInfo.map(_.dbPages))
        .getOrElse((raf.length() / pageSize).toInt)
      (walInfo, jrnInfo) match {
        case (Some(w), _) if w.overrides.nonEmpty =>
          Header(pageSize, h(20) & 0xff, enc, pages, wal.getPath,
            w.overrides)
        case (_, Some(j)) if j.overrides.nonEmpty =>
          Header(pageSize, h(20) & 0xff, enc, pages, jrn.getPath,
            j.overrides)
        case _ =>
          // wal with zero committed frames / journal with zero valid
          // records: the main file is current
          Header(pageSize, h(20) & 0xff, enc, pages)
      }
    } finally raf.close()
  }

  // --------------------------------------------------------- primitives

  /** Big-endian unsigned read of n<=4 bytes (returns Long to stay
    * unsigned-safe).
    */
  private[sources] def be(b: Array[Byte], off: Int, n: Int): Long = {
    var v = 0L; var i = 0
    while (i < n) { v = (v << 8) | (b(off + i) & 0xffL); i += 1 }
    v
  }

  /** Big-endian SIGNED integer of n<=8 bytes (sign-extended). */
  private def beSigned(b: Array[Byte], off: Int, n: Int): Long = {
    var v = 0L; var i = 0
    while (i < n) { v = (v << 8) | (b(off + i) & 0xffL); i += 1 }
    val shift = 64 - 8 * n
    (v << shift) >> shift
  }

  /** SQLite varint: 1-9 bytes, 7 data bits per byte high-bit
    * continuation, 9th byte contributes all 8 bits. Returns
    * (value, bytesConsumed).
    */
  private[sources] def varint(b: Array[Byte], off: Int): (Long, Int) = {
    var v = 0L; var i = 0
    while (i < 8) {
      val x = b(off + i)
      v = (v << 7) | (x & 0x7fL)
      if ((x & 0x80) == 0) return (v, i + 1)
      i += 1
    }
    ((v << 8) | (b(off + 8) & 0xffL), 9)
  }

  private def serialLen(t: Long): Int = t match {
    case 0 | 8 | 9 => 0
    case 1 => 1
    case 2 => 2
    case 3 => 3
    case 4 => 4
    case 5 => 6
    case 6 | 7 => 8
    case 10 | 11 =>
      throw new IllegalStateException(s"reserved serial type $t in record")
    case n => ((n - 12) / 2).toInt
  }

  /** The database text encoding's charset (header byte 56: 1 = UTF-8,
    * 2 = UTF-16le, 3 = UTF-16be — the three encodings the file format
    * defines). Text serial values hold raw bytes in THIS encoding;
    * their serial-type length is always a BYTE count regardless.
    */
  private[sources] def charsetOf(enc: Int): java.nio.charset.Charset =
    enc match {
      case 1 => java.nio.charset.StandardCharsets.UTF_8
      case 2 => java.nio.charset.StandardCharsets.UTF_16LE
      case 3 => java.nio.charset.StandardCharsets.UTF_16BE
      case other => throw new IllegalArgumentException(
        s"unsupported text encoding $other (1 = UTF-8, 2 = UTF-16le, " +
          "3 = UTF-16be)")
    }

  private def serialValue(t: Long, b: Array[Byte], off: Int,
                          cs: java.nio.charset.Charset): Any = t match {
    case 0 => null
    case 10 | 11 =>
      throw new IllegalStateException(s"reserved serial type $t in record")
    case 1 | 2 | 3 | 4 | 5 | 6 => beSigned(b, off, serialLen(t))
    case 7 => java.lang.Double.longBitsToDouble(be(b, off, 8))
    case 8 => 0L
    case 9 => 1L
    case n if n >= 13 && n % 2 == 1 =>
      new String(b, off, ((n - 13) / 2).toInt, cs)
    case n if n >= 12 =>
      java.util.Arrays.copyOfRange(b, off, off + ((n - 12) / 2).toInt)
  }

  /** Decode one record payload into its column values (text decoded
    * with the database's header-declared charset).
    */
  private[sources] def record(p: Array[Byte],
      cs: java.nio.charset.Charset =
        java.nio.charset.StandardCharsets.UTF_8): IndexedSeq[Any] = {
    val (hdrLen, h0) = varint(p, 0)
    var hOff = h0
    var bOff = hdrLen.toInt
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    while (hOff < hdrLen) {
      val (t, n) = varint(p, hOff)
      hOff += n
      out += serialValue(t, p, bOff, cs)
      bOff += serialLen(t)
    }
    out.toIndexedSeq
  }

  // ------------------------------------------------------------- pages

  private[sources] final class PageFile(path: String, val h: Header)
      extends AutoCloseable {
    private val raf = new java.io.RandomAccessFile(path, "r")
    private var walRaf: java.io.RandomAccessFile = null
    /** Pages fetched through this handle — the pruning receipt the
      * incremental-read specs assert on (a rowid-bounded walk of a
      * deep tree must touch O(matching leaves + spine), not O(tree)).
      */
    var reads: Int = 0
    def page(n: Int): Array[Byte] = bytes(n, 0, h.pageSize)

    /** Page `n`'s b-tree page type: its header's first byte, read
      * without the rest of the page.
      */
    def pageType(n: Int): Int =
      bytes(n, if (n == 1) 100 else 0, 1)(0) & 0xff

    private def bytes(n: Int, off: Int, len: Int): Array[Byte] = {
      reads += 1
      require(n >= 1 && n <= h.pageCount,
        s"page $n out of range 1..${h.pageCount}")
      val b = new Array[Byte](len)
      h.walOverrides.get(n) match {
        case Some(at) =>
          if (walRaf == null)
            walRaf = new java.io.RandomAccessFile(h.walPath, "r")
          walRaf.seek(at + off); walRaf.readFully(b)
        case None =>
          raf.seek((n - 1).toLong * h.pageSize + off)
          raf.readFully(b)
      }
      b
    }
    def close(): Unit = {
      raf.close()
      if (walRaf != null) walRaf.close()
    }
  }

  /** Assemble the payload of a cell on page `pageNo`, following the
    * overflow chain when the local part is truncated (fileformat2 §1.6
    * spill rules: table leaves spill past X = U-35, index pages past
    * X = ((U-12)*64/255) - 23; both share M = ((U-12)*32/255)-23,
    * K = M+((P-M)%(U-4))). The chain is read until the payload is
    * full, so a cyclic chain cannot loop; a chain that ends early or
    * runs on past the payload, or a size no file of this many pages
    * could hold, is a corrupt file and fails naming the page.
    */
  private[sources] def payload(pf: PageFile, pageNo: Int, page: Array[Byte],
                      p: Long, afterVarints: Int,
                      index: Boolean = false): Array[Byte] = {
    val u = pf.h.usable
    if (p < 0 || p > pf.h.pageCount.toLong * u)
      throw new IllegalStateException(s"page $pageNo: cell payload of " +
        s"$p bytes cannot fit in ${pf.h.pageCount} pages - corrupt file")
    val x = if (index) ((u - 12) * 64) / 255 - 23 else u - 35
    if (p <= x) // fully local
      return java.util.Arrays.copyOfRange(page, afterVarints,
        afterVarints + p.toInt)
    val m = ((u - 12) * 32) / 255 - 23
    val k = m + ((p - m) % (u - 4)).toInt
    val local = if (k <= x) k else m
    val out = new Array[Byte](p.toInt)
    System.arraycopy(page, afterVarints, out, 0, local)
    var prev = pageNo
    var next = be(page, afterVarints + local, 4).toInt
    var got = local
    while (got < p) {
      if (next == 0) throw new IllegalStateException(s"page $prev: " +
        s"overflow chain ended after $got of $p bytes - corrupt file")
      val op = pf.page(next)
      prev = next
      next = be(op, 0, 4).toInt
      val take = math.min(u - 4, p.toInt - got)
      System.arraycopy(op, 4, out, got, take)
      got += take
    }
    if (next != 0) throw new IllegalStateException(s"page $prev: " +
      s"overflow chain links on to page $next past the payload's $p " +
      "bytes - cyclic or corrupt chain")
    out
  }

  /** Depth-first iterator over a b-tree subtree: (rowid, record
    * values). Handles BOTH b-tree kinds: table pages (0x05/0x0d)
    * yield (rowid, record); index pages (0x02/0x0a — WITHOUT ROWID
    * content) yield (0, record) with interior-cell records emitted
    * inline (index interiors carry full rows, fileformat2 §2.3;
    * emission order is per-page, not globally key-sorted — DataFrames
    * are unordered and the order is still deterministic). A NEGATIVE
    * root means "cells of page |root| only, no descent" — how the scan
    * ([[subtreeRoots]]) slices an index ROOT's own records into their
    * own partition. Records stay raw; every reader maps them to
    * declared columns through [[columnValue]].
    * One open file handle per iterator; closed when exhausted (or via
    * close()). A walk reads each tree and overflow page at most once,
    * so one still reading after `pageCount` pages follows a cyclic
    * pointer and fails naming the page it was about to read.
    *
    * Rowid-range pruning (round 14, the incremental-read primitive):
    * `minEx`/`maxInc` restrict the walk to rowids in (minEx, maxInc].
    * Interior TABLE cells carry the max rowid of their child subtree
    * (fileformat2 §1.6: the key orders the children), so a bounded
    * walk descends ONLY children whose rowid interval overlaps the
    * bound — O(matching leaves + interior spine) pages, the indexed
    * shape a `WHERE rowid > ?` takes inside sqlite itself. Leaves
    * filter exactly. Bounds on an INDEX tree (WITHOUT ROWID content,
    * whose keys are the declared PK, not a rowid) are refused loudly.
    */
  private[sources] final class TableWalk(path: String, h: Header, root: Int,
                                         minEx: Long = Long.MinValue,
                                         maxInc: Long = Long.MaxValue)
      extends Iterator[(Long, IndexedSeq[Any])] with AutoCloseable {
    private val pf = new PageFile(path, h)
    private val cs = charsetOf(h.encoding)
    private val bounded = minEx != Long.MinValue || maxInc != Long.MaxValue
    // stack of page numbers; negative = emit that page's cells only
    private var stack = List(root)
    private var cells: Iterator[(Long, IndexedSeq[Any])] = Iterator.empty
    private var open = true

    /** Pages touched so far — the pruning receipt. */
    def pagesRead: Int = pf.reads

    private def pageHeaderOff(n: Int) = if (n == 1) 100 else 0

    private def descend(): Unit = {
      while (cells.isEmpty && stack.nonEmpty) {
        val n0 = stack.head; stack = stack.tail
        val cellsOnly = n0 < 0
        val n = math.abs(n0)
        if (pf.reads >= h.pageCount) throw new IllegalStateException(
          s"page $n: b-tree walk from page ${math.abs(root)} still reads " +
            s"pages after all ${h.pageCount} - cyclic child pointer, " +
            "corrupt file")
        val pg = pf.page(n)
        val off = pageHeaderOff(n)
        val tpe = pg(off) & 0xff
        val k = be(pg, off + 3, 2).toInt
        tpe match {
          case 0x05 => // interior table: children left-to-right + rightmost
            require(!cellsOnly, s"page $n: cells-only slice of a table " +
              "interior page has nothing to emit")
            // cell i = (4-byte child ptr, varint key); key = MAX rowid
            // in that child, so child i covers (key_{i-1}, key_i] and
            // the rightmost pointer covers (key_{k-1}, +inf)
            var prevKey = Long.MinValue
            val keep = List.newBuilder[Int]
            var i = 0
            while (i < k) {
              val c = be(pg, off + 12 + 2 * i, 2).toInt
              val child = be(pg, c, 4).toInt
              val key = varint(pg, c + 4)._1
              if (key > minEx && prevKey < maxInc) keep += child
              prevKey = key
              i += 1
            }
            if (prevKey < maxInc) keep += be(pg, off + 8, 4).toInt
            stack = keep.result() ::: stack
          case 0x0d => // leaf table
            cells = (0 until k).iterator.flatMap { i =>
              val c = be(pg, off + 8 + 2 * i, 2).toInt
              val (p, n1) = varint(pg, c)
              val (rowid, n2) = varint(pg, c + n1)
              if (rowid > minEx && rowid <= maxInc)
                Some((rowid, record(payload(pf, n, pg, p, c + n1 + n2), cs)))
              else None
            }
          case 0x02 => // interior index: records in cells + children
            require(!bounded, s"page $n: rowid bounds on an index " +
              "b-tree (WITHOUT ROWID content) are meaningless - " +
              "incremental reads need a rowid table")
            if (!cellsOnly) stack = childPointers(pg, off).toList ::: stack
            cells = (0 until k).iterator.map { i =>
              val c = be(pg, off + 12 + 2 * i, 2).toInt
              val (p, n1) = varint(pg, c + 4) // 4-byte child ptr first
              (0L, record(payload(pf, n, pg, p, c + 4 + n1, index = true), cs))
            }
          case 0x0a => // leaf index
            require(!bounded, s"page $n: rowid bounds on an index " +
              "b-tree (WITHOUT ROWID content) are meaningless - " +
              "incremental reads need a rowid table")
            cells = (0 until k).iterator.map { i =>
              val c = be(pg, off + 8 + 2 * i, 2).toInt
              val (p, n1) = varint(pg, c)
              (0L, record(payload(pf, n, pg, p, c + n1, index = true), cs))
            }
          case other =>
            throw new IllegalStateException(
              s"page $n has unknown b-tree page type $other")
        }
      }
      if (cells.isEmpty && stack.isEmpty && open) { close(); }
    }

    def hasNext: Boolean = { descend(); cells.hasNext }
    def next(): (Long, IndexedSeq[Any]) = { descend(); cells.next() }
    def close(): Unit = if (open) { open = false; pf.close() }
  }

  /** The level-1 children of a table's root page — the subtree roots
    * partitions walk independently. A leaf root is its own subtree.
    * An INDEX interior root (WITHOUT ROWID) also contributes one
    * cells-only slice (encoded as -rootPage) for its OWN records,
    * which index interiors carry alongside the child pointers. Read
    * against the caller's header `h`, the snapshot its tasks read.
    */
  def subtreeRoots(path: String, h: Header, table: TableDef): Seq[Int] = {
    val pf = new PageFile(path, h)
    try {
      val n = table.rootPage
      val pg = pf.page(n)
      val off = if (n == 1) 100 else 0
      val tpe = pg(off) & 0xff
      if (tpe == 0x0d || tpe == 0x0a) Seq(n)
      else {
        val children = childPointers(pg, off)
        if (tpe == 0x02) children :+ (-n) else children
      }
    } finally pf.close()
  }

  /** An interior b-tree page's child pointers, left to right, the
    * rightmost pointer last.
    */
  private def childPointers(pg: Array[Byte], off: Int): IndexedSeq[Int] = {
    val k = be(pg, off + 3, 2).toInt
    (0 until k).map { i =>
      be(pg, be(pg, off + 12 + 2 * i, 2).toInt, 4).toInt
    } :+ be(pg, off + 8, 4).toInt
  }

  /** The number of leaf pages in the b-tree rooted at page `root` (a
    * table's or an index's), counted from its interior pages: a b-tree
    * keeps every leaf at one depth, so the page type of one child per
    * level tells whether the level below is the leaves, and the child
    * pointers of the lowest interior level count them. No leaf page is
    * read past its type byte. Leaf pages × page size is the table's
    * size for read planning (overflow pages are left out). A walk
    * still reading after `pageCount` pages follows a cyclic pointer
    * and fails naming the page.
    */
  def leafPages(path: String, h: Header, root: Int): Int = {
    val pf = new PageFile(path, h)
    def interior(tpe: Int) = tpe == 0x05 || tpe == 0x02
    def children(n: Int): Seq[Int] = {
      if (pf.reads >= h.pageCount) throw new IllegalStateException(
        s"page $n: leaf count of the b-tree at page $root still reads " +
          s"pages after all ${h.pageCount} - cyclic child pointer, corrupt file")
      val pg = pf.page(n)
      val off = if (n == 1) 100 else 0
      val tpe = pg(off) & 0xff
      if (!interior(tpe)) throw new IllegalStateException(
        s"page $n: b-tree type $tpe on an interior level of the b-tree " +
          s"at page $root - corrupt file")
      childPointers(pg, off)
    }
    try {
      if (!interior(pf.pageType(root))) 1
      else {
        var level = Seq(children(root))
        while (interior(pf.pageType(level.head.head)))
          level = level.flatMap(_.map(children))
        level.map(_.size).sum
      }
    } finally pf.close()
  }

  /** Subtree walks packed into at most `maxPartitions` runs of
    * neighbouring walks: one run per Spark task.
    */
  private[sources] def groupSubtrees[A](walks: Seq[A],
                                        maxPartitions: Int): Seq[Seq[A]] =
    walks.grouped(
      math.max(1, (walks.size + maxPartitions - 1) / maxPartitions)).toSeq

  /** The largest rowid in a rowid table — the incremental-read
    * watermark. O(tree depth): follows the rightmost pointer spine to
    * the last leaf cell, sqlite's own `SELECT max(rowid)` shape. None
    * for an empty table; refuses WITHOUT ROWID tables (no rowid to
    * watermark — incremental sync there needs a monotonic declared
    * column, which is a query-level contract, not a file-level one).
    */
  def maxRowid(path: String, table: TableDef): Option[Long] =
    maxRowid(path, header(path), table)

  /** As above against a CALLER-snapshotted header, so two spine walks
    * of one result row (MIN and MAX of the agg pushdown) read the
    * same committed WAL/journal overlay even under a concurrent
    * writer (the same plan-time snapshot a SqliteWalkPartition holds).
    */
  def maxRowid(path: String, h: Header, table: TableDef): Option[Long] =
    spineRowid(path, h, table, rightmost = true)

  /** Smallest rowid — the LEFTMOST spine walk, O(depth) pages (the
    * mirror of [[maxRowid]]; round 15, serves the MIN(rowid-alias)
    * aggregate pushdown).
    */
  def minRowid(path: String, table: TableDef): Option[Long] =
    minRowid(path, header(path), table)

  /** Caller-snapshotted-header variant; see [[maxRowid]]. */
  def minRowid(path: String, h: Header, table: TableDef): Option[Long] =
    spineRowid(path, h, table, rightmost = false)

  /** The rowid of the last (or first) leaf cell, reached down the
    * rightmost (or leftmost) child pointers. A spine visits each page
    * at most once, so a walk still on an interior page after
    * `pageCount` pages follows a cyclic pointer and fails naming it.
    */
  private def spineRowid(path: String, h: Header, table: TableDef,
                         rightmost: Boolean): Option[Long] = {
    require(!table.withoutRowid,
      s"${table.name} is WITHOUT ROWID - no rowid watermark exists; " +
        "incremental reads need a rowid table")
    val pf = new PageFile(path, h)
    try {
      var n = table.rootPage
      while (pf.reads < h.pageCount) {
        val pg = pf.page(n)
        val off = if (n == 1) 100 else 0
        val tpe = pg(off) & 0xff
        val k = be(pg, off + 3, 2).toInt
        tpe match {
          case 0x05 =>
            // rightmost child, or cell 0's child pointer (rightmost-only
            // when the interior page is cell-less)
            n = if (rightmost || k == 0) be(pg, off + 8, 4).toInt
                else be(pg, be(pg, off + 12, 2).toInt, 4).toInt
          case 0x0d =>
            if (k == 0) return None
            // leaf cells are rowid-ordered
            val c = be(pg, off + 8 + 2 * (if (rightmost) k - 1 else 0), 2).toInt
            val n1 = varint(pg, c)._2
            return Some(varint(pg, c + n1)._1)
          case other => throw new IllegalStateException(
            s"${table.name}: page $n has b-tree type $other, not a " +
              "table page - corrupt rootpage or an index tree")
        }
      }
      throw new IllegalStateException(s"${table.name}: rowid spine walk " +
        s"still descends to page $n after all ${h.pageCount} pages - " +
        "cyclic child pointer, corrupt file")
    } finally pf.close()
  }

  /** Level-1 subtrees of a rowid table WITH their rowid intervals:
    * (root, lowExclusive, highInclusive). An interior root's cell keys
    * delimit the children ((key_{i-1}, key_i], rightmost unbounded);
    * a leaf root is one unbounded subtree. This is what lets an
    * incremental scan PLAN-prune whole subtrees before any task runs
    * (only intervals overlapping (watermark, latest] become input
    * partitions). Refuses WITHOUT ROWID tables like [[maxRowid]].
    * Read against the caller's header `h`, the snapshot its tasks read.
    */
  def subtreeRanges(path: String, h: Header,
                    table: TableDef): Seq[(Int, Long, Long)] = {
    require(!table.withoutRowid,
      s"${table.name} is WITHOUT ROWID - rowid subtree intervals do " +
        "not exist; incremental reads need a rowid table")
    val pf = new PageFile(path, h)
    try {
      val n = table.rootPage
      val pg = pf.page(n)
      val off = if (n == 1) 100 else 0
      val tpe = pg(off) & 0xff
      if (tpe == 0x0d) Seq((n, Long.MinValue, Long.MaxValue))
      else {
        require(tpe == 0x05, s"${table.name}: root page $n has b-tree " +
          s"type $tpe, not a table page")
        val k = be(pg, off + 3, 2).toInt
        var prev = Long.MinValue
        val out = Seq.newBuilder[(Int, Long, Long)]
        var i = 0
        while (i < k) {
          val c = be(pg, off + 12 + 2 * i, 2).toInt
          val child = be(pg, c, 4).toInt
          val key = varint(pg, c + 4)._1
          out += ((child, prev, key))
          prev = key
          i += 1
        }
        out += ((be(pg, off + 8, 4).toInt, prev, Long.MaxValue))
        out.result()
      }
    } finally pf.close()
  }

  /** Diagnostic: pages touched by a LOCAL bounded walk of the whole
    * tree — the pruning receipt (bounded walk over a deep tree must
    * touch O(matching leaves + spine) pages, not O(tree)). Returns
    * (rowsYielded, pagesRead).
    */
  def pagesTouched(path: String, table: TableDef,
                   minExclusive: Long = Long.MinValue,
                   maxInclusive: Long = Long.MaxValue): (Long, Int) = {
    val h = header(path)
    val w = new TableWalk(path, h, table.rootPage, minExclusive,
      maxInclusive)
    try {
      var n = 0L
      while (w.hasNext) { w.next(); n += 1 }
      (n, w.pagesRead)
    } finally w.close()
  }

  // ----------------------------------------------------- sqlite_master

  /** All TABLES from sqlite_master (root = page 1; columns type,
    * name, tbl_name, rootpage, sql — fileformat2 §2.6), with their
    * column definitions as [[SqliteDdl.parseCreateTable]] reads them.
    * Views/indexes/triggers are skipped; internal `sqlite_*` tables
    * too (main.py:144 scans type='table' the same way).
    */
  def listTables(path: String): Seq[TableDef] = {
    val h = header(path)
    val w = new TableWalk(path, h, 1)
    try {
      w.map(_._2).collect {
        case vals if vals.headOption.contains("table") =>
          val name = vals(1).asInstanceOf[String]
          val root = vals(3).asInstanceOf[Long].toInt
          val sql = vals(4).asInstanceOf[String]
          (name, root, sql)
      }.filterNot(_._1.startsWith("sqlite_"))
        .map { case (name, root, sql) =>
          val t = SqliteDdl.parseCreateTable(sql)
          val (pk, alias) = (t.pkColumns, t.rowidAlias)
          val (generated, stored) =
            t.columns.zipWithIndex.partition(_._1.generated.isDefined)
          TableDef(name, root, stored.map { case (c, i) =>
            ColumnDef(c.name, c.decl, pk.indexOf(i) + 1, alias.contains(i))
          }.toList, sql, t.withoutRowid,
            generated.map { case (c, _) => c.name -> c.generated.get })
        }.toList
    } finally w.close()
  }

  // ------------------------------------------------------- Spark layer

  /** Spark schema for a table: the reference's declared-type mapping
    * (main.py:125-134 via [[SchemaMapper.fromSqliteDecl]]), except
    * DATE/DATETIME surface as raw STRINGS here — parsing text into
    * temporal types is the gated parse_datetime/parse_date operators'
    * contract, applied downstream by the migration (see
    * [[temporalTypes]]), not by the byte reader.
    */
  def schemaOf(table: TableDef): StructType =
    StructType(table.columns.map { c =>
      val dt =
        if (c.isBlob) BinaryType
        else c.chType match {
          case ChType.DateTime | ChType.Date => StringType
          case t => t.spark
        }
      StructField(c.name, dt, nullable = !c.rowidAlias)
    })

  /** The declared Date/DateTime target of each column [[schemaOf]]
    * surfaces as raw text: what a migration parses it to.
    */
  def temporalTypes(table: TableDef): Map[String, ChType] =
    table.columns.collect {
      case c if c.chType == ChType.Date || c.chType == ChType.DateTime =>
        c.name -> c.chType
    }.toMap

  private def coerceValue(v: Any, c: ColumnDef, table: String): Any = {
    def fail(want: String) = throw new IllegalStateException(
      s"$table.${c.name}: cannot coerce ${v.getClass.getSimpleName} " +
        s"value to $want (declared '${c.decl}')")
    if (v == null) null
    else if (c.isBlob) v match {
      case b: Array[Byte] => b
      case s: String => s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      case _ => fail("binary")
    }
    else c.chType match {
      case ChType.Int64 | ChType.UInt32 | ChType.UInt64 | ChType.Int32 =>
        v match { case l: Long => l; case _ => fail("integer") }
      case ChType.Float64 | ChType.Float32 =>
        v match { case d: Double => d; case l: Long => l.toDouble
                  case _ => fail("double") }
      case ChType.Bool =>
        v match { case l: Long => l != 0L; case _ => fail("boolean") }
      case _ => // Str, DateTime/Date (raw), unknown-decl fallback
        v match {
          case s: String => s
          case b: Array[Byte] =>
            new String(b, java.nio.charset.StandardCharsets.UTF_8)
          case l: Long => l.toString   // reference str(value)
          case d: Double => d.toString
          case _ => fail("string")
        }
    }
  }

  /** Declared column `c`'s value in a record read from `table`: the
    * rowid alias takes the cell rowid, a record with no value at
    * `recPos` (written before an ALTER TABLE ADD COLUMN) pads NULL, the
    * same answer sqlite itself gives, and every other value meets its
    * declared type through [[coerceValue]]. `recPos` is the column's
    * [[TableDef.recordIndex]] entry. The one record → column
    * projection: the scan, the catalog CDC envelope and the index
    * point lookup all map records through it.
    */
  private[sources] def columnValue(table: String, c: ColumnDef, recPos: Int,
                                   rowid: Long, vals: IndexedSeq[Any]): Any =
    if (c.rowidAlias) rowid
    else if (recPos < vals.size) coerceValue(vals(recPos), c, table)
    else null

  /** Read one table as a DataFrame: the batch front door to the
    * `sqlite` DataSource V2 ([[SqliteDataSource]]), the one scan, so a
    * filter or projection on the result reaches its probes and column
    * pruning. One Spark partition per run of root subtrees, at most
    * `maxPartitions` ([[groupSubtrees]]).
    */
  def read(spark: SparkSession, path: String, table: TableDef,
           maxPartitions: Int = 32): DataFrame =
    spark.read.format("sqlite").option("path", path)
      .option("table", table.name)
      .option("maxPartitions", maxPartitions.toLong).load()

  /** Convenience: read by table name. */
  def read(spark: SparkSession, path: String, tableName: String): DataFrame =
    spark.read.format("sqlite").option("path", path)
      .option("table", tableName).load()
}
