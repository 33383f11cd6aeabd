package graft.sources

import SqliteFile.be

/** Reader for SQLite's ROLLBACK-JOURNAL file format (round 14 —
  * https://www.sqlite.org/fileformat2.html §3, "The Rollback Journal";
  * the symmetric twin of round 13's [[SqliteWal]]): a non-empty
  * `-journal` sibling means a transaction was IN FLIGHT when the
  * database files were copied — the main file may hold uncommitted or
  * torn pages (sqlite spills dirty pages mid-transaction under cache
  * pressure, AFTER journaling each page's pre-image). Where the wal
  * layers NEWER committed pages over a stale main file, the journal
  * layers ORIGINAL pre-images over a dirty one: replaying the valid
  * records restores exactly the pre-transaction snapshot sqlite's own
  * recovery (playback) would produce.
  *
  * Format: a sector-aligned header — 8-byte magic d9 d5 05 f9 20 a1
  * 63 d7; record count nRec (0xFFFFFFFF = "to end of file", written
  * in no-sync modes); checksum nonce; the database's page count
  * BEFORE the transaction (the truncation authority: appended pages
  * must vanish on rollback); sector size; page size — then nRec
  * records of (page number BE32, pre-image page, checksum BE32). The
  * record checksum is sqlite's sparse byte sum: nonce + Σ data[i] for
  * i = pageSize−200, pageSize−400, … while i > 0 (pager_cksum). After
  * a header's records the next sector boundary may hold ANOTHER
  * header (exclusive/persist modes append one per transaction);
  * playback processes headers in order, later records overwriting
  * earlier (sqlite replays sequentially).
  *
  * Validity rule mirrors sqlite's own hot-journal playback: a zeroed
  * or foreign first magic means the journal is COLD (finalized by a
  * committed transaction) — the main file is current and the journal
  * is ignored. A record with a bad checksum, a short tail, or an
  * out-of-range page number cuts the replay there (torn journal
  * write: the corresponding main-file page was never modified, so the
  * valid prefix IS the snapshot). nRec = 0 cuts at that header
  * (header synced before any record was).
  *
  * Loud refusals (conservative, named): journal/database page-size
  * mismatch, nonsense page or sector sizes — states where replay
  * could silently garble instead of restore.
  */
object SqliteJournal {

  /** hot = false: cold/finalized journal — ignore it, read the main
    * file. overrides = page number → byte offset of that page's
    * PRE-IMAGE content inside the journal file; dbPages = the
    * page count before the transaction (truncation authority).
    */
  final case class JournalInfo(pageSize: Int, dbPages: Int,
                               overrides: Map[Int, Long],
                               records: Int, hot: Boolean)

  private val Magic =
    Array(0xd9, 0xd5, 0x05, 0xf9, 0x20, 0xa1, 0x63, 0xd7).map(_.toByte)

  /** sqlite pager_cksum: nonce + every-200th byte from the tail. */
  private[sources] def recordCksum(nonce: Long, page: Array[Byte]): Long = {
    var c = nonce
    var i = page.length - 200
    while (i > 0) { c = (c + (page(i) & 0xffL)) & 0xffffffffL; i -= 200 }
    c
  }

  def parse(jrnPath: String): JournalInfo = {
    val raf = new java.io.RandomAccessFile(jrnPath, "r")
    try {
      val len = raf.length()
      val first = new Array[Byte](28 min len.toInt)
      raf.readFully(first)
      // cold journal: finalized by zeroing (journal_mode=PERSIST) or
      // anything that is not a journal header — the main file is the
      // committed state and the journal carries no authority
      if (len < 28 || !first.take(8).sameElements(Magic))
        return JournalInfo(0, 0, Map.empty, 0, hot = false)

      var nonce = be(first, 12, 4)
      val dbPages = be(first, 16, 4).toInt
      val sectorSize = be(first, 20, 4).toInt
      val pageSize = be(first, 24, 4).toInt
      require(sectorSize >= 32 && (sectorSize & (sectorSize - 1)) == 0,
        s"$jrnPath: invalid journal sector size $sectorSize")
      require(pageSize >= 512 && pageSize <= 65536 &&
        (pageSize & (pageSize - 1)) == 0,
        s"$jrnPath: invalid journal page size $pageSize")
      require(dbPages >= 1,
        s"$jrnPath: journal initial page count $dbPages < 1")

      val recSize = 4L + pageSize + 4L
      var overrides = Map.empty[Int, Long]
      var records = 0
      val hdr = new Array[Byte](28)
      val rec = new Array[Byte](8)
      val page = new Array[Byte](pageSize)
      var pos = sectorSize.toLong // records of the first header
      var nRec = be(first, 8, 4)
      var valid = true
      while (valid) {
        val toEof = nRec == 0xffffffffL
        if (!toEof && nRec == 0L) valid = false // header synced, no records
        val avail = if (toEof) (len - pos) / recSize else nRec
        var r = 0L
        while (valid && r < avail) {
          if (pos + recSize > len) valid = false // torn tail
          else {
            raf.seek(pos); raf.readFully(rec, 0, 4)
            val pgno = be(rec, 0, 4).toInt
            raf.readFully(page)
            raf.readFully(rec, 4, 4)
            val ck = be(rec, 4, 4)
            if (pgno < 1 || ck != recordCksum(nonce, page)) valid = false
            else {
              overrides += pgno -> (pos + 4) // last-wins, playback order
              records += 1
              pos += recSize
              r += 1
            }
          }
        }
        if (valid) {
          // next sector boundary: another header, or done
          val next = ((pos + sectorSize - 1) / sectorSize) * sectorSize
          if (toEof || next + 28 > len) valid = false
          else {
            raf.seek(next); raf.readFully(hdr)
            if (!hdr.take(8).sameElements(Magic)) valid = false
            else {
              nRec = be(hdr, 8, 4)
              nonce = be(hdr, 12, 4)
              pos = next + sectorSize
            }
          }
        }
      }
      JournalInfo(pageSize, dbPages,
        overrides.filter(_._1 <= dbPages), records, hot = true)
    } finally raf.close()
  }
}
