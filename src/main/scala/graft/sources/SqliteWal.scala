package graft.sources

import SqliteFile.be

/** Reader for SQLite's write-ahead-log FILE FORMAT (round 13 —
  * https://www.sqlite.org/fileformat2.html §4, "WAL File Format"):
  * replays the COMMITTED frame prefix of a `-wal` sibling so
  * [[SqliteFile]] can read the most common live-database state —
  * journal_mode=WAL with an un-checkpointed log (the state the
  * reference's own home-assistant example ships in, main.py:140) —
  * instead of refusing it.
  *
  * Format: a 32-byte header (magic 0x377f0682/3 — the low bit selects
  * little/big-endian CHECKSUM word order; format version 3007000;
  * page size; checkpoint sequence; salt-1/salt-2; header checksum),
  * then frames of 24-byte header (page number, commit size, salt-1,
  * salt-2, checksum-1, checksum-2) + one page of content.
  *
  * Validity is exactly sqlite's own recovery rule (no `-shm` needed —
  * recovery never trusts it): a frame is valid iff its salts equal
  * the header's AND the CUMULATIVE checksum (s0 += x2i + s1;
  * s1 += x2i+1 + s0 over 32-bit words, seeded by the header bytes
  * 0-23, extended by each frame's first 8 header bytes + page
  * content) matches; valid frames form a prefix; only frames up to
  * the LAST COMMIT frame (nonzero commit size) apply. Stale frames
  * from an earlier checkpoint cycle (salt mismatch), torn tails
  * (checksum mismatch / partial frame), and uncommitted transactions
  * (valid frames after the last commit) are all IGNORED — the same
  * cut sqlite makes.
  *
  * The page-override map keeps the LAST committed frame per page; the
  * commit size of the last commit frame is the authoritative database
  * page count (the main file's size can lag behind appended pages, or
  * run ahead of a committed truncation).
  *
  * Loud refusals (conservative, named): truncated/bad-magic header,
  * unknown format version, invalid page size, and a header whose OWN
  * checksum fails — sqlite's recovery would treat that last one as
  * "wal empty", but silently dropping a log that plainly has content
  * is a staleness hazard for an ETL reader, so we refuse and name the
  * fix (let sqlite recover the file).
  */
object SqliteWal {

  /** pageSize from the wal header; dbPages = commit size of the last
    * commit frame (0 when no committed frames); overrides = page
    * number → byte offset of that page's content in the wal file;
    * frames = complete frames present; committed = frames applied.
    */
  final case class WalInfo(pageSize: Int, dbPages: Int,
                           overrides: Map[Int, Long],
                           frames: Int, committed: Int)

  /** One cumulative checksum step over n bytes (n % 8 == 0): word
    * pairs in the byte order the wal magic selected, mod 2^32.
    */
  private def cksum(s0in: Long, s1in: Long, b: Array[Byte], off: Int,
                    n: Int, bigEndian: Boolean): (Long, Long) = {
    var s0 = s0in; var s1 = s1in; var i = off
    def word(o: Int): Long =
      if (bigEndian) be(b, o, 4)
      else ((b(o) & 0xffL)) | ((b(o + 1) & 0xffL) << 8) |
        ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
    while (i < off + n) {
      s0 = (s0 + word(i) + s1) & 0xffffffffL
      s1 = (s1 + word(i + 4) + s0) & 0xffffffffL
      i += 8
    }
    (s0, s1)
  }

  /** Parse + validate a wal file; returns the committed-prefix page
    * overrides. Never writes; never reads `-shm`.
    */
  def parse(walPath: String): WalInfo = {
    val raf = new java.io.RandomAccessFile(walPath, "r")
    try {
      val len = raf.length()
      require(len >= 32,
        s"$walPath: truncated wal header ($len bytes < 32) - " +
          "unreadable wal; let sqlite recover the database")
      val hdr = new Array[Byte](32)
      raf.readFully(hdr)
      val magic = be(hdr, 0, 4)
      require(magic == 0x377f0682L || magic == 0x377f0683L,
        f"$walPath: bad wal magic 0x$magic%08x - not a SQLite wal file")
      val bigEndianCk = magic == 0x377f0683L
      val version = be(hdr, 4, 4)
      require(version == 3007000L,
        s"$walPath: unsupported wal format version $version " +
          "(only 3007000)")
      val ps = be(hdr, 8, 4).toInt
      require(ps >= 512 && ps <= 65536 && (ps & (ps - 1)) == 0,
        s"$walPath: invalid wal page size $ps")
      val salt1 = be(hdr, 16, 4); val salt2 = be(hdr, 20, 4)
      var (s0, s1) = cksum(0L, 0L, hdr, 0, 24, bigEndianCk)
      require(s0 == be(hdr, 24, 4) && s1 == be(hdr, 28, 4),
        s"$walPath: wal header checksum mismatch - refusing the whole " +
          "log (sqlite recovery would drop it as empty; an ETL reader " +
          "must not silently lose committed frames - let sqlite " +
          "recover the database first)")

      val frameSize = 24L + ps
      val total = ((len - 32) / frameSize).toInt // torn tail bytes ignored
      var overrides = Map.empty[Int, Long]
      var pending = Map.empty[Int, Long]
      var dbPages = 0
      var committed = 0
      var i = 0
      var valid = true
      val fh = new Array[Byte](24)
      val content = new Array[Byte](ps)
      while (i < total && valid) {
        val off = 32L + i * frameSize
        raf.seek(off); raf.readFully(fh)
        if (be(fh, 8, 4) != salt1 || be(fh, 12, 4) != salt2) valid = false
        else {
          val (t0, t1) = cksum(s0, s1, fh, 0, 8, bigEndianCk)
          raf.readFully(content)
          val (u0, u1) = cksum(t0, t1, content, 0, ps, bigEndianCk)
          if (u0 != be(fh, 16, 4) || u1 != be(fh, 20, 4)) valid = false
          else {
            s0 = u0; s1 = u1
            pending += be(fh, 0, 4).toInt -> (off + 24)
            val commitSize = be(fh, 4, 4).toInt
            if (commitSize > 0) { // commit frame: apply the transaction
              overrides ++= pending
              pending = Map.empty
              dbPages = commitSize
              committed = i + 1
            }
            i += 1
          }
        }
      }
      WalInfo(ps, dbPages, overrides, total, committed)
    } finally raf.close()
  }
}
