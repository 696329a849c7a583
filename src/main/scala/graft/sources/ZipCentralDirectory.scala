package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path => HPath}

/** Central-directory parse shared by [[ArchiveAudit.zipFsck]] (the
  * audit) and [[TextArchiveDataSource.planBatch]] (central-directory-driven SPLITTABLE
  * zip reading — round 15). A zip's authoritative member list lives at
  * the END of the file: one EOCD record (backward-scanned through the
  * ≤ 64 KiB comment window) pointing at ~46+name bytes per member, each
  * carrying the member's LOCAL HEADER OFFSET. Parsing it costs
  * kilobytes-to-megabytes of tail reads on any archive size — which is
  * what makes a single 10 GiB zip splittable: the scan plans member
  * RANGES from these offsets instead of forward-walking the stream.
  *
  * zip64 is SUPPORTED (round 15 — any real dump zip is one: the JDK
  * switches formats at 65535 entries or 4 GiB): sentinel fields in the
  * classic EOCD defer to the ZIP64 EOCD record via its locator, and
  * per-member sentinel fields resolve through the 0x0001 extra block.
  *
  * The directory STREAMS through a fixed 4 MiB window (round-15 rev 2):
  * a 20M-member corpus zip carries a ~1.4 GiB central directory, and
  * buffering that per archive — 8 parse in parallel at plan time —
  * would be a driver OOM, so entries are visited as the window slides
  * and callers keep only what they need (the audit a count, the scan
  * the kept offsets). Torn/structurally-lying directories come back as
  * `Left(named error)` — the audit turns that into an `ok=false` row,
  * the scan falls back to the forward stream walk.
  */
private[sources] object ZipCentralDirectory {

  /** One central-directory entry: `name` decides dir-ness and pushdown,
    * `locOffset` is where the member's local header starts,
    * `compressedSize` sizes split planning, `uncompressedSize` is the
    * payload's declared size.
    */
  case class CdEntry(name: String, locOffset: Long, compressedSize: Long,
      uncompressedSize: Long) {
    def isDirectory: Boolean = name.endsWith("/")
  }

  /** Streaming window; one CEN entry is ≤ 46 + 3×65535 B, so 4 MiB
    * always holds at least one complete entry.
    */
  private val windowBytes = 4 << 20

  private def u16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xff) | ((b(off + 1) & 0xff) << 8)
  private def u32(b: Array[Byte], off: Int): Long =
    (b(off) & 0xffL) | ((b(off + 1) & 0xffL) << 8) |
      ((b(off + 2) & 0xffL) << 16) | ((b(off + 3) & 0xffL) << 24)
  private def u64(b: Array[Byte], off: Int): Long =
    u32(b, off) | (u32(b, off + 4) << 32)

  /** Visit every central-directory entry in directory order without
    * materializing the directory; returns the entry count. `Left` is a
    * named error (the audit's spec-pinned strings) — entries already
    * visited before an error must be discarded by the caller.
    */
  def visit(fs: FileSystem, hp: HPath, len: Long)(
      f: CdEntry => Unit): Either[String, Long] = {
    // ——— EOCD search window is the last 22 + 65535 bytes (22-byte
    //     fixed record + max comment)
    val tailLen = math.min(len, 22L + 65535L).toInt
    if (tailLen < 22) return Left("no EOCD: file shorter than a zip end record")
    val tail = new Array[Byte](tailLen)
    val in = fs.open(hp)
    try {
      in.readFully(len - tailLen, tail, 0, tailLen)
      // backward scan: the EOCD whose comment-length field reaches
      // exactly to EOF is the real one (comments can embed the sig)
      var i = tailLen - 22
      var found = -1
      while (i >= 0 && found < 0) {
        if (tail(i) == 0x50 && tail(i + 1) == 0x4b && tail(i + 2) == 0x05 &&
          tail(i + 3) == 0x06 && u16(tail, i + 20) == tailLen - 22 - i) found = i
        i -= 1
      }
      if (found < 0) return Left("no EOCD record in tail window")
      var totalEntries: Long = u16(tail, found + 10).toLong
      var cdSize = u32(tail, found + 12)
      var cdOffset = u32(tail, found + 16)
      if (totalEntries == 0xffffL || cdSize == 0xffffffffL || cdOffset == 0xffffffffL) {
        // zip64: the classic EOCD's sentinel fields defer to a 56-byte
        // ZIP64 EOCD record, located via the 20-byte locator that
        // directly precedes the EOCD
        val locIdx = found - 20
        if (locIdx < 0 || u32(tail, locIdx) != 0x07064b50L)
          return Left("zip64 markers in EOCD but no zip64 locator")
        val z64Off = u64(tail, locIdx + 8)
        if (z64Off < 0 || z64Off + 56 > len)
          return Left("zip64 EOCD offset out of range")
        val z64 = new Array[Byte](56)
        in.readFully(z64Off, z64, 0, 56)
        if (u32(z64, 0) != 0x06064b50L)
          return Left("zip64 EOCD signature mismatch")
        totalEntries = u64(z64, 32)
        cdSize = u64(z64, 40)
        cdOffset = u64(z64, 48)
        if (totalEntries < 0 || cdSize < 0 || cdOffset < 0)
          return Left("zip64 EOCD field out of range")
      }
      if (cdOffset + cdSize > len)
        return Left("central directory extends past EOF")

      // ——— sliding-window entry walk over [cdOffset, cdOffset+cdSize)
      val buf = new Array[Byte](math.min(cdSize, windowBytes.toLong).toInt
        .max(46))
      var filePos = cdOffset // next unread CD byte in the FILE
      val cdEnd = cdOffset + cdSize
      var avail = 0 // valid bytes in buf
      var pos = 0 // parse cursor within buf
      var cdPos = 0L // absolute CD offset of buf(pos) (error reporting)
      var parsed = 0L
      def refill(): Unit = {
        // compact the unconsumed tail, then fill from the file
        if (pos > 0) { System.arraycopy(buf, pos, buf, 0, avail - pos); avail -= pos; pos = 0 }
        // long-side min FIRST: (cdEnd - filePos) can exceed Int range
        // while gigabytes of directory remain, and a raw .toInt there
        // would go negative and starve the refill
        val want = math.min((buf.length - avail).toLong, cdEnd - filePos).toInt
        if (want > 0) {
          in.readFully(filePos, buf, avail, want)
          avail += want
          filePos += want
        }
      }
      refill()
      while (cdPos < cdSize) {
        // ensure the fixed header is in the window
        if (avail - pos < 46 && filePos < cdEnd) refill()
        if (avail - pos < 46)
          return Left("torn central directory entry")
        if (u32(buf, pos) != 0x02014b50L)
          return Left(s"corrupt central directory at offset $cdPos")
        val nameLen = u16(buf, pos + 28)
        val extraLen = u16(buf, pos + 30)
        val cmtLen = u16(buf, pos + 32)
        val entryLen = 46 + nameLen + extraLen + cmtLen
        if (avail - pos < entryLen && filePos < cdEnd) refill()
        if (avail - pos < entryLen)
          return Left("torn central directory entry")
        var csize = u32(buf, pos + 20)
        var usize = u32(buf, pos + 24)
        var locOffset = u32(buf, pos + 42)
        val name = new String(buf, pos + 46, nameLen, StandardCharsets.UTF_8)
        if (csize == 0xffffffffL || usize == 0xffffffffL || locOffset == 0xffffffffL) {
          // per-member zip64: sentinel fields live in the 0x0001 extra
          // block, packed in fixed order (usize, csize, locOffset) with
          // only the sentinel-valued fields present
          var ep = pos + 46 + nameLen
          val eEnd = ep + extraLen
          var z64 = -1
          var z64End = -1
          while (ep + 4 <= eEnd && z64 < 0) {
            val id = u16(buf, ep)
            val sz = u16(buf, ep + 2)
            if (id == 0x0001) { z64 = ep + 4; z64End = math.min(eEnd, ep + 4 + sz) }
            ep += 4 + sz
          }
          if (z64 < 0)
            return Left(s"zip64 sentinel without zip64 extra field: $name")
          var fp = z64
          var torn = false
          def take(): Long =
            if (fp + 8 > z64End) { torn = true; -1L }
            else { val v = u64(buf, fp); fp += 8; v }
          if (usize == 0xffffffffL) usize = take()
          if (csize == 0xffffffffL) csize = take()
          if (locOffset == 0xffffffffL) locOffset = take()
          if (torn) return Left(s"torn zip64 extra field: $name")
          if (csize < 0 || usize < 0 || locOffset < 0)
            return Left(s"zip64 extra field out of range: $name")
        }
        if (locOffset >= len)
          return Left(s"central directory offset past EOF: $name")
        f(CdEntry(name, locOffset, csize, usize))
        parsed += 1
        pos += entryLen
        cdPos += entryLen
      }
      if (parsed != totalEntries)
        return Left(
          s"central directory entry count mismatch: EOCD says $totalEntries, parsed $parsed")
      Right(parsed)
    } finally in.close()
  }

  /** Materialized convenience for small directories (specs, tools). */
  def parse(fs: FileSystem, hp: HPath, len: Long): Either[String, Array[CdEntry]] = {
    val b = Array.newBuilder[CdEntry]
    visit(fs, hp, len)(b += _).map(_ => b.result())
  }
}
