package graft.sources

import java.io.{BufferedInputStream, EOFException, InputStream}
import java.nio.ByteBuffer
import java.nio.charset.{CharacterCodingException, CodingErrorAction, StandardCharsets}
import java.util.zip.{GZIPInputStream, ZipException, ZipInputStream}

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 for plain-text-in-container corpora — the non-crawl
  * corpus entry format next to [[WarcDataSource]] (books/code/docs
  * dumps ship as `.tar.gz` or `.zip` archives of `.txt`/`.md` members;
  * full PDF parsing is out of JDK-only scope — see ARCHITECTURE.md —
  * so text-in-archive is the leg this source covers).
  * `spark.read.format("textarchive").load(glob)` walks each archive's
  * members and emits one row per regular-file member.
  *
  * Container walk: `.zip` through the JDK `ZipInputStream`; `.tar` /
  * `.tar.gz` / `.tgz` through a minimal ustar block walker (512-byte
  * headers, octal size/mtime, checksum verified with the checksum
  * field blanked, payload padded to the block boundary; GNU/pax
  * special members — typeflags `x`/`g`/`L`/`5` — have their payloads
  * skipped and emit no row). End of tar = a zero block (the canonical
  * two-zero-block trailer, or one + EOF), or a clean EOF at a block
  * boundary (trailer-less tars end without a row); EOF mid-block is a
  * torn header and quarantines.
  *
  * Error model (the [[WarcDataSource]] quarantine discipline): a
  * member the walk cannot trust — tar header checksum mismatch,
  * non-octal size, payload truncated by EOF, declared size above
  * `maxPayload`, or a zip stream error — becomes ONE row with
  * `ok=false` and a named `error`, never an exception and never a
  * silent drop. After a corrupt tar HEADER the reader resyncs by
  * scanning forward block-by-block for the next checksum-valid header
  * (later members still surface — spec-proven); a corrupt zip stream
  * cannot be resynced through `ZipInputStream`, so it quarantines once
  * and ends the file. Member text decodes as UTF-8 with replacement
  * (the JDK text-source semantics): mojibake is a downstream QUALITY
  * concern ([[graft.ops.Cleaning.charEntropy]] / `scriptMix`), not a
  * structural one, which keeps `ok` independent of which columns a
  * query projects.
  *
  * Scale shape, from the shared [[FileRecordSource]] scaffold plus the
  * one planner override:
  *  - **tars: one partition per archive** (a tar stream has no
  *    directory and cannot split mid-stream; corpus dumps ship as many
  *    archives, so file count is the parallelism there),
  *  - **zips: SPLITTABLE via the central directory** (round 15) — batch
  *    scans plan member-range partitions from the directory's
  *    local-header offsets ([[TextArchiveDataSource.planBatch]]),
  *    so one large zip parallelizes across executors and pushed member
  *    predicates prune at PLAN time; `zipcd=false` restores the forward
  *    walk, which also remains the fallback for directories the parse
  *    rejects and the streaming path's shape,
  *  - **column pruning reaches the reader** — a pruned-out `text`
  *    turns payload reads into skips, so a member-listing scan never
  *    allocates content,
  *  - **member-predicate pushdown** (`member_path`, `ext` equality /
  *    prefix / contains / in) skips payloads of non-matching members:
  *    `ext = 'txt'` never reads the `.json` sidecars' bytes,
  *  - a `maxPayload` option (default 64 MiB, clamped below 2 GiB)
  *    quarantines rather than buffers members whose declared size a
  *    scan should not trust.
  */
class TextArchiveDataSource extends FileRecordSource {
  protected def format: FileRecordFormat[_, _] = TextArchiveDataSource
}

/** Parsed read options: `maxpayload` (clamped), `zipcd` (default true;
  * `false` forces the forward stream walk for zips — the pre-round-15
  * behavior, kept for parity pinning and for archives whose directories
  * are known-hostile) and `zipsplitbytes` (compressed bytes per
  * CD-planned partition).
  */
case class TextArchiveOptions(maxPayload: Long, zipCd: Boolean, zipSplitBytes: Long)

object TextArchiveDataSource extends FileRecordFormat[ArchiveMember, TextArchiveOptions] {
  val fileColumn = "archive_source_file"
  val shortName = "textarchive"
  /** Compressed payload bytes per CD-planned zip partition — the
    * `maxPartitionBytes` analog for the container leg.
    */
  val defaultZipSplitBytes: Long = 128L * 1024 * 1024

  val fullSchema: StructType = StructType(Seq(
    StructField("member_path", StringType),
    StructField("ext", StringType),
    StructField("size_bytes", LongType),
    StructField("mtime_ms", LongType),
    StructField("text", StringType),
    StructField("ok", BooleanType, nullable = false),
    StructField("error", StringType),
    StructField(fileColumn, StringType, nullable = false)))

  /** Member-metadata columns a predicate may be pushed on. */
  val pushable: Set[String] = Set("member_path", "ext")

  def parseOptions(options: CaseInsensitiveStringMap): TextArchiveOptions =
    TextArchiveOptions(FileRecordSource.maxPayload(options),
      Option(options.get("zipcd")).forall(_.toBoolean),
      Option(options.get("zipsplitbytes")).map(_.toLong)
        .getOrElse(defaultZipSplitBytes).max(1L))

  def column(name: String): ArchiveMember => String = name match {
    case "member_path" => _.memberPath
    case "ext" => _.ext
  }

  def open(path: String, fieldNames: Array[String], passes: ArchiveMember => Boolean,
      options: TextArchiveOptions, conf: Configuration): PartitionReader[InternalRow] =
    new TextArchivePartitionReader(path, fieldNames, passes, options.maxPayload, conf)

  override def reader(partition: InputPartition, fieldNames: Array[String],
      passes: ArchiveMember => Boolean, options: TextArchiveOptions,
      conf: Configuration): PartitionReader[InternalRow] = partition match {
    case ZipMemberRangePartition(path, offsets) =>
      new ZipMembersPartitionReader(path, offsets, fieldNames, passes,
        options.maxPayload, conf)
    case p => super.reader(p, fieldNames, passes, options, conf)
  }

  /** Batch planning (round 15): `.zip` files plan from their CENTRAL
    * DIRECTORY — one tail read per zip (the [[ZipCentralDirectory]]
    * cost model: KBs–MBs regardless of archive size) yields every
    * member's local-header offset, so
    *  - a single large zip SPLITS into member-range partitions of
    *    ~`zipSplitBytes` compressed payload each (the forward walk's
    *    one-partition-per-archive ceiling only still applies to tars,
    *    whose stream has no directory),
    *  - pushed member predicates prune AT PLAN TIME: an `ext='txt'`
    *    scan never seeks to a `.md` member's local header at all, and a
    *    zip with no matching members plans ZERO partitions,
    *  - a zip whose directory is missing/torn/zip64 falls back to the
    *    forward stream walk (pre-round-15 behavior, quarantine rules
    *    intact).
    * Tars and the fallback keep one partition per archive. The CD
    * parses fan out on a bounded driver-side thread pool — the parquet-
    * footer-listing analogy, thousands of files stay sub-second.
    * Micro-batch streams keep the shared one-partition-per-file plan.
    */
  override def planBatch(files: Seq[String], passes: ArchiveMember => Boolean,
      options: TextArchiveOptions, conf: Configuration): Array[InputPartition] = {
    def planFile(f: String): Seq[InputPartition] =
      if (!options.zipCd || !f.toLowerCase.endsWith(".zip")) Seq(FileRecordPartition(f))
      else {
        val hp = new org.apache.hadoop.fs.Path(f)
        val fs = hp.getFileSystem(conf)
        // streaming visitor (a 20M-member directory never materializes):
        // kept members group incrementally in directory order — which is
        // ascending local-header offset for every common writer; each
        // group sorts its own offsets so the reader seeks forward even
        // on a reordered directory
        val groups = scala.collection.mutable.ArrayBuffer.empty[InputPartition]
        val cur = scala.collection.mutable.ArrayBuffer.empty[Long]
        var bytes = 0L
        def flush(): Unit = if (cur.nonEmpty) {
          groups += ZipMemberRangePartition(f, cur.toArray.sorted)
          cur.clear(); bytes = 0L
        }
        val parsed =
          try ZipCentralDirectory.visit(fs, hp, fs.getFileStatus(hp).getLen) { e =>
            if (!e.isDirectory && passes(ArchiveMember(e.name,
                extOf(e.name), null, null, null, ok = true, null))) {
              if (cur.nonEmpty && bytes + e.compressedSize > options.zipSplitBytes) flush()
              cur += e.locOffset
              bytes += e.compressedSize + 64 // + per-member header overhead
            }
          }
          catch { case scala.util.control.NonFatal(e) =>
            Left(s"central directory unreadable: ${e.getMessage}") }
        parsed match {
          case Left(_) => Seq(FileRecordPartition(f)) // forward-walk fallback
          case Right(_) =>
            flush()
            groups.toSeq
        }
      }
    // bounded parallel CD reads; result order stays the listing order
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(files.size, 8)))
    try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      val futs = files.map(f => scala.concurrent.Future(planFile(f)))
      scala.concurrent.Await.result(
        scala.concurrent.Future.sequence(futs),
        scala.concurrent.duration.Duration.Inf).flatten.toArray
    } finally pool.shutdown()
  }

  /** Lowercased extension of the member BASENAME (null when none). */
  def extOf(path: String): String = {
    if (path == null) return null
    val base = path.substring(path.lastIndexOf('/') + 1)
    val dot = base.lastIndexOf('.')
    if (dot <= 0 || dot == base.length - 1) null
    else base.substring(dot + 1).toLowerCase
  }
}

/** CD-planned member range of one zip: the local-header offsets this
  * partition reads (compact — names/sizes are re-read from each LOC so
  * the emitted rows share the JDK parse with the forward walk).
  */
case class ZipMemberRangePartition(path: String, locOffsets: Array[Long])
    extends InputPartition

/** One member row (or quarantine row) of the archive walk. */
private[sources] case class ArchiveMember(
    memberPath: String, ext: String, sizeBytes: java.lang.Long,
    mtimeMs: java.lang.Long, text: String, ok: Boolean, error: String)

/** Shared walker contract; `wantText=false` turns payload reads into
  * skips; `passes` is the pushed member predicate (checked before any
  * payload byte is read).
  */
private[sources] trait ArchiveWalker {
  def nextMember(): ArchiveMember
  def close(): Unit
}

private[sources] object ArchiveWalker {
  /** Lossy UTF-8 decode (replacement chars) — see source scaladoc. */
  def decodeText(bytes: Array[Byte]): String = {
    val dec = StandardCharsets.UTF_8.newDecoder()
      .onMalformedInput(CodingErrorAction.REPLACE)
      .onUnmappableCharacter(CodingErrorAction.REPLACE)
    try dec.decode(ByteBuffer.wrap(bytes)).toString
    catch { case _: CharacterCodingException => // unreachable with REPLACE
      new String(bytes, StandardCharsets.UTF_8) }
  }

  /** Projected-fields row build, shared by both partition readers. */
  def buildRow(m: ArchiveMember, fieldNames: Array[String],
      pathUtf8: UTF8String): InternalRow = {
    val vals = new Array[Any](fieldNames.length)
    var i = 0
    while (i < fieldNames.length) {
      vals(i) = fieldNames(i) match {
        case "member_path" => if (m.memberPath == null) null else UTF8String.fromString(m.memberPath)
        case "ext" => if (m.ext == null) null else UTF8String.fromString(m.ext)
        case "size_bytes" => m.sizeBytes
        case "mtime_ms" => m.mtimeMs
        case "text" => if (m.text == null) null else UTF8String.fromString(m.text)
        case "ok" => m.ok
        case "error" => if (m.error == null) null else UTF8String.fromString(m.error)
        case TextArchiveDataSource.fileColumn => pathUtf8
        case other => throw new IllegalStateException(s"unknown field $other")
      }
      i += 1
    }
    new GenericInternalRow(vals)
  }
}

/** Close-shield: lets a per-member `ZipInputStream` be closed (freeing
  * its native `Inflater`) without closing the shared seekable file
  * stream underneath.
  */
private[sources] class NonClosingInputStream(in: InputStream)
    extends java.io.FilterInputStream(in) {
  override def close(): Unit = ()
}

/** Minimal ustar walker; see [[TextArchiveDataSource]] for the format
  * subset and the resync rule.
  */
private[sources] class TarWalker(in: InputStream, wantText: Boolean,
    maxPayload: Long, passes: ArchiveMember => Boolean) extends ArchiveWalker {

  private val buf = new BufferedInputStream(in, 1 << 16)
  private var exhausted = false

  /** @return 512 for a full block, 0 on clean EOF before any byte,
    * -1 on a torn block (EOF mid-block). Distinguishing 0 from -1 keeps
    * a trailer-less tar (EOF at a block boundary) a clean end rather
    * than a stale-buffer re-read, and makes a torn header a quarantine.
    */
  private def readBlock(block: Array[Byte]): Int = {
    var off = 0
    while (off < 512) {
      val n = buf.read(block, off, 512 - off)
      if (n < 0) return if (off == 0) 0 else -1
      off += n
    }
    512
  }

  private def isZero(b: Array[Byte]): Boolean = {
    var i = 0
    while (i < 512) { if (b(i) != 0) return false; i += 1 }
    true
  }

  /** Octal field parse: leading spaces/NULs tolerated, digit run,
    * space/NUL terminated. -1 on malformed.
    */
  private def octal(b: Array[Byte], off: Int, len: Int): Long = {
    var i = off
    val end = off + len
    while (i < end && (b(i) == ' ' || b(i) == 0)) i += 1
    if (i == end) return -1L
    var v = 0L
    var any = false
    while (i < end && b(i) >= '0' && b(i) <= '7') { v = v * 8 + (b(i) - '0'); i += 1; any = true }
    while (i < end && (b(i) == ' ' || b(i) == 0)) i += 1
    if (!any || i != end) -1L else v
  }

  private def cstr(b: Array[Byte], off: Int, len: Int): String = {
    var end = off
    val max = off + len
    while (end < max && b(end) != 0) end += 1
    new String(b, off, end - off, StandardCharsets.UTF_8)
  }

  /** Checksum with the chksum field (148..155) treated as spaces. */
  private def checksum(b: Array[Byte]): Long = {
    var s = 0L
    var i = 0
    while (i < 512) {
      s += (if (i >= 148 && i < 156) ' '.toLong else (b(i) & 0xff).toLong)
      i += 1
    }
    s
  }

  private def headerValid(b: Array[Byte]): Boolean =
    b(0) != 0 && octal(b, 148, 8) == checksum(b)

  private def quarantine(err: String): ArchiveMember =
    ArchiveMember(null, null, null, null, null, ok = false, err)

  private val block = new Array[Byte](512)

  private def skipPayload(size: Long): Boolean = {
    val padded = ((size + 511) / 512) * 512
    try { buf.skipNBytes(padded); true } catch { case _: EOFException => false }
  }

  /** Scan forward block-by-block for the next checksum-valid header;
    * leaves it in `pendingHeader` for the next readOne.
    */
  private var pendingHeader = false
  private def resync(): Unit = {
    while (readBlock(block) == 512) {
      if (isZero(block)) { exhausted = true; return }
      if (headerValid(block)) { pendingHeader = true; return }
    }
    exhausted = true
  }

  def nextMember(): ArchiveMember = {
    while (!exhausted) {
      val m = try readOne() catch {
        case e: java.io.IOException =>
          exhausted = true
          quarantine(s"archive read error: ${e.getMessage}")
      }
      m match {
        case null => if (exhausted) return null // EOF trailer
        case r if passes(r) => return r
        case _ => () // pushed predicate rejected pre-payload; keep walking
      }
    }
    null
  }

  /** @return null on clean EOF or a skipped special member; quarantine
    * on failure.
    */
  private def readOne(): ArchiveMember = {
    if (!pendingHeader) {
      readBlock(block) match {
        case 0 => exhausted = true; return null // clean EOF (trailer-less tar)
        case -1 =>
          exhausted = true
          return quarantine("torn tar header: EOF mid-block")
        case _ => ()
      }
      if (isZero(block)) { exhausted = true; return null }
    } else pendingHeader = false
    if (!headerValid(block)) {
      val name = cstr(block, 0, 100).take(40)
      resync()
      return quarantine(s"corrupt tar header (checksum): $name")
    }
    val name = {
      val prefix = cstr(block, 345, 155)
      val base = cstr(block, 0, 100)
      if (prefix.isEmpty) base else s"$prefix/$base"
    }
    val size = octal(block, 124, 12)
    val mtimeSec = octal(block, 136, 12)
    val typeflag = block(156)
    if (size < 0) {
      resync()
      return quarantine(s"invalid tar size field: ${name.take(40)}")
    }
    // non-regular members (dirs, pax/GNU extensions): skip payload, no row
    if (typeflag != 0 && typeflag != '0') {
      if (!skipPayload(size)) exhausted = true
      return ArchiveMember(null, null, null, null, null, ok = true, null) // sentinel, fails any IsNotNull…
    }
    val m = ArchiveMember(name, TextArchiveDataSource.extOf(name),
      java.lang.Long.valueOf(size),
      if (mtimeSec < 0) null else java.lang.Long.valueOf(mtimeSec * 1000L),
      null, ok = true, null)
    if (size > maxPayload) {
      if (!skipPayload(size)) exhausted = true
      return m.copy(text = null, ok = false,
        error = s"member exceeds maxPayload cap: $size")
    }
    if (!wantText || !passes(m)) {
      // pruned-out or predicate-rejected payloads are skipped, never read
      if (!skipPayload(size)) {
        exhausted = true
        return m.copy(ok = false, error = s"truncated member: EOF inside $size bytes")
      }
      m
    } else {
      val bytes = new Array[Byte](size.toInt)
      var off = 0
      while (off < size) {
        val n = buf.read(bytes, off, size.toInt - off)
        if (n < 0) {
          exhausted = true
          return m.copy(ok = false,
            error = s"truncated member: got $off of $size bytes")
        }
        off += n
      }
      val pad = ((size + 511) / 512) * 512 - size
      if (pad > 0 && !skipFully(pad)) exhausted = true
      m.copy(text = ArchiveWalker.decodeText(bytes))
    }
  }

  private def skipFully(n: Long): Boolean =
    try { buf.skipNBytes(n); true } catch { case _: EOFException => false }

  def close(): Unit = buf.close()
}

/** JDK ZipInputStream walk; a stream error (e.g. an entry CRC mismatch)
  * quarantines once and ends the file (zip local headers cannot be
  * safely resynced mid-stream). One streaming-reader limitation, spec-
  * pinned: a corrupted local-header SIGNATURE is indistinguishable from
  * the central-directory end marker (the JDK returns null for any
  * non-LOC signature), so members after it end the walk without a
  * quarantine row — detecting that case needs a central-directory
  * audit, which a forward-only stream cannot do: that audit exists as
  * [[ArchiveAudit.zipFsck]] (q398), which catches exactly this lie.
  */
private[sources] class ZipWalker(in: InputStream, wantText: Boolean,
    maxPayload: Long, passes: ArchiveMember => Boolean) extends ArchiveWalker {

  private val zin = new ZipInputStream(new BufferedInputStream(in, 1 << 16),
    StandardCharsets.UTF_8)
  private var exhausted = false

  def nextMember(): ArchiveMember = {
    while (!exhausted) {
      val m = try {
        val e = zin.getNextEntry
        if (e == null) { exhausted = true; null }
        else ZipEntryReading.readEntry(zin, e, wantText, maxPayload, passes,
          drainEntry = true) // forward walk must stay positioned at the next LOC
      } catch {
        case e: ZipException =>
          exhausted = true
          ArchiveMember(null, null, null, null, null, ok = false,
            s"zip stream error: ${e.getMessage}")
        case e: java.io.IOException =>
          exhausted = true
          ArchiveMember(null, null, null, null, null, ok = false,
            s"archive read error: ${e.getMessage}")
      }
      m match {
        case null => return null
        case r if r.memberPath == null && r.ok => () // dir entry: no row
        case r if passes(r) => return r
        case _ => ()
      }
    }
    null
  }

  def close(): Unit = zin.close()
}

/** One zip entry's row logic, shared verbatim by the forward
  * [[ZipWalker]] and the CD-driven [[ZipMembersPartitionReader]] — the
  * JDK `ZipInputStream` does the LOC parse / extended-timestamp mtime /
  * inflation / CRC verification in both, so the two read paths emit
  * bit-identical rows on healthy members.
  *
  * `drainEntry`: the forward walk must drain a skipped entry to stay
  * positioned at the next local header (`closeEntry`, which also
  * CRC-checks what it drains); the CD-driven reader re-seeks per member
  * from the directory offsets, so skipped payloads cost ZERO reads
  * there (the `ext='txt'`-never-touches-`.md`-bytes contract, now with
  * no drain either).
  */
private[sources] object ZipEntryReading {
  def readEntry(zin: ZipInputStream, e: java.util.zip.ZipEntry,
      wantText: Boolean, maxPayload: Long, passes: ArchiveMember => Boolean,
      drainEntry: Boolean): ArchiveMember = {
    if (e.isDirectory)
      return ArchiveMember(null, null, null, null, null, ok = true, null)
    val name = e.getName
    val mt = e.getLastModifiedTime
    val m0 = ArchiveMember(name, TextArchiveDataSource.extOf(name),
      if (e.getSize >= 0) java.lang.Long.valueOf(e.getSize) else null,
      if (mt == null) null else java.lang.Long.valueOf(mt.toMillis),
      null, ok = true, null)
    if (m0.sizeBytes != null && m0.sizeBytes > maxPayload) {
      if (drainEntry) zin.closeEntry()
      m0.copy(ok = false,
        error = s"member exceeds maxPayload cap: ${m0.sizeBytes}")
    } else if (!wantText || !passes(m0)) {
      if (drainEntry) zin.closeEntry() // payload skipped, never materialized
      m0
    } else {
      val bytes = zin.readNBytes((maxPayload + 1).min(Int.MaxValue.toLong).toInt)
      if (bytes.length > maxPayload) {
        if (drainEntry) zin.closeEntry()
        m0.copy(ok = false,
          error = s"member exceeds maxPayload cap: streamed ${bytes.length}")
      } else {
        val sz: java.lang.Long =
          if (m0.sizeBytes != null) m0.sizeBytes
          else java.lang.Long.valueOf(bytes.length.toLong)
        m0.copy(sizeBytes = sz, text = ArchiveWalker.decodeText(bytes))
      }
    }
  }
}

/** Emits only required fields; text is skipped (never allocated) when
  * pruned out, and members failing a pushed predicate never read their
  * payload.
  */
class TextArchivePartitionReader(pathStr: String, fieldNames: Array[String],
    passes: ArchiveMember => Boolean, maxPayload: Long, conf: Configuration)
    extends PartitionReader[InternalRow] {

  private val pathUtf8 = UTF8String.fromString(pathStr)
  private val wantText = fieldNames.contains("text")

  private lazy val walker: ArchiveWalker = {
    val hp = new org.apache.hadoop.fs.Path(pathStr)
    val fs = hp.getFileSystem(conf)
    val raw = fs.open(hp)
    val lower = pathStr.toLowerCase
    if (lower.endsWith(".zip"))
      new ZipWalker(raw, wantText, maxPayload, passes)
    else {
      val in: InputStream =
        if (lower.endsWith(".gz") || lower.endsWith(".tgz"))
          new GZIPInputStream(raw, 1 << 16)
        else raw
      new TarWalker(in, wantText, maxPayload, passes)
    }
  }

  private var current: InternalRow = _

  override def next(): Boolean = {
    var m = walker.nextMember()
    // the tar walker's skipped-special sentinel (no path, ok, no error)
    while (m != null && m.ok && m.memberPath == null && m.error == null) m = walker.nextMember()
    if (m == null) return false
    current = ArchiveWalker.buildRow(m, fieldNames, pathUtf8)
    true
  }
  override def get(): InternalRow = current
  override def close(): Unit = walker.close()
}

/** CD-driven zip member reader: seeks to each planned local-header
  * offset and reads ONE entry through a fresh per-member
  * `ZipInputStream` over a close-shielded view of the shared file
  * stream — identical JDK parse/inflate/CRC semantics to the forward
  * walk, plus the capabilities the stream walk cannot have:
  *  - members AFTER a corrupt entry still surface (each read starts
  *    from its own directory offset),
  *  - a corrupted local-header SIGNATURE — the forward walk's
  *    documented blind spot, indistinguishable from end-of-stream —
  *    becomes a NAMED quarantine row here, because the central
  *    directory said a member lives at that offset,
  *  - payload-skipped members (pruned `text`, runtime predicate miss)
  *    cost zero payload reads AND zero drain (the forward walk must
  *    drain to stay positioned).
  */
class ZipMembersPartitionReader(pathStr: String, locOffsets: Array[Long],
    fieldNames: Array[String], passes: ArchiveMember => Boolean, maxPayload: Long,
    conf: Configuration) extends PartitionReader[InternalRow] {

  private val pathUtf8 = UTF8String.fromString(pathStr)
  private val wantText = fieldNames.contains("text")

  private var fsInOpened = false
  private lazy val fsIn = {
    val hp = new org.apache.hadoop.fs.Path(pathStr)
    val in = hp.getFileSystem(conf).open(hp)
    fsInOpened = true
    in
  }

  private def readAt(off: Long): ArchiveMember = {
    var zin: ZipInputStream = null
    try {
      fsIn.seek(off)
      zin = new ZipInputStream(
        new BufferedInputStream(new NonClosingInputStream(fsIn), 8192),
        StandardCharsets.UTF_8)
      val e = zin.getNextEntry
      if (e == null)
        ArchiveMember(null, null, null, null, null, ok = false,
          s"corrupt zip local header at offset $off: member named by central directory")
      else ZipEntryReading.readEntry(zin, e, wantText, maxPayload, passes,
        drainEntry = false) // re-seek per member: no drain needed
    } catch {
      case e: ZipException =>
        ArchiveMember(null, null, null, null, null, ok = false,
          s"zip stream error: ${e.getMessage}")
      case e: java.io.IOException =>
        ArchiveMember(null, null, null, null, null, ok = false,
          s"archive read error: ${e.getMessage}")
    } finally if (zin != null) zin.close() // shielded: frees the Inflater only
  }

  private var idx = 0
  private var current: InternalRow = _

  override def next(): Boolean = {
    while (idx < locOffsets.length) {
      val m = readAt(locOffsets(idx))
      idx += 1
      // dir-entry sentinel can't arise (dirs are plan-time filtered) but
      // the guard keeps the two readers' row laws identical
      val isSentinel = m.ok && m.memberPath == null && m.error == null
      if (!isSentinel && passes(m)) {
        current = ArchiveWalker.buildRow(m, fieldNames, pathUtf8)
        return true
      }
    }
    false
  }
  override def get(): InternalRow = current
  // guard: closing a never-opened lazy stream must not open the file
  override def close(): Unit = if (fsInOpened) fsIn.close()
}
