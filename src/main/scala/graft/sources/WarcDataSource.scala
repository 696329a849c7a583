package graft.sources

import java.io.{BufferedInputStream, ByteArrayOutputStream, EOFException, InputStream}
import java.nio.charset.StandardCharsets
import java.util.zip.GZIPInputStream

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 for WARC/WET web-archive containers (ISO 28500 — the
  * entry format of real web-corpus builds): `spark.read.format("warc")
  * .load(glob)` walks each container's records and emits one row per
  * record. WET files are WARC containers whose `conversion` records
  * carry extracted text, so the same source reads both; the downstream
  * text pipeline (HTML→text, language ID, quality, dedup) starts from
  * this frame.
  *
  * Container walk per record: a `WARC/x.y` version line, CRLF-separated
  * `Name: value` headers (names case-insensitive), a blank line,
  * exactly `Content-Length` payload bytes, then a blank-line record
  * separator. `.gz` containers are read through a multi-member
  * `GZIPInputStream` — Common Crawl compresses each record as its own
  * gzip member for random access, and Java's reader walks concatenated
  * members transparently, so per-record-member and whole-file gzip both
  * work (both variants are in the spec fixtures).
  *
  * Error model (the Multimodal ok=false quarantine discipline): a
  * record the walk cannot trust — non-WARC version line, malformed
  * header, missing/invalid/oversized `Content-Length`, payload
  * truncated by EOF, or a mid-container I/O error — becomes ONE row
  * with `ok=false` and a named `error`, never an exception and never a
  * silent drop; after a structural failure the reader resyncs by
  * scanning for the next `WARC/` version line (best-effort — a payload
  * that itself contains such a line resyncs early, which the
  * separator-tolerant walk absorbs at the next boundary).
  *
  * Scale shape, from the shared [[FileRecordSource]] scaffold:
  *  - **one partition per container file** (gzip members are not
  *    splittable mid-stream; crawl corpora ship as many ~1 GiB
  *    containers, so file count is the parallelism),
  *  - **column pruning reaches the reader** — above all for `payload`:
  *    a pruned-out payload is `skipNBytes`d, never allocated, so
  *    header-only scans stream a 100 TB crawl without touching content,
  *  - **header-predicate pushdown** (`warc_type`, `content_type`,
  *    `target_uri`, `record_id` equality/prefix/contains/in) drops
  *    records BEFORE their payload is read: `warc_type = 'conversion'`
  *    skips request/metadata/response payload bytes entirely.
  *  - a `maxPayload` option (default 64 MiB, clamped below 2 GiB)
  *    quarantines rather than buffers records whose declared length a
  *    scan should not trust.
  */
class WarcDataSource extends FileRecordSource {
  protected def format: FileRecordFormat[_, _] = WarcDataSource
}

object WarcDataSource extends FileRecordFormat[WarcRecord, Long] {
  val fileColumn = "warc_source_file"
  val shortName = "warc"

  val fullSchema: StructType = StructType(Seq(
    StructField("warc_type", StringType),
    StructField("record_id", StringType),
    StructField("target_uri", StringType),
    StructField("warc_date", TimestampType),
    StructField("content_type", StringType),
    StructField("content_length", LongType),
    StructField("payload", BinaryType),
    StructField("ok", BooleanType, nullable = false),
    StructField("error", StringType),
    StructField(fileColumn, StringType, nullable = false)))

  /** Header-string columns a predicate may be pushed on. */
  val pushable: Set[String] =
    Set("warc_type", "record_id", "target_uri", "content_type")

  /** The clamped `maxpayload` cap. */
  def parseOptions(options: CaseInsensitiveStringMap): Long =
    FileRecordSource.maxPayload(options)

  def column(name: String): WarcRecord => String = name match {
    case "warc_type" => _.warcType
    case "record_id" => _.recordId
    case "target_uri" => _.targetUri
    case "content_type" => _.contentType
  }

  def open(path: String, fieldNames: Array[String], passes: WarcRecord => Boolean,
      maxPayload: Long, conf: Configuration): PartitionReader[InternalRow] =
    new WarcPartitionReader(path, fieldNames, passes, maxPayload, conf)
}

/** One parsed record (or quarantine row) of the container walk. */
private[sources] case class WarcRecord(
    warcType: String, recordId: String, targetUri: String,
    dateMicros: java.lang.Long, contentType: String,
    contentLength: java.lang.Long, payload: Array[Byte],
    ok: Boolean, error: String)

/** Streams one container; see [[WarcDataSource]] for the record walk and
  * error model. `wantPayload=false` turns payload reads into skips.
  */
private[sources] class WarcRecordIterator(in: InputStream, wantPayload: Boolean,
    maxPayload: Long, passes: WarcRecord => Boolean) {

  private val buf = new BufferedInputStream(in, 1 << 16)
  private var exhausted = false

  /** One header line, ISO-8859-1 (WARC headers are ASCII), CRLF or LF
    * terminated; null at EOF.
    */
  private def readLine(): String = {
    val out = new ByteArrayOutputStream(64)
    var c = buf.read()
    if (c < 0) return null
    while (c >= 0 && c != '\n') { out.write(c); c = buf.read() }
    val bytes = out.toByteArray
    val n = if (bytes.nonEmpty && bytes(bytes.length - 1) == '\r') bytes.length - 1
      else bytes.length
    new String(bytes, 0, n, StandardCharsets.ISO_8859_1)
  }

  /** Scan forward for the next `WARC/` version line (consumed callers
    * re-read headers from the line AFTER it — so the line itself is
    * returned to become the current record's version line).
    */
  private def resync(): String = {
    var line = readLine()
    while (line != null && !line.startsWith("WARC/")) line = readLine()
    line
  }

  private def parseDateMicros(v: String): java.lang.Long =
    try {
      val inst = java.time.Instant.parse(v)
      java.lang.Long.valueOf(
        inst.toEpochMilli * 1000L + inst.getNano / 1000 % 1000)
    } catch { case _: Exception => null }

  private def quarantine(err: String): WarcRecord =
    WarcRecord(null, null, null, null, null, null, null, ok = false, err)

  /** Next record passing the pushed predicate, or null at end-of-file.
    * Structural failures return a quarantine row (subject to the same
    * predicate — its header fields are whatever was parsed, so a
    * `warc_type = 'conversion'` scan does not surface unrelated
    * corruption rows; an unfiltered audit scan sees them all).
    */
  def nextRecord(): WarcRecord = {
    while (!exhausted) {
      val rec = try readOne() catch {
        case e: java.io.IOException =>
          exhausted = true
          quarantine(s"container read error: ${e.getMessage}")
      }
      rec match {
        case null => return null
        case r if passes(r) => return r
        case _ => () // filtered out pre-payload; keep walking
      }
    }
    null
  }

  /** @return null at clean EOF; a quarantine record on failure. */
  private def readOne(): WarcRecord = {
    // a prior resync consumed the next version line — honor it first,
    // else skip record separators (blank lines) before the version line
    var line =
      if (pendingVersion != null) { val v = pendingVersion; pendingVersion = null; v }
      else readLine()
    while (line != null && line.isEmpty) line = readLine()
    if (line == null) { exhausted = true; return null }
    if (!line.startsWith("WARC/")) {
      val seen = line.take(40)
      val re = resync()
      if (re == null) exhausted = true
      else pendingVersion = re
      return quarantine(s"expected WARC version line, got: $seen")
    }
    readHeadersAndPayload()
  }

  // a resync leaves the found version line here for the next readOne
  private var pendingVersion: String = null

  private def readHeadersAndPayload(): WarcRecord = {
    val headers = scala.collection.mutable.HashMap.empty[String, String]
    var line = readLine()
    while (line != null && line.nonEmpty) {
      val c = line.indexOf(':')
      if (c <= 0) {
        val re = resync()
        if (re == null) exhausted = true else pendingVersion = re
        return quarantine(s"malformed header line: ${line.take(40)}")
      }
      headers.put(line.substring(0, c).trim.toLowerCase,
        line.substring(c + 1).trim)
      line = readLine()
    }
    if (line == null) { exhausted = true
      return quarantine("EOF inside record headers") }

    val lenStr = headers.get("content-length").orNull
    val len = try { if (lenStr == null) -1L else lenStr.toLong }
      catch { case _: NumberFormatException => -1L }
    def hdr(rest: WarcRecord) = rest.copy(
      warcType = headers.get("warc-type").orNull,
      recordId = headers.get("warc-record-id").orNull,
      targetUri = headers.get("warc-target-uri").orNull,
      dateMicros = headers.get("warc-date").map(parseDateMicros).orNull,
      contentType = headers.get("content-type").orNull,
      contentLength = if (len >= 0) java.lang.Long.valueOf(len) else null)

    if (len < 0) {
      val re = resync()
      if (re == null) exhausted = true else pendingVersion = re
      return hdr(quarantine(
        if (lenStr == null) "missing Content-Length"
        else s"invalid Content-Length: ${lenStr.take(20)}"))
    }
    if (len > maxPayload) {
      val skipped = skipFully(len)
      if (!skipped) exhausted = true
      return hdr(quarantine(s"payload exceeds maxPayload cap: $len"))
    }
    // predicate fields are all known now — a rejected record's payload
    // is skipped, not read (nextRecord re-checks `passes` on the result,
    // so this is purely the fast path for materialization)
    if (wantPayload) {
      val payload = new Array[Byte](len.toInt)
      var off = 0
      while (off < len) {
        val n = buf.read(payload, off, len.toInt - off)
        if (n < 0) {
          exhausted = true
          return hdr(quarantine(s"truncated payload: got $off of $len bytes"))
        }
        off += n
      }
      hdr(WarcRecord(null, null, null, null, null, null, payload,
        ok = true, null))
    } else {
      if (!skipFully(len)) {
        exhausted = true
        return hdr(quarantine(s"truncated payload: EOF inside $len bytes"))
      }
      hdr(WarcRecord(null, null, null, null, null, null, null,
        ok = true, null))
    }
  }

  private def skipFully(n: Long): Boolean =
    try { buf.skipNBytes(n); true } catch { case _: EOFException => false }

  def close(): Unit = buf.close()
}

/** Emits only required fields; payload is skipped (never allocated) when
  * pruned out, and records failing a pushed header predicate never read
  * their payload.
  */
class WarcPartitionReader(pathStr: String, fieldNames: Array[String],
    passes: WarcRecord => Boolean, maxPayload: Long, conf: Configuration)
    extends PartitionReader[InternalRow] {

  private val pathUtf8 = UTF8String.fromString(pathStr)
  private val wantPayload = fieldNames.contains("payload")

  private lazy val iter: WarcRecordIterator = {
    val hp = new org.apache.hadoop.fs.Path(pathStr)
    val fs = hp.getFileSystem(conf)
    val raw = fs.open(hp)
    val in: InputStream =
      if (pathStr.endsWith(".gz")) new GZIPInputStream(raw, 1 << 16) else raw
    new WarcRecordIterator(in, wantPayload, maxPayload, passes)
  }

  private var current: InternalRow = _

  override def next(): Boolean = {
    val r = iter.nextRecord()
    if (r == null) return false
    val vals = new Array[Any](fieldNames.length)
    var i = 0
    while (i < fieldNames.length) {
      vals(i) = fieldNames(i) match {
        case "warc_type" => if (r.warcType == null) null else UTF8String.fromString(r.warcType)
        case "record_id" => if (r.recordId == null) null else UTF8String.fromString(r.recordId)
        case "target_uri" => if (r.targetUri == null) null else UTF8String.fromString(r.targetUri)
        case "warc_date" => r.dateMicros
        case "content_type" => if (r.contentType == null) null else UTF8String.fromString(r.contentType)
        case "content_length" => r.contentLength
        case "payload" => r.payload
        case "ok" => r.ok
        case "error" => if (r.error == null) null else UTF8String.fromString(r.error)
        case WarcDataSource.fileColumn => pathUtf8
        case other => throw new IllegalStateException(s"unknown field $other")
      }
      i += 1
    }
    current = new GenericInternalRow(vals)
    true
  }
  override def get(): InternalRow = current
  override def close(): Unit = iter.close()
}
