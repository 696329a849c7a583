package graft.sources

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets
import java.util.zip.GZIPInputStream

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read.PartitionReader
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.elb.ElbSchema

/** DataSource V2 for ELB/ALB access logs: `spark.read.format("elb")
  * .load(glob)` scans `.gz` (or plain) log files and emits the 29
  * positional raw fields plus `log_source_file` — the same frame as
  * `ElbParser.readRaw → tokenize` (ElbSourceSpec pins byte equality,
  * edge lines included), but as a first-class source on the shared
  * [[FileRecordSource]] scaffold:
  *
  *  - **Column pruning reaches the reader**, which materializes ONLY
  *    the requested fields from each line (the tokenizer still scans
  *    the line once — it must find separators — but per-field string
  *    allocation and row width drop to the projection, and `ReadSchema`
  *    in the plan shows the truth).
  *  - **Pushed predicates** on the 29 raw columns read the token array
  *    by index and drop lines before any row materializes.
  *  - **One partition per file**, the correct split for gzip members
  *    (reference behavior: whole-file streaming; the splittable path
  *    at scale is the q55 zstd landing zone, `elb/Ingest.scala`).
  *
  * The line tokenizer reproduces Spark's `from_csv` quoting semantics
  * for `sep=" " quote='"' escape='\'` EXACTLY — including the dark
  * corners, each pinned by probing the real parser: unquoted fields
  * treat quotes/escapes literally; empty unquoted fields are null,
  * quoted empties are `""`; an unclosed quote consumes the rest of the
  * line with escapes applied; garbage after a closing quote reverts
  * the field to RAW text (quotes kept) up to the next separator; a
  * trailing separator at end-of-line emits nothing.
  */
class ElbDataSource extends FileRecordSource {
  protected def format: FileRecordFormat[_, _] = ElbDataSource
}

object ElbDataSource extends FileRecordFormat[Array[String], Unit] {
  val fileColumn = "log_source_file"
  val shortName = "elb"
  val fullSchema: StructType =
    StructType(ElbSchema.raw.fields :+ StructField(fileColumn, StringType, nullable = false))
  val pushable: Set[String] = ElbSchema.rawColumns.toSet
  def parseOptions(options: CaseInsensitiveStringMap): Unit = ()

  /** Pushed predicates read the token array by raw-column index. */
  def column(name: String): Array[String] => String = {
    val idx = ElbSchema.rawColumns.indexOf(name)
    toks => toks(idx)
  }

  def open(path: String, fieldNames: Array[String], passes: Array[String] => Boolean,
      options: Unit, conf: Configuration): PartitionReader[InternalRow] =
    new ElbPartitionReader(path, fieldNames, passes, conf)
}

/** Streams one log file; emits only the required fields, dropping rows
  * that fail a pushed filter before any row materializes.
  */
class ElbPartitionReader(pathStr: String, fieldNames: Array[String],
    passes: Array[String] => Boolean, conf: Configuration)
    extends PartitionReader[InternalRow] {

  // required-field → raw-column index; -1 = the file-path column
  private val fieldIdx: Array[Int] =
    fieldNames.map(n => ElbSchema.rawColumns.indexOf(n))
  private val pathUtf8 = UTF8String.fromString(pathStr)

  private lazy val reader: BufferedReader = {
    val hp = new Path(pathStr)
    val fs = hp.getFileSystem(conf)
    val raw = fs.open(hp)
    val in = if (pathStr.endsWith(".gz")) new GZIPInputStream(raw) else raw
    new BufferedReader(new InputStreamReader(in, StandardCharsets.UTF_8))
  }

  private var current: InternalRow = _

  override def next(): Boolean = {
    var line = reader.readLine()
    while (line != null) {
      val toks = ElbLineTokenizer.splitLine(line, ElbSchema.rawColumns.length)
      if (passes(toks)) {
        val vals = new Array[Any](fieldIdx.length)
        var i = 0
        while (i < fieldIdx.length) {
          val idx = fieldIdx(i)
          vals(i) =
            if (idx < 0) pathUtf8
            else if (toks(idx) == null) null
            else UTF8String.fromString(toks(idx))
          i += 1
        }
        current = new GenericInternalRow(vals)
        return true
      }
      line = reader.readLine()
    }
    false
  }
  override def get(): InternalRow = current
  override def close(): Unit = reader.close()
}

/** `from_csv(sep=" ", quote='"', escape='\')` quoting semantics as a
  * single JVM pass (see [[ElbDataSource]] scaladoc for the pinned
  * rule set). Returns a fixed-width array; absent tail fields null.
  */
object ElbLineTokenizer {
  def splitLine(line: String, width: Int): Array[String] = {
    val out = new ArrayBuffer[String](width)
    val n = line.length
    var i = 0
    while (i < n && out.length < width) {
      if (line.charAt(i) == '"') {
        val qstart = i
        i += 1
        val sb = new java.lang.StringBuilder
        var closed = false
        while (i < n && !closed) {
          val c = line.charAt(i)
          if (c == '\\' && i + 1 < n &&
              (line.charAt(i + 1) == '"' || line.charAt(i + 1) == '\\')) {
            sb.append(line.charAt(i + 1)); i += 2
          } else if (c == '"') { closed = true; i += 1 }
          else { sb.append(c); i += 1 }
        }
        if (!closed) {
          // unclosed quote: rest of line, escapes already applied
          out += sb.toString; i = n
        } else if (i >= n) { out += sb.toString }
        else if (line.charAt(i) == ' ') { out += sb.toString; i += 1 }
        else {
          // garbage after the closing quote: revert to RAW text (quotes
          // kept) from the original field start to the next separator
          val j = line.indexOf(' ', i)
          if (j < 0) { out += line.substring(qstart); i = n }
          else { out += line.substring(qstart, j); i = j + 1 }
        }
      } else {
        val j = line.indexOf(' ', i)
        val end = if (j < 0) n else j
        val f = line.substring(i, end)
        out += (if (f.isEmpty) null else f)
        i = end + 1
      }
    }
    val res = new Array[String](width)
    var k = 0
    while (k < out.length && k < width) { res(k) = out(k); k += 1 }
    res
  }
}
