package graft.sources

import java.io.{ObjectInputStream, ObjectOutputStream}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, In, IsNotNull, StringContains, StringStartsWith}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** What one file-record source supplies to the shared DataSource V2
  * scaffold ([[FileRecordSource]]): its short name, full schema,
  * pushable string columns, options parsed once per scan, and a reader
  * that opens ONE file and yields rows. `R` is the record the pushed
  * predicate reads (ELB: the token array; WARC: a [[WarcRecord]];
  * textarchive: an [[ArchiveMember]]), `O` the parsed options. The
  * sources' companion objects implement it; it ships to executors inside
  * the reader factory.
  */
trait FileRecordFormat[R, O] extends Serializable {
  def shortName: String
  def fullSchema: StructType
  /** String columns a predicate may be pushed on. */
  def pushable: Set[String]
  def parseOptions(options: CaseInsensitiveStringMap): O
  /** Accessor for one pushable column, resolved once per reader. */
  def column(name: String): R => String

  /** Streams one file: only `fieldNames` materialize, and records
    * failing `passes` (the compiled pushed predicate) emit no row.
    */
  def open(path: String, fieldNames: Array[String], passes: R => Boolean,
      options: O, conf: Configuration): PartitionReader[InternalRow]

  /** Batch planning: one partition per listed file. Textarchive's zip
    * central-directory planner is the one override.
    */
  def planBatch(files: Seq[String], passes: R => Boolean, options: O,
      conf: Configuration): Array[InputPartition] =
    files.map(FileRecordPartition(_): InputPartition).toArray

  /** Reader for a planned partition; a format that plans its own
    * partition type dispatches it here.
    */
  def reader(partition: InputPartition, fieldNames: Array[String],
      passes: R => Boolean, options: O,
      conf: Configuration): PartitionReader[InternalRow] = partition match {
    case FileRecordPartition(path) => open(path, fieldNames, passes, options, conf)
    case p => throw new IllegalStateException(s"unexpected partition $p")
  }
}

/** The provider half of the scaffold shared by the `elb`, `warc` and
  * `textarchive` sources. `spark.read.format(name).load(glob)` resolves
  * to one [[FileRecordTable]], which owns:
  *  - **one partition per file** of the sorted glob listing (gzip
  *    members are not splittable mid-stream, so file count is the
  *    parallelism; [[FileRecordFormat.planBatch]] may plan finer),
  *  - **column pruning reaching the reader**: the reader gets the
  *    required field names and materializes only those,
  *  - **filter pushdown**: `EqualTo`, `In`, `IsNotNull`,
  *    `StringStartsWith` and `StringContains` on a pushable string
  *    column are evaluated in the reader before a row materializes (a
  *    null value fails every one). Everything accepted is ALSO returned
  *    as a post-scan filter — the standard V2 contract for sources that
  *    cannot guarantee exhaustive application,
  *  - **micro-batch streaming** by file-count offsets over the sorted
  *    listing ([[FileCountOffset]]).
  *
  * Spark's ServiceLoader constructs every registered provider on each
  * `spark.read`, so construction does no work.
  */
abstract class FileRecordSource extends TableProvider with DataSourceRegister {
  protected def format: FileRecordFormat[_, _]
  override def shortName(): String = format.shortName
  override def supportsExternalMetadata(): Boolean = false
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    format.fullSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new FileRecordTable(format,
      FileRecordSource.resolvePaths(properties, format.shortName))
}

object FileRecordSource {
  private val json = new ObjectMapper()

  /** Paths from DSv2 options: `.load(p)` → "path"; `.load(ps: _*)` →
    * "paths", a JSON string array written by Jackson, so read back with
    * it (a path may hold commas or escaped characters).
    */
  private[sources] def resolvePaths(props: java.util.Map[String, String],
      source: String): Seq[String] = {
    val multi = Option(props.get("paths")).toSeq
      .flatMap(js => json.readValue(js, classOf[Array[String]]).toSeq)
    val all = multi ++ Option(props.get("path")).toSeq
    require(all.nonEmpty, s"$source source requires a path")
    all
  }

  /** Driver-side glob expansion, mirroring Spark's file-index rules
    * (skip hidden `_`/`.` files); sorted, so file-count offsets are
    * stable.
    */
  private[sources] def expand(paths: Seq[String], conf: Configuration): Seq[String] = {
    paths.flatMap { p =>
      val hp = new Path(p)
      val fs = hp.getFileSystem(conf)
      val matches: Seq[FileStatus] =
        Option(fs.globStatus(hp)).map(_.toSeq).getOrElse(Seq.empty)
      matches.flatMap { st =>
        if (st.isDirectory) fs.listStatus(st.getPath).toSeq.filter(_.isFile)
        else Seq(st)
      }
    }.filter { st =>
      val n = st.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }.map { st =>
      // render like `input_file_name()` does (empty authority kept:
      // file:///x, not Path.toUri's file:/x) so the file column is
      // byte-identical to the text-source path
      val u = st.getPath.toUri
      new java.net.URI(u.getScheme, Option(u.getAuthority).getOrElse(""),
        u.getPath, null, null).toString
    }.sorted
  }

  val defaultMaxPayload: Long = 64L * 1024 * 1024

  /** Payloads materialize as JVM byte arrays, so a cap above
    * Int.MaxValue would let a declared length wrap negative in
    * `len.toInt` (or `cap + 1` overflow). Anything ≥ ~2 GiB per record
    * is beyond these sources' design anyway.
    */
  def clampPayload(cap: Long): Long = cap.min(Int.MaxValue.toLong - 8)

  /** The `maxpayload` option of the container sources, clamped. */
  def maxPayload(options: CaseInsensitiveStringMap): Long =
    clampPayload(Option(options.get("maxpayload")).map(_.toLong)
      .getOrElse(defaultMaxPayload))

  private[sources] def canPush(f: Filter, pushable: Set[String]): Boolean = f match {
    case EqualTo(a, _: String) => pushable.contains(a)
    case In(a, vs) if vs.forall(_.isInstanceOf[String]) => pushable.contains(a)
    case IsNotNull(a) => pushable.contains(a)
    case StringStartsWith(a, _) => pushable.contains(a)
    case StringContains(a, _) => pushable.contains(a)
    case _ => false
  }

  /** The accepted filters as one conjunction over `R`; each column's
    * accessor is resolved once here, and a null value fails every
    * predicate (the SQL semantics).
    */
  private[sources] def compile[R](pushed: Array[Filter],
      column: String => R => String): R => Boolean = {
    val preds: Array[R => Boolean] = pushed.map { f =>
      val (a, test) = f match {
        case EqualTo(a, v: String) => a -> ((t: String) => t == v)
        case In(a, vs) =>
          val set = vs.map(_.asInstanceOf[String]).toSet
          a -> ((t: String) => set.contains(t))
        case IsNotNull(a) => a -> ((_: String) => true) // the null guard below
        case StringStartsWith(a, p) => a -> ((t: String) => t.startsWith(p))
        case StringContains(a, s) => a -> ((t: String) => t.contains(s))
        case other => throw new IllegalStateException(s"unpushable filter $other")
      }
      val get = column(a)
      (r: R) => { val t = get(r); t != null && test(t) }
    }
    (r: R) => {
      var i = 0
      while (i < preds.length && preds(i)(r)) i += 1
      i == preds.length
    }
  }
}

/** Minimal serializable Hadoop-conf carrier (the stock spark one is
  * `private[spark]`): Configuration itself knows how to write/read its
  * fields.
  */
class SerializableHadoopConf(@transient var value: Configuration) extends Serializable {
  private def writeObject(out: ObjectOutputStream): Unit = {
    out.defaultWriteObject(); value.write(out)
  }
  private def readObject(in: ObjectInputStream): Unit = {
    in.defaultReadObject(); value = new Configuration(false); value.readFields(in)
  }
}

case class FileRecordPartition(path: String) extends InputPartition

/** File-count offsets over the SORTED listing: batch N..M reads files
  * N until M of the lexicographic order. Exactly-once holds for
  * append-only directories whose new files sort after processed ones —
  * true for ALB's timestamped log object names and for crawl / corpus
  * drop folders with timestamped or versioned names, and the reason
  * this stays a dozen lines where the general text file source carries
  * a seen-files map. (A violated assumption shows up loudly: the drain
  * re-reads or skips whole files, which the incremental streaming specs
  * would catch.) `json()` is the bare count, the checkpoint format.
  */
case class FileCountOffset(n: Int) extends Offset {
  override def json(): String = n.toString
}

class FileRecordTable[R, O](format: FileRecordFormat[R, O], paths: Seq[String])
    extends Table with SupportsRead {
  override def name(): String = s"${format.shortName}(${paths.mkString(",")})"
  override def schema(): StructType = format.fullSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    new FileRecordScanBuilder(format, paths, format.parseOptions(options),
      new SerializableHadoopConf(conf))
  }
}

class FileRecordScanBuilder[R, O](format: FileRecordFormat[R, O], paths: Seq[String],
    options: O, conf: SerializableHadoopConf)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private var required: StructType = format.fullSchema
  private var pushed: Array[Filter] = Array.empty
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ok, rest) = filters.partition(FileRecordSource.canPush(_, format.pushable))
    pushed = ok
    rest ++ ok
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def build(): Scan = new FileRecordScan(format, paths, required, pushed,
    new FileRecordReaderFactory(format, required.fieldNames, pushed, options, conf))
}

class FileRecordScan[R, O](format: FileRecordFormat[R, O], paths: Seq[String],
    required: StructType, pushed: Array[Filter],
    factory: FileRecordReaderFactory[R, O]) extends Scan with Batch {
  private lazy val files = FileRecordSource.expand(paths, factory.conf.value)
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"${format.shortName} scan: ${files.size} files, ${required.fieldNames.mkString(",")}" +
      (if (pushed.isEmpty) "" else s", PushedFilters: ${pushed.mkString(", ")}")
  override def planInputPartitions(): Array[InputPartition] =
    format.planBatch(files, FileRecordSource.compile(pushed, format.column),
      factory.options, factory.conf.value)
  override def createReaderFactory(): PartitionReaderFactory = factory
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new FileRecordStream(paths, factory)
}

class FileRecordStream(paths: Seq[String], factory: FileRecordReaderFactory[_, _])
    extends MicroBatchStream {
  private def listing(): Seq[String] = FileRecordSource.expand(paths, factory.conf.value)
  override def initialOffset(): Offset = FileCountOffset(0)
  override def latestOffset(): Offset = FileCountOffset(listing().size)
  override def deserializeOffset(json: String): Offset = FileCountOffset(json.trim.toInt)
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[FileCountOffset].n
    val e = end.asInstanceOf[FileCountOffset].n
    listing().slice(s, e).map(FileRecordPartition(_): InputPartition).toArray
  }
  override def createReaderFactory(): PartitionReaderFactory = factory
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

class FileRecordReaderFactory[R, O](format: FileRecordFormat[R, O],
    fieldNames: Array[String], pushed: Array[Filter], val options: O,
    val conf: SerializableHadoopConf) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    format.reader(partition, fieldNames,
      FileRecordSource.compile(pushed, format.column), options, conf.value)
}
