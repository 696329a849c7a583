package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.avro.{Schema, SchemaBuilder}
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.mapred.FsInput
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Avro container source/stage built directly on the `avro` core jars
  * (no `spark-avro` module on this classpath — the source IS the
  * exercise): `spark.read.format("graftavro").load(dir)` scans `.avro`
  * container files, inferring the Spark schema from the schema EMBEDDED
  * in the first container (the Avro contract: every file carries its
  * writer schema), one partition per file, with column pruning pushed
  * into the record decoder (`SupportsPushDownRequiredColumns` — skipped
  * fields are never converted, and `ReadSchema` in the plan shows the
  * truth). [[AvroStage.write]] is the sink half: executor-side
  * `DataFileWriter` per partition through the Hadoop FS API (works the
  * same on DFS at cluster scale), snappy-compressed, `_` -prefixed
  * files ignored on read per the Spark convention.
  *
  * Type coverage is the primitive lattice a tabular stage needs —
  * long/int/double/float/boolean/string/bytes, each optionally wrapped
  * in the `["null", T]` union Avro uses for nullability. Nested records
  * are out of contract (fail loudly at schema mapping, never silently
  * flatten).
  */
class AvroDataSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graftavro"
  override def supportsExternalMetadata(): Boolean = false
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val paths = FileRecordSource.resolvePaths(
      options.asCaseSensitiveMap().asInstanceOf[java.util.Map[String, String]], shortName())
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val files = AvroDataSource.listAvro(paths, conf)
    require(files.nonEmpty, s"no .avro files under ${paths.mkString(",")}")
    val in = new FsInput(new Path(files.head), conf)
    val rd = new DataFileReader[GenericRecord](in,
      new GenericDatumReader[GenericRecord]())
    try AvroDataSource.toStructType(rd.getSchema)
    finally rd.close()
  }
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new AvroTable(FileRecordSource.resolvePaths(properties, shortName()), schema)
}

object AvroDataSource {
  private[sources] def listAvro(paths: Seq[String],
      conf: org.apache.hadoop.conf.Configuration): Seq[String] =
    FileRecordSource.expand(paths, conf).filter(_.endsWith(".avro"))

  /** Avro → Spark type mapping over the supported primitive lattice;
    * `["null", T]` unions map to nullable T. Anything else is a loud
    * contract error.
    */
  private[sources] def toStructType(s: Schema): StructType = {
    require(s.getType == Schema.Type.RECORD,
      s"graftavro: top level must be a record, got ${s.getType}")
    StructType(s.getFields.asScala.toSeq.map { f =>
      val (t, nullable) = unwrap(f.schema())
      StructField(f.name(), t, nullable)
    })
  }
  private def unwrap(s: Schema): (DataType, Boolean) = s.getType match {
    case Schema.Type.UNION =>
      val branches = s.getTypes.asScala.toSeq
      val nonNull = branches.filterNot(_.getType == Schema.Type.NULL)
      require(nonNull.size == 1 && branches.size == 2,
        s"graftavro: only [null, T] unions supported, got $s")
      (primitive(nonNull.head), true)
    case _ => (primitive(s), false)
  }
  private def primitive(s: Schema): DataType = s.getType match {
    case Schema.Type.LONG    => LongType
    case Schema.Type.INT     => IntegerType
    case Schema.Type.DOUBLE  => DoubleType
    case Schema.Type.FLOAT   => FloatType
    case Schema.Type.BOOLEAN => BooleanType
    case Schema.Type.STRING  => StringType
    case Schema.Type.BYTES   => BinaryType
    case t => throw new IllegalArgumentException(
      s"graftavro: unsupported Avro type $t (primitive lattice only)")
  }
}

class AvroTable(paths: Seq[String], schema0: StructType)
    extends Table with SupportsRead {
  override def name(): String = s"graftavro(${paths.mkString(",")})"
  override def schema(): StructType = schema0
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    new AvroScanBuilder(paths, schema0, new SerializableHadoopConf(conf))
  }
}

class AvroScanBuilder(paths: Seq[String], full: StructType,
    conf: SerializableHadoopConf)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = full
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema
  override def build(): Scan = new AvroScan(paths, required, conf)
}

class AvroScan(paths: Seq[String], required: StructType,
    conf: SerializableHadoopConf) extends Scan with Batch {
  private lazy val files = AvroDataSource.listAvro(paths, conf.value)
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graftavro scan: ${files.size} files, ReadSchema: ${required.fieldNames.mkString(",")}"
  override def planInputPartitions(): Array[InputPartition] =
    files.map(FileRecordPartition(_): InputPartition).toArray
  override def createReaderFactory(): PartitionReaderFactory =
    new AvroReaderFactory(required, conf)
}

class AvroReaderFactory(required: StructType, conf: SerializableHadoopConf)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new AvroPartitionReader(
      partition.asInstanceOf[FileRecordPartition].path, required, conf)
}

/** Streams one container file; converts ONLY the required fields per
  * record (pruning reaches the decoder — unrequested fields are read by
  * Avro's block decoder but never converted or allocated into rows).
  */
class AvroPartitionReader(pathStr: String, required: StructType,
    conf: SerializableHadoopConf) extends PartitionReader[InternalRow] {
  private val reader = new DataFileReader[GenericRecord](
    new FsInput(new Path(pathStr), conf.value),
    new GenericDatumReader[GenericRecord]())
  private val converters: Array[GenericRecord => Any] =
    required.fields.map { f =>
      val name = f.name
      f.dataType match {
        case StringType => (r: GenericRecord) => {
          val v = r.get(name)
          if (v == null) null else UTF8String.fromString(v.toString)
        }
        case BinaryType => (r: GenericRecord) => {
          val v = r.get(name).asInstanceOf[java.nio.ByteBuffer]
          if (v == null) null
          else { val a = new Array[Byte](v.remaining()); v.duplicate().get(a); a }
        }
        case _ => (r: GenericRecord) => r.get(name) // numeric/boolean pass through
      }
    }
  private var current: InternalRow = _
  override def next(): Boolean = {
    if (!reader.hasNext) return false
    val rec = reader.next()
    val vals = new Array[Any](converters.length)
    var i = 0
    while (i < converters.length) { vals(i) = converters(i)(rec); i += 1 }
    current = new GenericInternalRow(vals)
    true
  }
  override def get(): InternalRow = current
  override def close(): Unit = reader.close()
}

/** The sink half of the Avro leg: write a DataFrame of supported
  * primitive columns as snappy Avro containers, one file per partition,
  * through the Hadoop FS API (DFS-ready). Cluster the frame before
  * calling if directory-file-count matters (the Sinks discipline).
  */
object AvroStage {
  /** Spark → Avro schema over the same primitive lattice; every column
    * is written as a `["null", T]` union matching Spark nullability
    * semantics (parquet round-trips arrive nullable).
    */
  def toAvroSchema(schema: StructType, name: String): Schema = {
    val fields = SchemaBuilder.record(name).fields()
    schema.fields.foldLeft(fields) { (fs, f) =>
      val base = f.dataType match {
        case LongType    => Schema.create(Schema.Type.LONG)
        case IntegerType => Schema.create(Schema.Type.INT)
        case DoubleType  => Schema.create(Schema.Type.DOUBLE)
        case FloatType   => Schema.create(Schema.Type.FLOAT)
        case BooleanType => Schema.create(Schema.Type.BOOLEAN)
        case StringType  => Schema.create(Schema.Type.STRING)
        case BinaryType  => Schema.create(Schema.Type.BYTES)
        case t => throw new IllegalArgumentException(
          s"graftavro write: unsupported Spark type $t")
      }
      fs.name(f.name).`type`(Schema.createUnion(
        Schema.create(Schema.Type.NULL), base)).withDefault(null)
    }.endRecord()
  }

  def write(df: DataFrame, path: String, recordName: String = "row"): Unit = {
    val schema = df.schema
    val avroJson = toAvroSchema(schema, recordName).toString
    val spark = df.sparkSession
    val hconf = new SerializableHadoopConf(
      spark.sessionState.newHadoopConf())
    val dir = new Path(path)
    val fs = dir.getFileSystem(hconf.value)
    if (fs.exists(dir)) fs.delete(dir, true)
    fs.mkdirs(dir)
    df.queryExecution.toRdd.mapPartitionsWithIndex { (pid, rows) =>
      val avroSchema = new Schema.Parser().parse(avroJson)
      val out = new Path(f"$path%s/part-$pid%05d.avro")
      val partFs = out.getFileSystem(hconf.value)
      val w = new DataFileWriter[GenericRecord](
        new GenericDatumWriter[GenericRecord](avroSchema))
      w.setCodec(org.apache.avro.file.CodecFactory.snappyCodec())
      w.create(avroSchema, partFs.create(out, true))
      try {
        val fieldSchemas = avroSchema.getFields
        rows.foreach { row =>
          val rec = new GenericData.Record(avroSchema)
          var i = 0
          while (i < schema.length) {
            val v =
              if (row.isNullAt(i)) null
              else schema(i).dataType match {
                case StringType => row.getUTF8String(i).toString
                case BinaryType => java.nio.ByteBuffer.wrap(row.getBinary(i))
                case LongType => java.lang.Long.valueOf(row.getLong(i))
                case IntegerType => java.lang.Integer.valueOf(row.getInt(i))
                case DoubleType => java.lang.Double.valueOf(row.getDouble(i))
                case FloatType => java.lang.Float.valueOf(row.getFloat(i))
                case BooleanType => java.lang.Boolean.valueOf(row.getBoolean(i))
                case t => throw new IllegalStateException(s"unreachable: $t")
              }
            rec.put(fieldSchemas.get(i).name(), v)
            i += 1
          }
          w.append(rec)
        }
      } finally w.close()
      Iterator.single(1)
    }.count(): Unit
  }
}
