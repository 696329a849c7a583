package graftbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import org.apache.spark.storage.StorageLevel

import graft.Pipeline
import graft.elb.{ElbParser, Features, Sinks}
import graft.geo.{GeoCache, GeoRecord, GeoResolver, OfflineGeoResolver}

/** A named benchmark workload: the corpus shape and whether the geo cache
  * holds every corpus IP before each pass (warm) or starts empty (cold).
  */
final case class Workload(name: String, spec: CorpusSpec, warmCache: Boolean)

object Workload {
  val all: Seq[Workload] = Seq(
    Workload("elb_warm", CorpusSpec(lines = 12000, distinctIps = 300), warmCache = true),
    Workload("elb_geo_cold", CorpusSpec(lines = 12000, distinctIps = 4800), warmCache = false))

  def named(name: String): Workload = all.find(_.name == name).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload '$name' (known: ${all.map(_.name).mkString(", ")})"))
}

object Session {
  /** The benchmark's Spark session: four local cores, four shuffle
    * partitions, scratch space under `work`.
    */
  def start(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}

/** Wraps a resolver so a traced pass sees its calls as a `geo.resolve` span. */
final class TracedResolver(inner: GeoResolver, tracer: Tracer) extends GeoResolver {
  var misses = 0L
  override def resolve(ips: Seq[String]): Seq[GeoRecord] =
    tracer.span("geo.resolve") {
      misses += ips.size
      inner.resolve(ips)
    }
}

/** Per-layer readings of one traced pass. */
final case class TracedPass(wall: Double, spanSum: Double, misses: Long,
    persistedBytes: Long)

/** Passes of `graft.Pipeline` over one generated corpus, the sink check
  * after each, and the clean-up between them.
  */
final class Passes(spark: SparkSession, work: Path, val workload: Workload,
    val expected: Expected, ips: Seq[String]) {
  val corpus: Path = work.resolve("corpus")
  val out: Path = work.resolve("out")
  val cache: Path = work.resolve("geo_cache")
  private val globs = Seq(corpus.resolve("*.log.gz").toString)

  def withExpected(e: Expected): Passes = new Passes(spark, work, workload, e, ips)

  /** Writes every corpus IP into an empty geo cache via the public API. */
  def prefill(): Unit = {
    import spark.implicits._
    Passes.delete(cache)
    val fresh = new OfflineGeoResolver().resolve(ips).toDF()
    GeoCache.rewrite(GeoCache.upsert(GeoCache.load(spark, cache.toString), fresh),
      cache.toString)
  }

  /** Clean state between passes: no sink output, no cached data, and for
    * the cold workload no geo cache; then a GC.
    */
  def reset(): Unit = {
    Passes.delete(out)
    if (!workload.warmCache) Passes.delete(cache)
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    System.gc()
  }

  /** One `Pipeline.run`; returns its wall time in seconds. */
  def run(): Double = {
    val t0 = System.nanoTime()
    Pipeline.run(spark, Pipeline.Config(globs, out.toString, cache.toString))
    (System.nanoTime() - t0) / 1e9
  }

  /** The same public calls `Pipeline.run` makes, each in its own span. The
    * persisted feature frame is materialised inside the `features` span so
    * the sinks that follow only read it, as they do in `Pipeline.run`.
    */
  def traced(tracer: Tracer): TracedPass = {
    val resolver = new TracedResolver(new OfflineGeoResolver(), tracer)
    var persisted = 0L
    tracer.span("pass") {
      val parsed = tracer.span("parse.plan")(ElbParser.parse(spark, globs))
      tracer.span("sink.sample")(Sinks.sampleJson(parsed))
      val enriched = tracer.span("geo.enrich")(
        GeoCache.enrich(spark, parsed, cache.toString, resolver))
      val fin = tracer.span("features") {
        val f = Features(enriched).persist(StorageLevel.MEMORY_AND_DISK)
        f.count()
        persisted = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
        f
      }
      try {
        tracer.span("sink.cleaned")(Sinks.writeCleanedLogs(fin, out.toString))
        tracer.span("sink.hourly")(Sinks.writeHourlyAggregation(fin, out.toString))
        tracer.span("sink.error")(Sinks.writeErrorReport(fin, out.toString))
        tracer.span("sink.bot")(Sinks.writeBotReports(fin, out.toString))
      } finally tracer.span("unpersist")(fin.unpersist())
    }
    val all = tracer.spans
    val pass = all.filter(_.name == "pass").last
    TracedPass(pass.seconds, all.filter(_.parent == pass.id).map(_.seconds).sum,
      resolver.misses, persisted)
  }

  /** Parse alone, materialised to the no-op sink; returns rows kept. */
  def parseProbe(tracer: Tracer): Long = {
    val kept = Observation("kept")
    tracer.span("probe.parse") {
      ElbParser.parse(spark, globs).observe(kept, count(lit(1)).as("n"))
        .write.format("noop").mode("overwrite").save()
    }
    kept.get("n").asInstanceOf[Long]
  }

  /** Rows in the parquet files under `dir`, from their footers. */
  private def parquetRows(dir: Path): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    Passes.files(dir).filter(_.getFileName.toString.endsWith(".parquet")).map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.toUri), conf))
      try r.getRecordCount finally r.close()
    }.sum
  }

  /** Data rows in the CSV files under `dir`: lines minus one header each. */
  private def csvRows(dir: Path): Long =
    Passes.files(dir).filter(_.getFileName.toString.endsWith(".csv")).map { f =>
      val s = Files.lines(f)
      try math.max(0L, s.count() - 1) finally s.close()
    }.sum

  /** Compares each sink's row count with the generator's; returns the
    * mismatches, empty when the pass is correct. Counts are read from the
    * files directly, so the check starts no Spark job.
    */
  def check(exp: Expected = expected): Seq[String] = {
    def rows(rel: String, csv: Boolean = false): Long = {
      val dir = out.resolve(rel)
      if (!Files.isDirectory(dir)) -1L else if (csv) csvRows(dir) else parquetRows(dir)
    }
    val got = Seq(
      "cleaned_logs" -> (rows("cleaned_logs"), exp.cleaned),
      "hourly" -> (rows("aggregated_stats/hourly_traffic_by_geo.parquet"), exp.hourly),
      "error_summary" -> (rows("reports/error_summary_geo.csv", csv = true), exp.errors),
      "bot_details" -> (rows("reports/bot_traffic_details.parquet"), exp.botDetails),
      "bot_summary" -> (rows("reports/bot_traffic_by_origin_summary.csv", csv = true), exp.botSummary),
      "geo_cache" -> (if (Files.isDirectory(cache)) parquetRows(cache) else -1L, exp.distinctIps))
    got.collect { case (sink, (n, want)) if n != want => s"$sink: $n rows, expected $want" }
  }

  /** Files and bytes the sinks and the geo cache hold. */
  def footprint(): (Long, Long) = {
    val files = Seq(out, cache).filter(Files.exists(_)).flatMap(Passes.files)
    (files.size.toLong, files.map(Files.size).sum)
  }

  def cleanedFiles(): Long =
    Passes.files(out.resolve("cleaned_logs")).count(_.getFileName.toString.endsWith(".parquet")).toLong

  def cacheRows(): Long = parquetRows(cache)
}

object Passes {
  def files(dir: Path): Seq[Path] = {
    val s = Files.walk(dir)
    try s.iterator.asScala.filter(Files.isRegularFile(_)).toList finally s.close()
  }

  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator.asScala.toList.reverse.foreach(Files.delete) finally s.close()
  }

  /** Generates the corpus under `work` and, for the warm workload, fills
    * the geo cache with every corpus IP.
    */
  def setUp(spark: SparkSession, work: Path, w: Workload, seed: Long): Passes = {
    delete(work.resolve("corpus"))
    val (ips, expected) = Corpus.write(work.resolve("corpus"), w.spec, seed)
    val p = new Passes(spark, work, w, expected, ips)
    if (w.warmCache) p.prefill() else delete(p.cache)
    p
  }
}
