package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.ListenerDrain
import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload:
  *
  *   --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --work <dir> --reports <dir>
  *
  * Prints one JSON line (correct, attempted, failed, metrics) last on
  * stdout. With `--trace 0` the metrics are the end-to-end ones; with
  * `--trace 1` the per-layer ones from passes traced by spans and a
  * listener, alternated with untraced passes to give the tracing overhead.
  */
object BenchMain {

  private def arg(args: Array[String], key: String): String = {
    val i = args.indexOf(s"--$key")
    require(i >= 0 && i + 1 < args.length, s"missing --$key")
    args(i + 1)
  }

  def main(args: Array[String]): Unit = {
    val workload = Workload.named(arg(args, "workload"))
    val work = Paths.get(arg(args, "work")).toAbsolutePath
    val spark = Session.start(work)
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    try {
      val run = new Run(spark, work, workload, arg(args, "seed").toLong)
      val metrics =
        if (arg(args, "trace") == "1")
          run.traced(arg(args, "seconds").toDouble, Paths.get(arg(args, "reports")))
        else run.timed(arg(args, "seconds").toDouble, sessionS)
      println(Run.json(run.failed == 0, run.attempted, run.failed, metrics))
    } finally spark.stop()
  }
}

/** `adjust` replaces the passes set up for the workload; the self-test
  * uses it to swap in wrong expected counts.
  */
final class Run(spark: SparkSession, work: Path, workload: Workload, seed: Long,
    adjust: Passes => Passes = identity) {
  import Run._

  private val sc = spark.sparkContext
  var attempted = 0
  var failed = 0
  private val lines = workload.spec.lines.toDouble

  private def log(msg: String): Unit = System.err.println(s"[graftbench] $msg")

  /** Runs `body` on clean state and checks the sinks after it. A throw or
    * a wrong row count marks the operation failed.
    */
  private def checked[A](p: Passes)(body: => A): Option[A] = {
    p.reset()
    attempted += 1
    val out = Try(body).flatMap(a => Try(p.check()).map(a -> _))
    out match {
      case Success((a, Seq())) => Some(a)
      case Success((a, bad)) =>
        failed += 1; log(s"pass failed its check: ${bad.mkString("; ")}"); Some(a)
      case Failure(e) =>
        failed += 1; log(s"pass threw: $e"); None
    }
  }

  /** Corpus generation and cache prefill, three times (the median counts),
    * then one untimed warm-up pass.
    */
  private def setUp(): (Passes, Double) = {
    val prep = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      val p = Passes.setUp(spark, work, workload, seed)
      (p, (System.nanoTime() - t0) / 1e9)
    }
    val p = adjust(prep.last._1)
    val t0 = System.nanoTime()
    checked(p)(p.run())
    val warmUp = (System.nanoTime() - t0) / 1e9
    log(f"${workload.name}: prep ${prep.map(_._2).mkString(",")} s, warm-up $warmUp%.2f s, " +
      s"expected ${p.expected}")
    (p, Stats.median(prep.map(_._2)) + warmUp)
  }

  private def elapsed(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Median, or NaN when no pass produced a value; a NaN metric makes the
    * result incorrect.
    */
  private def median(xs: Iterable[Double]): Double =
    if (xs.isEmpty) Double.NaN else Stats.median(xs.toSeq)

  /** Untraced passes for `seconds` (at least three). */
  def timed(seconds: Double, sessionS: Double): Seq[Metric] = {
    val (p, setup) = setUp()
    val walls = mutable.ArrayBuffer.empty[Double]
    val footprints = mutable.ArrayBuffer.empty[(Long, Long)]
    val ok = mutable.ArrayBuffer.empty[Boolean]
    val t0 = System.nanoTime()
    while (ok.size < 3 || elapsed(t0) < seconds) {
      val before = failed
      checked(p)(p.run()).foreach { w => walls += w; footprints += p.footprint() }
      ok += failed == before
    }
    log(s"${workload.name}: pass walls ${walls.map(w => f"$w%.3f").mkString(" ")}")
    val wall = median(walls)
    Seq(
      Metric("setup_s", sessionS + setup, "s"),
      Metric("wall_s", wall, "s"),
      Metric("lines_per_s", lines / wall, "1/s"),
      Metric("ok_frac", ok.count(identity).toDouble / ok.size, "ratio"),
      Metric("sink_files", median(footprints.map(_._1.toDouble)), "count"),
      Metric("sink_mb", median(footprints.map(_._2.toDouble)) / MB, "MB"),
      Metric("peak_rss_mb", peakRssMb(), "MB"))
  }

  /** Untraced and traced passes alternately for `seconds` (at least two
    * of each); each traced pass is followed by a parse probe. Writes the
    * spans and a where-the-time-goes table under `reports`.
    */
  def traced(seconds: Double, reports: Path): Seq[Metric] = {
    val (p, _) = setUp()
    val tracer = new Tracer(sc)
    val untraced = mutable.ArrayBuffer.empty[Double]
    val perPass = mutable.ArrayBuffer.empty[Map[String, Double]]
    val groupsPerPass = mutable.ArrayBuffer.empty[Map[String, GroupMetrics]]
    val t0 = System.nanoTime()
    while (groupsPerPass.size < 2 || elapsed(t0) < seconds) {
      checked(p)(p.run()).foreach(untraced += _)
      tracer.pass = groupsPerPass.size
      ListenerDrain(sc)
      val listener = new LayerListener
      sc.addSparkListener(listener)
      spark.listenerManager.register(listener)
      val tp = try checked(p)(p.traced(tracer)) finally ListenerDrain(sc)
      attempted += 1
      val kept = Try(p.parseProbe(tracer)).toOption
      if (!kept.contains(p.expected.kept)) { failed += 1; log(s"parse probe kept $kept rows") }
      ListenerDrain(sc)
      sc.removeSparkListener(listener)
      spark.listenerManager.unregister(listener)
      val spans = tracer.spans.filter(_.pass == tracer.pass)
      val groups = listener.byGroup(spans)
      groupsPerPass += groups
      tp.foreach(t => perPass += layers(p, t, spans, groups, listener, kept.getOrElse(0L)))
    }
    val untracedWall = median(untraced)
    val med = perLayer.map { case (k, _) => k -> median(perPass.flatMap(_.get(k))) }.toMap
    val overhead = med("trace.wall_s") - untracedWall
    log(f"${workload.name}: untraced ${untraced.map(w => f"$w%.3f").mkString(" ")}, " +
      f"traced ${perPass.map(m => f"${m("trace.wall_s")}%.3f").mkString(" ")}")
    Files.createDirectories(reports)
    val stem = s"${workload.name}-seed$seed"
    Files.write(reports.resolve(s"spans-$stem.json"), spansJson(tracer.spans).getBytes(UTF_8))
    if (perPass.nonEmpty && untraced.nonEmpty)
      Files.write(reports.resolve(s"where-$stem.md"),
        whereTable(tracer.spans, groupsPerPass.toSeq, untracedWall, overhead).getBytes(UTF_8))
    val all = med ++ Map(
      "trace.untraced_wall_s" -> untracedWall,
      "trace.overhead_s" -> overhead)
    perLayer.map { case (name, unit) => Metric(name, all(name), unit) }
  }

  /** The per-layer readings of one traced pass and its parse probe. */
  private def layers(p: Passes, t: TracedPass, spans: Seq[Span],
      groups: Map[String, GroupMetrics], listener: LayerListener, kept: Long): Map[String, Double] = {
    def secs(name: String) = spans.filter(_.name == name).map(_.seconds).sum
    def grp(names: String*): GroupMetrics = {
      val m = new GroupMetrics
      names.foreach(n => groups.get(n).foreach(m += _))
      m
    }
    val passGroups = spans.filter(s => s.name != "probe.parse").map(_.name).distinct
    val total = grp(passGroups: _*)
    val features = grp("features")
    val sinks = grp("sink.sample", "sink.cleaned", "sink.hourly", "sink.error", "sink.bot")
    val parse = secs("probe.parse")
    Map(
      "spark.jobs" -> total.jobs.toDouble,
      "spark.stages" -> total.stages.toDouble,
      "spark.tasks" -> total.tasks.toDouble,
      "spark.task_s" -> total.taskMs / 1e3,
      "spark.cpu_s" -> total.cpuNs / 1e9,
      "spark.gc_s" -> total.gcMs / 1e3,
      "spark.sched_delay_s" -> total.schedDelayMs / 1e3,
      "spark.plan_s" -> total.planMs / 1e3,
      "spark.shuffle_read_mb" -> total.shuffleReadBytes / MB,
      "spark.shuffle_write_mb" -> total.shuffleWriteBytes / MB,
      "spark.spill_mb" -> total.spillBytes / MB,
      "spark.peak_storage_mb" -> listener.peakStorageBytes / MB,
      "spark.core_util" -> total.taskMs / 1e3 / (t.wall * 4),
      "parse.s" -> parse,
      "parse.lines_per_s" -> lines / parse,
      "parse.cpu_s" -> grp("probe.parse").cpuNs / 1e9,
      "parse.kept_ratio" -> kept / lines,
      "geo.enrich_s" -> secs("geo.enrich"),
      "geo.resolve_s" -> secs("geo.resolve"),
      "geo.misses" -> t.misses.toDouble,
      "geo.hit_ratio" -> (1.0 - t.misses.toDouble / p.expected.distinctIps),
      "geo.cache_rows" -> p.cacheRows().toDouble,
      "geo.jobs" -> grp("geo.enrich", "geo.resolve").jobs.toDouble,
      "features.s" -> secs("features"),
      "features.shuffle_write_mb" -> features.shuffleWriteBytes / MB,
      "features.spill_mb" -> features.spillBytes / MB,
      "features.max_task_s" -> features.maxTaskMs / 1e3,
      "features.persisted_mb" -> t.persistedBytes / MB,
      "sink.sample_s" -> secs("sink.sample"),
      "sink.cleaned_s" -> secs("sink.cleaned"),
      "sink.hourly_s" -> secs("sink.hourly"),
      "sink.error_s" -> secs("sink.error"),
      "sink.bot_s" -> secs("sink.bot"),
      "sink.cleaned_files" -> p.cleanedFiles().toDouble,
      "sink.max_task_s" -> sinks.maxTaskMs / 1e3,
      "trace.wall_s" -> t.wall,
      "trace.span_sum_s" -> t.spanSum)
  }

  private def spansJson(spans: Seq[Span]): String = spans.map { s =>
    s"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, "pass": ${s.pass}, """ +
      s""""start_ms": ${s.startMs}, "end_ms": ${s.endMs}, "seconds": ${s.seconds}}"""
  }.mkString("[\n", ",\n", "\n]\n")

  /** Median total and self time per span name over the traced passes. */
  private def whereTable(spans: Seq[Span], groups: Seq[Map[String, GroupMetrics]],
      untracedWall: Double, overhead: Double): String = {
    val passes = spans.map(_.pass).distinct.sorted
    val passWall = Stats.median(spans.filter(_.name == "pass").map(_.seconds))
    val names = spans.filter(_.pass == passes.head).map(_.name).distinct
    def parentOf(n: String) = spans.find(_.name == n).map(_.parent)
      .flatMap(id => spans.find(_.id == id)).fold("-")(_.name)
    def med(f: Int => Double) = Stats.median(passes.map(f))
    val rows = names.map { n =>
      def ofPass(i: Int) = spans.filter(s => s.pass == i && s.name == n)
      val total = med(i => ofPass(i).map(_.seconds).sum)
      val self = med(i => ofPass(i).map(Tracer.selfSeconds(_, spans)).sum)
      def g(i: Int) = groups.lift(i).flatMap(_.get(n)).getOrElse(new GroupMetrics)
      f"| $n | ${parentOf(n)} | $total%.3f | $self%.3f | ${100 * self / passWall}%.1f | " +
        f"${med(i => g(i).jobs.toDouble)}%.0f | ${med(i => g(i).taskMs / 1e3)}%.3f |"
    }
    (Seq(
      s"# Where the time goes: ${workload.name}, seed $seed",
      "",
      s"Medians over ${passes.size} traced passes of ${workload.spec.lines} lines. " +
        f"Traced pass $passWall%.3f s, untraced pass $untracedWall%.3f s, " +
        f"tracing overhead $overhead%.3f s. Self time is a span minus its children; " +
        "`probe.parse` runs after the pass and is not part of it.",
      "",
      "| span | parent | total s | self s | self % of pass | jobs | task s |",
      "|---|---|---|---|---|---|---|") ++ rows).mkString("\n") + "\n"
  }
}

final case class Metric(name: String, value: Double, unit: String)

object Run {
  val MB: Double = 1024.0 * 1024.0

  /** Per-layer metric names and units, in report order. */
  val perLayer: Seq[(String, String)] = Seq(
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.task_s" -> "s", "spark.cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.sched_delay_s" -> "s", "spark.plan_s" -> "s",
    "spark.shuffle_read_mb" -> "MB", "spark.shuffle_write_mb" -> "MB",
    "spark.spill_mb" -> "MB", "spark.peak_storage_mb" -> "MB", "spark.core_util" -> "ratio",
    "parse.s" -> "s", "parse.lines_per_s" -> "1/s", "parse.cpu_s" -> "s",
    "parse.kept_ratio" -> "ratio",
    "geo.enrich_s" -> "s", "geo.resolve_s" -> "s", "geo.misses" -> "count",
    "geo.hit_ratio" -> "ratio", "geo.cache_rows" -> "count", "geo.jobs" -> "count",
    "features.s" -> "s", "features.shuffle_write_mb" -> "MB", "features.spill_mb" -> "MB",
    "features.max_task_s" -> "s", "features.persisted_mb" -> "MB",
    "sink.sample_s" -> "s", "sink.cleaned_s" -> "s", "sink.hourly_s" -> "s",
    "sink.error_s" -> "s", "sink.bot_s" -> "s", "sink.cleaned_files" -> "count",
    "sink.max_task_s" -> "s",
    "trace.wall_s" -> "s", "trace.untraced_wall_s" -> "s", "trace.overhead_s" -> "s",
    "trace.span_sum_s" -> "s")

  /** The JVM's resident-set high-water mark (Linux `VmHWM`). */
  def peakRssMb(): Double = {
    val status = new String(Files.readAllBytes(Paths.get("/proc/self/status")), UTF_8)
    status.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }

  def json(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[Metric]): String = {
    val finite = metrics.forall(m => !m.value.isNaN && !m.value.isInfinite)
    val body = metrics.map { m =>
      val v = if (m.value.isNaN || m.value.isInfinite) 0.0 else m.value
      s""""${m.name}": {"value": $v, "unit": "${m.unit}"}"""
    }.mkString(", ")
    s"""{"correct": ${correct && finite}, "attempted": $attempted, "failed": $failed, "metrics": {$body}}"""
  }
}
