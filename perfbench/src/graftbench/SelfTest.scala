package graftbench

import java.io.{BufferedReader, InputStreamReader}
import java.nio.file.{Files, Path, Paths}
import java.util.zip.GZIPInputStream

import scala.collection.mutable

/** Checks of the benchmark itself: `SelfTest --work <dir>`. Exits non-zero
  * and names each failed check.
  */
object SelfTest {
  private val failures = mutable.ArrayBuffer.empty[String]

  private def expect(what: String, ok: Boolean, detail: => String = ""): Unit = {
    System.err.println(s"[selftest] ${if (ok) "ok  " else "FAIL"} $what ${if (ok) "" else detail}")
    if (!ok) failures += what
  }

  private def bytes(dir: Path): Seq[(String, Seq[Byte])] =
    Passes.files(dir).sortBy(_.toString).map(f => f.getFileName.toString -> Files.readAllBytes(f).toSeq)

  private def clientIps(dir: Path): Set[String] = Passes.files(dir).flatMap { f =>
    val r = new BufferedReader(new InputStreamReader(new GZIPInputStream(Files.newInputStream(f)), "UTF-8"))
    try Iterator.continually(r.readLine()).takeWhile(_ != null)
      .map(_.split(' ')(3).takeWhile(_ != ':')).toList
    finally r.close()
  }.toSet

  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(args.indexOf("--work") + 1)).toAbsolutePath

    expect("median of an odd vector", Stats.median(Seq(3, 1, 4, 1, 5, 9, 2, 6, 5)) == 4.0)
    expect("median of an even vector", Stats.median((1 to 10).map(_.toDouble)) == 5.5)
    // reference values from Python's statistics.quantiles(xs, n=4)
    expect("quartiles of 1..10", Stats.quartiles((1 to 10).map(_.toDouble)) == ((2.75, 5.5, 8.25)),
      Stats.quartiles((1 to 10).map(_.toDouble)).toString)
    expect("quartiles of an odd vector",
      Stats.quartiles(Seq(3, 1, 4, 1, 5, 9, 2, 6, 5)) == ((1.5, 4.0, 5.5)),
      Stats.quartiles(Seq(3, 1, 4, 1, 5, 9, 2, 6, 5)).toString)

    val spec = CorpusSpec(lines = 3000, distinctIps = 700, files = 4, malformed = 0.01)
    val (_, e1) = Corpus.write(work.resolve("g1"), spec, 11)
    Corpus.write(work.resolve("g2"), spec, 11)
    Corpus.write(work.resolve("g3"), spec, 12)
    expect("same seed gives byte-identical files",
      bytes(work.resolve("g1")) == bytes(work.resolve("g2")))
    expect("another seed gives other files",
      bytes(work.resolve("g1")) != bytes(work.resolve("g3")))
    val ips = clientIps(work.resolve("g1"))
    expect("distinct-IP count is exact", ips.size == 700 && e1.distinctIps == 700,
      s"${ips.size} in files, ${e1.distinctIps} expected")
    expect("every sink expects rows",
      Seq(e1.cleaned, e1.hourly, e1.errors, e1.botDetails, e1.botSummary).forall(_ > 0)
        && e1.kept < e1.lines && e1.cleaned < e1.kept, e1.toString)

    val spark = Session.start(work.resolve("spark"))
    try for (w <- Workload.all) {
      val tiny = w.copy(spec = spec.copy(distinctIps = if (w.warmCache) 40 else 1200))
      val dir = work.resolve(w.name)
      val p = Passes.setUp(spark, dir, tiny, 5)
      p.reset()
      p.run()
      val bad = p.check()
      expect(s"${w.name}: expected sink counts equal what Pipeline.run writes",
        bad.isEmpty, bad.mkString("; "))

      val run = new Run(spark, dir, tiny, 5,
        q => q.withExpected(q.expected.copy(cleaned = q.expected.cleaned + 1)))
      val ok = run.timed(0, 0).find(_.name == "ok_frac").map(_.value)
      expect(s"${w.name}: a wrong expected count fails every pass",
        run.failed == run.attempted && run.attempted >= 4 && ok.contains(0.0),
        s"${run.failed}/${run.attempted} failed, ok_frac $ok")
    } finally spark.stop()

    if (failures.nonEmpty) {
      System.err.println(s"[selftest] ${failures.size} check(s) failed")
      sys.exit(1)
    }
    System.err.println("[selftest] all checks passed")
  }
}
