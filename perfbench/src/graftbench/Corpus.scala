package graftbench

import java.io.{BufferedWriter, FileOutputStream, OutputStreamWriter}
import java.nio.file.{Files, Path}
import java.time.{Instant, ZoneId}
import java.util.SplittableRandom
import java.util.zip.GZIPOutputStream

import graft.elb.ElbSchema
import graft.geo.{GeoRecord, OfflineGeoResolver}

/** Shape of a generated ALB corpus. Shares are fractions of all lines. */
final case class CorpusSpec(
    lines: Int,
    distinctIps: Int,
    files: Int = 16,
    malformed: Double = 0.005,
    bot: Double = 0.08,
    clientError: Double = 0.06,
    serverError: Double = 0.02,
    days: Int = 4) {
  require(files >= 1 && distinctIps >= 1)
  /** Every IP appears on at least one well-formed line. */
  require(lines - math.ceil(lines * malformed).toInt >= distinctIps,
    s"$lines lines cannot cover $distinctIps IPs with well-formed lines")
}

/** Row counts each sink must hold after one pass over the corpus, derived
  * from what was generated plus the public offline resolver.
  */
final case class Expected(
    lines: Long,
    kept: Long,
    distinctIps: Long,
    cleaned: Long,
    hourly: Long,
    errors: Long,
    botDetails: Long,
    botSummary: Long)

/** Seeded generator of gzipped ALB access logs in the 29-field line shape
  * of `graft.elb.SyntheticElb.line`. The same seed and spec give
  * byte-identical files (the gzip header carries no timestamp).
  */
object Corpus {

  private val humanUas = Vector(
    "Mozilla/5.0 (Windows NT 10.0; Win64; x64) Chrome/137.0.0.0 Safari/537.36",
    "Mozilla/5.0 (Macintosh; Intel Mac OS X 10_15_7) Version/17.0 Safari/605.1.15",
    "Mozilla/5.0 (X11; Linux x86_64; rv:109.0) Firefox/115.0",
    "Mozilla/5.0 (iPhone; CPU iPhone OS 17_0 like Mac OS X) Mobile/15E148",
    "-")
  private val botUas = Vector(
    "Mozilla/5.0 (compatible; Googlebot/2.1; +http://www.google.com/bot.html)",
    "Mozilla/5.0 (compatible; bingbot/2.0; +http://www.bing.com/bingbot.htm)",
    "Mozilla/5.0 (compatible; AhrefsBot/7.0; +http://ahrefs.com/robot/)",
    "python-urllib/3.11")
  private val methods = Vector("GET", "GET", "GET", "POST", "PUT", "DELETE")
  private val paths = Vector("/", "/api/users", "/api/orders/list",
    "/static/app.js", "/health", "/search", "/api/v2/items/detail")
  private val okStatuses = Vector("200", "200", "200", "200", "301", "304")
  private val clientErrors = Vector("400", "403", "404", "404", "429")
  private val serverErrors = Vector("500", "502", "503")

  /** 2025-06-01T00:00:00Z: the corpus spans `days` days from here. */
  private val baseMicros = 1748736000000000L

  private final case class Line(ip: Int, micros: Long, status: String,
      bot: Boolean, malformed: Int)

  /** Distinct dotted-quad IPs, deterministic in `rng`. */
  private def ips(rng: SplittableRandom, n: Int): Array[String] = {
    val seen = new java.util.LinkedHashSet[String]()
    while (seen.size < n) {
      val v = rng.nextInt()
      val a = 1 + Math.floorMod(v >>> 24, 223)
      seen.add(s"$a.${(v >>> 16) & 255}.${(v >>> 8) & 255}.${v & 255}")
    }
    seen.toArray(new Array[String](0))
  }

  private def timestamp(micros: Long): String = {
    val s = Instant.ofEpochSecond(micros / 1000000L).toString.stripSuffix("Z")
    f"$s.${micros % 1000000L}%06dZ"
  }

  private def render(l: Line, seq: Int, ip: String, rng: SplittableRandom): String = {
    def pick(v: Vector[String]) = v(rng.nextInt(v.size))
    // malformed kind 1 writes the time in a layout the parser rejects
    val ts =
      if (l.malformed == 1) timestamp(l.micros).replace('-', '/')
      else timestamp(l.micros)
    val ua = if (l.bot) pick(botUas) else pick(humanUas)
    val times = if (l.status.startsWith("5") && rng.nextInt(4) == 0) "-1 -1 -1"
      else f"0.00${rng.nextInt(10)} 0.${100 + rng.nextInt(800)} 0.00${rng.nextInt(10)}"
    val full = s"h2 $ts app/bench/1 $ip:${1024 + rng.nextInt(60000)} 172.31.0.1:80 " +
      s"$times ${l.status} ${l.status} ${50 + rng.nextInt(5000)} ${100 + rng.nextInt(200000)} " +
      "\"" + s"${pick(methods)} https://app.example.com:443${pick(paths)}?page=${rng.nextInt(50)} HTTP/2.0" + "\" " +
      "\"" + ua + "\" TLS_AES_128_GCM_SHA256 TLSv1.3 arn:aws:elb:x:1:tg/bench/1 " +
      "\"" + f"Root=1-$seq%08x" + "\" \"app.example.com\" \"session-reused\" 1 " +
      s"$ts " + "\"forward\" \"-\" \"-\" \"172.31.0.1:80\" " +
      "\"" + l.status + "\" \"-\" \"-\""
    // malformed kind 2 is cut short: fewer than 29 tokens
    if (l.malformed == 2) full.split(' ').take(12).mkString(" ") else full
  }

  /** Writes `spec.files` gzip files under `dir`; returns the corpus IPs and
    * what the four sinks must hold after `graft.Pipeline.run` over them.
    */
  def write(dir: Path, spec: CorpusSpec, seed: Long): (Seq[String], Expected) = {
    val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + spec.lines)
    val ipText = ips(rng, spec.distinctIps)
    val nMalformed = math.ceil(spec.lines * spec.malformed).toInt
    val span = spec.days * 86400L * 1000000L
    val lines = Array.tabulate(spec.lines) { i =>
      // the first distinctIps lines cover every IP once and are never
      // malformed, so the distinct count among kept rows is exact
      val ip = if (i < spec.distinctIps) i else rng.nextInt(spec.distinctIps)
      val malformed = if (i >= spec.lines - nMalformed) 1 + rng.nextInt(2) else 0
      val u = rng.nextDouble()
      val status =
        if (u < spec.clientError) clientErrors(rng.nextInt(clientErrors.size))
        else if (u < spec.clientError + spec.serverError) serverErrors(rng.nextInt(serverErrors.size))
        else okStatuses(rng.nextInt(okStatuses.size))
      Line(ip, baseMicros + (rng.nextDouble() * span).toLong, status,
        rng.nextDouble() < spec.bot, malformed)
    }
    // shuffle so coverage and malformed lines land in every file
    for (i <- lines.indices.reverse.dropRight(1)) {
      val j = rng.nextInt(i + 1)
      val t = lines(i); lines(i) = lines(j); lines(j) = t
    }

    Files.createDirectories(dir)
    val perFile = (spec.lines + spec.files - 1) / spec.files
    for (f <- 0 until spec.files) {
      val w = new BufferedWriter(new OutputStreamWriter(new GZIPOutputStream(
        new FileOutputStream(dir.resolve(f"part-$f%03d.log.gz").toFile), 1 << 16), "UTF-8"))
      try for (i <- f * perFile until math.min(spec.lines, (f + 1) * perFile)) {
        w.write(render(lines(i), i, ipText(lines(i).ip), rng)); w.write('\n')
      } finally w.close()
    }
    (ipText.toSeq, expected(spec, lines, ipText))
  }

  private def expected(spec: CorpusSpec, lines: Array[Line], ipText: Array[String]): Expected = {
    val geo: Array[GeoRecord] = new OfflineGeoResolver().resolve(ipText.toSeq).toArray
    val zone = ZoneId.of(ElbSchema.localZone)
    val kept = lines.filter(_.malformed == 0)
    def located(l: Line) = geo(l.ip).status == "success"
    val hours = kept.iterator.filter(located).map { l =>
      val t = Instant.ofEpochSecond(l.micros / 1000000L).atZone(zone)
      (t.getYear, t.getMonthValue, t.getDayOfMonth, t.getHour, geo(l.ip).country, geo(l.ip).city)
    }.toSet
    val botOrigins = kept.iterator.filter(l => l.bot && located(l))
      .map(l => (geo(l.ip).country, geo(l.ip).isp)).toSet
    Expected(
      lines = spec.lines,
      kept = kept.length,
      distinctIps = kept.map(_.ip).distinct.length,
      cleaned = kept.count(located),
      hourly = hours.size,
      errors = kept.count(l => l.status.startsWith("4") || l.status.startsWith("5")),
      botDetails = kept.count(_.bot),
      botSummary = botOrigins.size)
  }
}
