package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.zip.GZIPOutputStream

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec

/** The scaffold shared by the `elb`, `warc` and `textarchive` sources
  * ([[FileRecordSource]]), driven through each format: multi-path loads
  * (a comma inside a path), the clamped `maxpayload` option, and the
  * micro-batch path (AvailableNow drain ≡ batch read; the same
  * checkpoint resumes on only a newly added file).
  */
class FileRecordSourceSpec extends SparkSpec {

  private def utf8(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)

  /** One file's bytes for a format, holding one record per marker; the
    * marker lands in the format's `markerCol`.
    */
  private case class Fmt(name: String, ext: String, markerCol: String,
      cols: Seq[String], bytes: Seq[String] => Array[Byte])

  private def gzLines(lines: Seq[String]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    val gz = new GZIPOutputStream(out)
    gz.write(utf8(lines.map(_ + "\n").mkString)); gz.close()
    out.toByteArray
  }

  private def warcRecord(id: String, contentLength: String, payload: String): String =
    s"WARC/1.0\r\nWARC-Type: conversion\r\nWARC-Record-ID: $id\r\n" +
      "WARC-Date: 2025-06-01T00:00:00Z\r\nContent-Type: text/plain\r\n" +
      s"Content-Length: $contentLength\r\n\r\n$payload\r\n\r\n"

  private def warcBytes(ids: Seq[String]): Array[Byte] =
    utf8(ids.map(id => warcRecord(id, utf8(s"body $id").length.toString, s"body $id")).mkString)

  private def tarBytes(names: Seq[String]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    names.foreach(n => SyntheticTextArchive.tarMember(out, n, 1748736000L, utf8(s"text $n\n")))
    SyntheticTextArchive.tarTrailer(out)
    out.toByteArray
  }

  private val formats = Seq(
    Fmt("elb", "log.gz", "type", Seq("type", "time", "log_source_file"),
      ms => gzLines(ms.map(m => s"$m 2025-06-01T00:00:00.000000Z app/x"))),
    Fmt("warc", "warc", "record_id",
      Seq("warc_type", "record_id", "content_length", "ok", "warc_source_file"),
      warcBytes),
    Fmt("textarchive", "tar", "member_path",
      Seq("member_path", "ext", "size_bytes", "text", "ok", "archive_source_file"),
      tarBytes))

  private def write(dir: Path, name: String, content: Array[Byte]): String = {
    Files.createDirectories(dir)
    Files.write(dir.resolve(name), content).toString
  }

  private def canon(df: DataFrame, cols: Seq[String]): Seq[String] =
    df.select(cols.map(col): _*).collect().map(_.mkString("|")).sorted.toSeq

  test("multi-path load reads every file, a comma inside a path included") {
    for (f <- formats.filter(f => f.name == "elb" || f.name == "warc")) {
      val root = Files.createTempDirectory(s"multipath-${f.name}")
      val a = write(root.resolve("plain"), s"a.${f.ext}", f.bytes(Seq("m1", "m2")))
      val b = write(root.resolve("with,comma"), s"b.${f.ext}", f.bytes(Seq("m3")))
      val got = spark.read.format(f.name).load(a, b)
        .select(col(f.markerCol)).collect().map(_.getString(0)).sorted.toSeq
      assert(got == Seq("m1", "m2", "m3"), s"${f.name}: $got")
    }
  }

  test("warc maxpayload above 2 GiB is clamped: an oversized record quarantines, no task failure") {
    val dir = Files.createTempDirectory("warc-clamp")
    val path = write(dir, "big.warc",
      utf8(warcRecord("<urn:uuid:big>", "3000000000", "short")))
    val rows = spark.read.format("warc").option("maxpayload", "4000000000")
      .load(path).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(!r.getAs[Boolean]("ok"))
    assert(r.getAs[String]("error").contains("exceeds maxPayload"), r.getAs[String]("error"))
    assert(r.getAs[Long]("content_length") == 3000000000L)
  }

  test("micro-batch: AvailableNow drain ≡ batch read; the checkpoint resumes on only a new file") {
    for (f <- formats) {
      val dir = Files.createTempDirectory(s"stream-${f.name}")
      write(dir, s"a-001.${f.ext}", f.bytes(Seq("s1", "s2")))
      write(dir, s"a-002.${f.ext}", f.bytes(Seq("s3")))
      val glob = s"$dir/*.${f.ext}"
      val ckpt = Files.createTempDirectory(s"stream-ckpt-${f.name}").toString
      def drain(query: String): Seq[Row] = {
        val got = new java.util.concurrent.ConcurrentLinkedQueue[Row]()
        val q = spark.readStream.format(f.name).load(glob)
          .select(f.cols.map(col): _*)
          .writeStream.queryName(query)
          .foreachBatch { (batch: DataFrame, _: Long) =>
            batch.collect().foreach(got.add)
          }
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow()).start()
        q.awaitTermination()
        got.asScala.toSeq
      }
      def markers(rows: Seq[Row]): Seq[String] =
        rows.map(_.getAs[String](f.markerCol)).sorted

      val first = drain(s"fr_${f.name}_1")
      assert(first.map(_.mkString("|")).sorted ==
        canon(spark.read.format(f.name).load(glob), f.cols), f.name)
      assert(markers(first) == Seq("s1", "s2", "s3"), f.name)
      // the new file sorts after the processed ones; the SAME checkpoint
      // reads only it
      write(dir, s"a-003.${f.ext}", f.bytes(Seq("s4", "s5")))
      assert(markers(drain(s"fr_${f.name}_2")) == Seq("s4", "s5"), f.name)
    }
  }
}
