package graft.sources

import java.io.EOFException
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Archive fsck — the central-directory audit that closes the streaming
  * walk's one documented blind spot ([[ZipWalker]] scaladoc): a zip
  * whose local-header SIGNATURE is corrupted reads as a clean
  * end-of-stream to any forward-only reader (the JDK returns null for a
  * non-LOC signature), so members after the corruption vanish with no
  * quarantine row. The central directory at the END of the file still
  * names every member, so cross-checking the two walks detects exactly
  * that lie — the q256 `ivfFsck` discipline applied to containers.
  *
  * Per archive, one row: `central_members` (regular-file entries per
  * the central directory), `walk_members` / `walk_quarantined` (what
  * the forward stream walk produced), and `consistent` = ok ∧ counts
  * equal ∧ zero quarantines. A file whose tail has no EOCD record, has
  * zip64 markers (not written by any JDK `ZipOutputStream` path we
  * ingest; unsupported here), or whose central directory is torn gets
  * `ok=false` with a named error — never an exception.
  *
  * Scale shape: the central-directory side is TAIL-ONLY I/O — one seek
  * to the EOCD search window (≤ 64 KiB + 22), one seek to the central
  * directory (≈ 60 bytes per member), so fscking a 10 GiB archive
  * costs kilobytes-to-megabytes of reads, not a scan; the walk side
  * reuses [[ZipWalker]] with payload reads skipped (header hops). One
  * task per archive, parallel in file count — the corpus-dump layout.
  * The bounded `mapPartitions` here is the Multimodal JDK-codec
  * exemption: per-file imperative I/O no Column expression can express.
  */
object ArchiveAudit {

  case class ZipAuditRow(archive_file: String,
      central_members: java.lang.Long, walk_members: java.lang.Long,
      walk_quarantined: java.lang.Long, consistent: Boolean,
      ok: Boolean, error: String)

  /** One audit row per `.zip` file matched by `pattern` (non-zip
    * matches are ignored — tars have no central directory to audit).
    */
  def zipFsck(spark: SparkSession, pattern: String,
      maxPayload: Long = FileRecordSource.defaultMaxPayload): DataFrame = {
    val conf = new SerializableHadoopConf(spark.sessionState.newHadoopConf())
    val files = FileRecordSource.expand(Seq(pattern), conf.value)
      .filter(_.toLowerCase.endsWith(".zip"))
    // the walker materializes payloads as byte arrays: the sources' clamp
    val cappedPayload = FileRecordSource.clampPayload(maxPayload)
    import spark.implicits._
    val parts = math.max(1, math.min(files.size, 64))
    spark.createDataset(files).repartition(parts) // bounded: the file listing
      .mapPartitions(_.map(p => auditOne(p, conf, cappedPayload)))
      .toDF()
  }

  private def fail(path: String, err: String): ZipAuditRow =
    ZipAuditRow(path, null, null, null, consistent = false, ok = false, err)

  private[sources] def auditOne(path: String, conf: SerializableHadoopConf,
      maxPayload: Long): ZipAuditRow = {
    try {
      val hp = new org.apache.hadoop.fs.Path(path)
      val fs = hp.getFileSystem(conf.value)
      val len = fs.getFileStatus(hp).getLen

      // ——— central-directory side: the shared tail-only parse (also
      //     drives splittable zip reading in TextArchiveDataSource.planBatch); cdSize is
      //     capped there because an untrusted u32 in (cap, 0xFFFFFFFE]
      //     would pass the zip64 check and the EOF guard, then overflow
      //     the allocation — a named error keeps the "never an
      //     exception" contract honest against adversarial EOCDs
      var regular = 0L
      ZipCentralDirectory.visit(fs, hp, len) { e =>
        if (!e.isDirectory) regular += 1
      } match {
        case Left(err) => return fail(path, err)
        case Right(_) => ()
      }
      val central = regular

      // ——— forward-walk side: payload reads skipped (wantText=false)
      val raw = fs.open(hp)
      val walker = new ZipWalker(raw, wantText = false, maxPayload, _ => true)
      var members = 0L
      var quarantined = 0L
      try {
        var m = walker.nextMember()
        while (m != null) {
          if (!m.ok) quarantined += 1
          else if (m.memberPath != null) members += 1
          m = walker.nextMember()
        }
      } finally walker.close()

      ZipAuditRow(path, central, members, quarantined,
        consistent = central == members && quarantined == 0L,
        ok = true, error = null)
    } catch {
      case e: EOFException => fail(path, s"EOF during audit: ${e.getMessage}")
      case e: java.io.IOException => fail(path, s"audit read error: ${e.getMessage}")
      // belt for the braces above: any other non-fatal surprise from an
      // adversarial archive becomes a named row, not a task failure
      case scala.util.control.NonFatal(e) =>
        fail(path, s"audit error: ${e.getClass.getSimpleName}: ${e.getMessage}")
    }
  }
}
