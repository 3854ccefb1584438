package graft.sink

import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Progress / report file sinks (SURVEY §2.1 `sink_progress_file`,
  * `sink_error_log` header, `date_now_fmt`).
  *
  * Reference behaviors reproduced:
  *  - overwrite-in-place progress file, `{pct}% Uploaded at {v:.2f}
  *    uploads/second` (bulkupload.py:330-338, `.upload.out`);
  *  - final report with totals + UTC timestamp header
  *    (`end_reporting` bulkupload.py:301-317, prepareupload.py:96-104);
  *  - timestamps formatted `%Y-%m-%d %H:%M:%S` in UTC (bulkupload.py:70).
  *
  * These are driver-side writes of *aggregated* (tiny) results — the
  * reference rewrote its progress file once per uploaded file from every
  * worker; here progress comes from one aggregation over the results
  * DataFrame, so the write rate is O(1) not O(files).
  */
object Reports {

  private val fmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    .withZone(ZoneOffset.UTC)

  def utcNow(): String = fmt.format(Instant.now())

  /** Atomic overwrite-in-place (temp + move), like the reference's
    * open(..., 'w+') rewrite but crash-safe. */
  def overwrite(path: String, content: String): Unit = {
    val target = Paths.get(path)
    if (target.getParent != null) Files.createDirectories(target.getParent)
    val tmp = Files.createTempFile(
      Option(target.getParent).getOrElse(Paths.get(".")), ".prog-", ".tmp")
    Files.writeString(tmp, content)
    Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }

  def append(path: String, content: String): Unit = {
    val target = Paths.get(path)
    if (target.getParent != null) Files.createDirectories(target.getParent)
    Files.writeString(target, content,
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  /** `{pct}% Uploaded at {rate:.2f} uploads/second` (bulkupload.py:330). */
  def progressLine(uploaded: Long, total: Long, ratePerSec: Double): String = {
    val pct = if (total == 0) 100.0 else uploaded * 100.0 / total
    f"$pct%.8f%% Uploaded at $ratePerSec%.2f uploads/second"
  }

  /** Write the progress file from a manifest state DataFrame. */
  def writeProgress(manifest: DataFrame, path: String, ratePerSec: Double): Unit = {
    val Row(total: Long, up: Long) = manifest.agg(
      count(lit(1)),
      coalesce(sum(when(col("uploaded"), 1L).otherwise(0L)), lit(0L))).head()
    overwrite(path, progressLine(up, total, ratePerSec))
  }

  /** Final report (end_reporting): header timestamp + totals. */
  def writeReport(results: DataFrame, path: String): Unit = {
    val Row(n: Long, ok: Long, failed: Long) = results.agg(
      count(lit(1)),
      coalesce(sum(when(col("ok"), 1L).otherwise(0L)), lit(0L)),
      coalesce(sum(when(!col("ok"), 1L).otherwise(0L)), lit(0L))).head()
    overwrite(path, reportText(n, ok, failed))
  }

  /** The report file's text, from counts already known. */
  def reportText(attempted: Long, ok: Long, failed: Long): String =
    s"""Report: ${utcNow()} UTC
       |Total attempted: $attempted
       |Uploaded: $ok
       |Failed: $failed
       |""".stripMargin
}
