package graft.cli

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Manifest, PathFns}
import graft.sink.{LocalFsStore, ManifestStore, ObjectStore, Reports, RetryingStore, Uploader}

/** `bulkupload` — the reference CLI `python bulkupload.py <container>
  * <table> <n-processes> [path-cutoff]` (bulkupload.py:390-458) as one
  * Spark job graph.
  *
  * Flow parity (SURVEY §3.2): provision container → plan pending (WHERE
  * uploaded=0, bulkupload.py:357) → fan out (partitioning replaces the
  * locked shared queue) → per-file PUT with ≤5 attempts + reconnect
  * backoff → mark uploaded (snapshot join-swap) → progress/report files.
  * Object keys apply the documented cutoff-prefix + leading-slash rules
  * (bulkupload.py:48-56, both reference bugs fixed per SURVEY §2.8).
  * A re-run resumes: only still-pending rows upload (readme.md:42).
  *
  * Spark actions per run, one per output: one aggregate over the cached
  * upload results (this is the action that uploads) gives attempted and
  * ok; the snapshot write materialises the marked manifest before the
  * rename; one aggregate over the swapped-in snapshot gives (total,
  * uploaded) for both `.upload.out` and the summary; the error log is
  * appended only when some row failed. `.upload.report.log` is written
  * from the counts already in hand.
  */
object BulkUpload {

  final case class Summary(attempted: Long, uploaded: Long, failed: Long,
      totalUploaded: Long, total: Long)

  def run(spark: SparkSession, storeRoot: String, manifestRoot: String,
      parallelism: Int, cutoff: Option[String] = None,
      mkStore: String => ObjectStore =
        root => new RetryingStore(new LocalFsStore(root)),
      retrySleepMs: Long = 0L): Summary = {
    import spark.implicits._

    val store = mkStore(storeRoot)
    store.ensureContainer() // create_container, bulkupload.py:110-124

    val m = ManifestStore.read(spark, manifestRoot)
    val keyCol = {
      val cut = cutoff.map(c => PathFns.pathCutoff(col("path"), c))
        .getOrElse(col("path"))
      PathFns.stripLeadingSlash(cut)
    }
    // the listing's paths are not URI-escaped (`file:/a b/c d%.txt`):
    // Hadoop's Path parses them as written, java.net.URI would throw.
    val pending = Manifest.filterPending(m)
      .select(col("id"), col("path"), keyCol.as("key"))
      .as[(Long, String, String)]
      .map { case (id, path, key) =>
        (id, key, java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
          new org.apache.hadoop.fs.Path(path).toUri.getPath)))
      } // open(path, 'rb'), bulkupload.py:39 — executor-side per file

    // Accumulators feed live progress only; authoritative counts come from
    // the results frame (task retries/speculation can inflate accumulator
    // updates inside transformations). Wall-time around the materializing
    // action gives uploads/second — the reference's set_speed
    // (bulkupload.py:363-387).
    val counters = Uploader.mkCounters(spark)
    val t0 = System.nanoTime()
    val results = Uploader.upload(pending, () => mkStore(storeRoot),
      parallelism, maxAttempts = 5, retrySleepMs = retrySleepMs,
      counters = Some(counters)).toDF().cache()
    val (attempted, okCount) = countOf(results.agg(count(lit(1)), countIf(col("ok"))))
    val elapsedSec = math.max((System.nanoTime() - t0) / 1e9, 1e-9)
    val ratePerSec = okCount / elapsedSec

    // all post-swap reads go through the swapped-in snapshot, never the
    // pre-swap lineage (see ManifestStore.swap).
    val current = ManifestStore.swap(
      Manifest.markUploaded(m, results.filter(col("ok"))), manifestRoot)
    val (total, totalUploaded) =
      countOf(current.agg(count(lit(1)), countIf(col("uploaded"))))

    val failed = attempted - okCount
    if (failed > 0)
      Uploader.writeErrorLog(results, s"$manifestRoot/.upload.error.log")
    Reports.overwrite(s"$manifestRoot/.upload.out",
      Reports.progressLine(totalUploaded, total, ratePerSec))
    Reports.overwrite(s"$manifestRoot/.upload.report.log",
      Reports.reportText(attempted, okCount, failed))
    results.unpersist()
    Summary(attempted = attempted, uploaded = okCount, failed = failed,
      totalUploaded = totalUploaded, total = total)
  }

  private def countIf(c: Column): Column =
    coalesce(sum(when(c, 1L).otherwise(0L)), lit(0L))

  private def countOf(agg: DataFrame): (Long, Long) = {
    val r = agg.head()
    (r.getLong(0), r.getLong(1))
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: bulkupload <storeRoot> <manifestRoot> <parallelism> [cutoff]")
    val spark = Sessions.build()
    val s = run(spark, args(0), args(1), args(2).toInt, args.lift(3))
    println(s"[bulkupload] attempted=${s.attempted} uploaded=${s.uploaded} " +
      s"failed=${s.failed} total=${s.totalUploaded}/${s.total}")
    spark.stop()
  }
}
