package graft.cli

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Manifest, PathFns}
import graft.sink.{LocalFsStore, ManifestStore, ObjectStore, Reports, RetryingStore, Uploader}

/** `bulkupload` — the reference CLI `python bulkupload.py <container>
  * <table> <n-processes> [path-cutoff]` (bulkupload.py:390-458) as one
  * Spark job graph.
  *
  * Flow parity (SURVEY §3.2): provision container → plan pending (WHERE
  * uploaded=0, bulkupload.py:357) → fan out (partitioning replaces the
  * locked shared queue) → per-file open + PUT with ≤5 attempts +
  * reconnect backoff → mark uploaded (snapshot join-swap) →
  * progress/report files.
  * Object keys apply the documented cutoff-prefix + leading-slash rules
  * (bulkupload.py:48-56, both reference bugs fixed per SURVEY §2.8).
  * A re-run resumes: only still-pending rows upload (readme.md:42).
  *
  * Spark actions per run: those of [[Uploader.step]] (one aggregate
  * over the upload results — the action that uploads — the snapshot
  * write that commits the marked manifest, one aggregate over the
  * swapped-in snapshot), plus the error-log append when some row failed.
  * `.upload.out` and `.upload.report.log` are written from the counts
  * the step returns.
  */
object BulkUpload {

  final case class Summary(attempted: Long, uploaded: Long, failed: Long,
      totalUploaded: Long, total: Long)

  def run(spark: SparkSession, storeRoot: String, manifestRoot: String,
      parallelism: Int, cutoff: Option[String] = None,
      mkStore: String => ObjectStore =
        root => new RetryingStore(new LocalFsStore(root))): Summary = {
    val m = ManifestStore.read(spark, manifestRoot)
    val o = Uploader.step(m, pending(m, cutoff), readFile,
      () => mkStore(storeRoot), parallelism,
      ManifestStore.swap(_, manifestRoot),
      Uploader.writeErrorLog(_, s"$manifestRoot/.upload.error.log"))

    Reports.overwrite(s"$manifestRoot/.upload.out",
      Reports.progressLine(o.uploaded, o.total, o.ratePerSec))
    Reports.overwrite(s"$manifestRoot/.upload.report.log",
      Reports.reportText(o.attempted, o.ok, o.failed))
    Summary(attempted = o.attempted, uploaded = o.ok, failed = o.failed,
      totalUploaded = o.uploaded, total = o.total)
  }

  /** The pending `(id, key, path)` rows of manifest `m` (WHERE
    * uploaded=0, bulkupload.py:357), keyed by the cutoff-prefix and
    * leading-slash rules. */
  private[graft] def pending(m: DataFrame,
      cutoff: Option[String]): Dataset[(Long, String, String)] = {
    import m.sparkSession.implicits._
    val cut = cutoff.map(c => PathFns.pathCutoff(col("path"), c))
      .getOrElse(col("path"))
    Manifest.filterPending(m)
      .select(col("id"), PathFns.stripLeadingSlash(cut).as("key"), col("path"))
      .as[(Long, String, String)]
  }

  /** open(path, 'rb'), bulkupload.py:39 — executor-side, inside each put
    * attempt. The listing's paths are not URI-escaped (`file:/a b/c
    * d%.txt`): Hadoop's Path parses them as written, java.net.URI would
    * throw. */
  private[graft] val readFile: String => Array[Byte] = path =>
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
      new org.apache.hadoop.fs.Path(path).toUri.getPath))

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
