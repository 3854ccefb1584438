package graft

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Manifest
import graft.sink.{LocalFsStore, Uploader}

/** Flagship end-to-end pipeline — the full reference equivalence:
  * index → pending → upload → mark → report (SURVEY §3.2).
  *
  * Reference flow: `prepareupload.py` (index) then `bulkupload.py`
  * (auth → container → plan → fork N workers → per-file PUT+UPDATE →
  * report). Here it is one Spark job graph:
  *
  *   manifest (derived)         — prepare_upload + create_table
  *   └ filter(!uploaded)        — WHERE uploaded='0'   (bulkupload.py:357)
  *     └ mapPartitions(upload)  — N workers + retry    (bulkupload.py:164-228)
  *       └ join → markUploaded  — set_uploaded         (bulkupload.py:253-261)
  *         └ agg report         — end_reporting        (bulkupload.py:301-317)
  *
  * Returns the one-row report DataFrame (driver smoke-checks rows > 0).
  */
object Pipeline {

  /** Manifest + payload, joined by EQUI-join on the reconstructed path
    * (exposed for the plan assertion in PipelineSpec: this must never
    * degrade to a nested-loop join). */
  private[graft] def attachPayload(spark: SparkSession, dir: String): DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    Manifest.fromDocuments(spark, dir).join(
      docs.select(
        concat(col("source"), lit("/doc_"), col("doc_id"), lit(".txt")).as("path"),
        col("text")),
      Seq("path"))
  }

  def run(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._

    // 1. Index (manifest_create) — with payload carried alongside. The
    //    manifest path is constructed deterministically from the document
    //    (source/doc_<id>.txt), so the payload attach is an EQUI-join on
    //    the reconstructed path — shuffled hash/sort-merge on one key,
    //    the plan that survives 100×. (A LIKE-suffix join here would be a
    //    BroadcastNestedLoopJoin: O(n·m) compares.)
    val withContent = attachPayload(spark, dir)
    val m = Manifest.fromDocuments(spark, dir)

    // 2. Plan: pending only, processed in id order (ORDER BY id DESC +
    //    tail-pop in the reference ⇒ ascending processing order).
    val pending = withContent.filter(!col("uploaded"))
      .select(col("id"), col("path"), col("text"))
      .as[(Long, String, String)]
      .map { case (id, path, text) => (id, path, text.getBytes("UTF-8")) }

    // 3. Provision container + upload via per-partition clients into a
    //    scratch store that is deleted before returning (the report row
    //    is a local frame, so nothing reads the store afterwards).
    //    Wall-time around the materializing action gives the
    //    uploads/second the reference's set_speed poll loop reports
    //    (bulkupload.py:363-387).
    val storeRoot =
      java.nio.file.Files.createTempDirectory("graft-store").toString
    try uploadAndReport(spark, m, pending, storeRoot)
    finally graft.ops.SessionCleanup.deleteRecursively(storeRoot)
  }

  private def uploadAndReport(spark: SparkSession, m: DataFrame,
      pending: Dataset[(Long, String, Array[Byte])], storeRoot: String): DataFrame = {
    import spark.implicits._
    new LocalFsStore(storeRoot).ensureContainer()
    val counters = Uploader.mkCounters(spark)
    val t0 = System.nanoTime()
    val results = Uploader.upload(pending, () => new LocalFsStore(storeRoot),
      parallelism = spark.sparkContext.defaultParallelism,
      counters = Some(counters)).cache()
    val nOk = results.filter(col("ok")).count()
    val elapsedSec = math.max((System.nanoTime() - t0) / 1e9, 1e-9)
    val ratePerSec = nOk / elapsedSec

    // 4. Mark uploaded (snapshot semantics; see ManifestStore for swap).
    val marked = Manifest.markUploaded(m, results.filter(col("ok")).toDF())

    // 4b. Progress + report files (sink_progress_file / end_reporting).
    graft.sink.Reports.writeProgress(marked, s"$storeRoot/.upload.out", ratePerSec)
    graft.sink.Reports.writeReport(results.toDF(), s"$storeRoot/.upload.report.log")

    // 5. Report (end_reporting): totals + percent + rate fields. Computed
    //    eagerly (one tiny row) so the upload stage's cache can be released
    //    before returning — the caller's action must not re-run uploads.
    val rep = marked.agg(
        count(lit(1)).as("total"),
        sum(when(col("uploaded"), 1).otherwise(0)).as("uploaded"),
        round(sum(when(col("uploaded"), 1).otherwise(0)) * 100.0 / count(lit(1)), 2)
          .as("pct_complete"))
      .crossJoin(results.agg(
        sum(when(!col("ok"), 1).otherwise(0)).as("failed"),
        max(col("attempts")).as("max_attempts")))
      .head()
    results.unpersist()
    // every aggregate slot except count(*) can be null on an empty input
    // (sum/max over zero rows) — e.g. a resume run with nothing pending.
    Seq((rep.getLong(0),
        if (rep.isNullAt(1)) 0L else rep.getLong(1),
        if (rep.isNullAt(2)) 0.0 else rep.getDouble(2),
        if (rep.isNullAt(3)) 0L else rep.getLong(3),
        if (rep.isNullAt(4)) 0 else rep.getInt(4),
        math.rint(ratePerSec * 100) / 100))
      .toDF("total", "uploaded", "pct_complete", "failed", "max_attempts",
        "rate_per_sec")
  }
}
