package graft

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Manifest
import graft.sink.{LocalFsStore, Uploader}

/** Flagship end-to-end pipeline — the full reference equivalence:
  * index → pending → upload → mark → report (SURVEY §3.2).
  *
  * Reference flow: `prepareupload.py` (index) then `bulkupload.py`
  * (auth → container → plan → fork N workers → per-file PUT+UPDATE →
  * report). Here it is one Spark job graph on the CLI's upload route:
  *
  *   manifest (derived)        — prepare_upload + create_table
  *   └ filter(!uploaded)       — WHERE uploaded='0'   (bulkupload.py:357)
  *     └ Uploader.step         — source = `text`, read = its UTF-8 bytes
  *       ├ upload + retry      — N workers            (bulkupload.py:164-228)
  *       ├ markUploaded        — set_uploaded         (bulkupload.py:253-261)
  *       └ counts              — end_reporting        (bulkupload.py:301-317)
  *
  * The step commits nothing (the marked manifest is only counted) and
  * writes no file. Returns the one-row report DataFrame (`graft.Smoke`
  * checks rows > 0).
  */
object Pipeline {

  /** Manifest + payload, joined by EQUI-join on the reconstructed path
    * (exposed for the plan assertion in CliSpec: this must never
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

    // 1. Index (manifest_create).
    val m = Manifest.fromDocuments(spark, dir)

    // 2. Plan: pending only, keyed by path, with the text as the source.
    //    The manifest path is constructed deterministically from the
    //    document (source/doc_<id>.txt), so the payload attach is an
    //    EQUI-join on the reconstructed path — shuffled hash/sort-merge on
    //    one key, the plan that survives 100×. (A LIKE-suffix join here
    //    would be a BroadcastNestedLoopJoin: O(n·m) compares.)
    val pending = attachPayload(spark, dir).filter(!col("uploaded"))
      .select(col("id"), col("path"), col("text"))
      .as[(Long, String, String)]

    // 3. Upload, mark and count, into a scratch store that is deleted
    //    before returning (the report row is a local frame, so nothing
    //    reads the store afterwards).
    val storeRoot =
      java.nio.file.Files.createTempDirectory("graft-store").toString
    val o =
      try Uploader.step(m, pending, (t: String) => t.getBytes(UTF_8),
        () => new LocalFsStore(storeRoot), spark.sparkContext.defaultParallelism,
        identity, _ => ())
      finally graft.ops.SessionCleanup.deleteRecursively(storeRoot)

    // 4. Report (end_reporting): pct_complete as SQL round(…, 2) would
    //    give it (HALF_UP on the double's decimal form), 0.0 when empty.
    val pct = if (o.total == 0) 0.0
      else BigDecimal(o.uploaded * 100.0 / o.total)
        .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
    Seq((o.total, o.uploaded, pct, o.failed, o.maxAttempts,
        math.rint(o.ratePerSec * 100) / 100))
      .toDF("total", "uploaded", "pct_complete", "failed", "max_attempts",
        "rate_per_sec")
  }
}
