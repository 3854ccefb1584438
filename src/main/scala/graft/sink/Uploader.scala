package graft.sink

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.LongAccumulator
import graft.model.UploadResult
import graft.ops.Manifest

/** Parallel upload layer (SURVEY §2.11).
  *
  * Reference: N forked worker processes popping a locked shared queue
  * (bulkupload.py:421-440, 171-185), ≤5 attempts per file with 1 s sleep
  * (bulkupload.py:187-202), shared `Value` counters (bulkupload.py:409-416).
  *
  * Spark design: the "queue" is the partitioning itself — `repartition(n)`
  * hands each task a disjoint slice, no user-level locking; a dead task is
  * re-run by the scheduler (`spark.task.maxFailures`), which the reference
  * cannot do (a dead worker loses its popped entry). Counters are
  * `LongAccumulator`s (driver-read only); authoritative counts come from
  * the returned results Dataset, not the accumulators.
  *
  * Scale note: the exchange carries `(id, key, source)` — for the CLI the
  * source is the file's path, so no payload byte crosses the shuffle; the
  * bytes are read inside each put attempt. Results are a Dataset the size
  * of the *pending set ids*, never the payload.
  */
object Uploader {

  final case class Counters(uploaded: LongAccumulator, failed: LongAccumulator)

  def mkCounters(spark: SparkSession): Counters = Counters(
    spark.sparkContext.longAccumulator("uploaded"),
    spark.sparkContext.longAccumulator("failed"))

  /** What one [[step]] counted: attempted, ok and the most attempts any
    * row took over its results; total and uploaded rows of the committed
    * manifest; and ok ÷ the wall time of the upload action. */
  final case class Outcome(attempted: Long, ok: Long, maxAttempts: Int,
      total: Long, uploaded: Long, ratePerSec: Double) {
    def failed: Long = attempted - ok
  }

  /** The one upload route (bulkupload.py:164-261): provision the
    * container, upload the pending `(id, key, source)` rows, mark the ok
    * ids in `m`, `commit` the marked manifest and count both sides.
    * Actions: one aggregate over the cached results (the action that
    * uploads, and the one the rate is timed on), whatever `commit` runs,
    * one aggregate over the committed frame; `logFailed` gets the results
    * only when some row failed. Reads after the commit go through the
    * frame `commit` returns (see [[ManifestStore.swap]]). */
  def step[S](m: DataFrame, pending: Dataset[(Long, String, S)],
      read: S => Array[Byte], mkStore: () => ObjectStore, parallelism: Int,
      commit: DataFrame => DataFrame, logFailed: DataFrame => Unit): Outcome = {
    mkStore().ensureContainer() // create_container, bulkupload.py:110-124
    val t0 = System.nanoTime()
    val results = uploadFrom(pending, read, mkStore, parallelism).toDF().cache()
    try {
      val r = results.agg(count(lit(1)), countIf(col("ok")),
        coalesce(max(col("attempts")), lit(0))).head()
      // uploads/second, the reference's set_speed (bulkupload.py:363-387)
      val ratePerSec = r.getLong(1) / math.max((System.nanoTime() - t0) / 1e9, 1e-9)
      val c = commit(Manifest.markUploaded(m, results.filter(col("ok"))))
        .agg(count(lit(1)), countIf(col("uploaded"))).head()
      val out = Outcome(attempted = r.getLong(0), ok = r.getLong(1),
        maxAttempts = r.getInt(2), total = c.getLong(0), uploaded = c.getLong(1),
        ratePerSec = ratePerSec)
      if (out.failed > 0) logFailed(results)
      out
    } finally results.unpersist()
  }

  private def countIf(c: Column): Column =
    coalesce(sum(when(c, 1L).otherwise(0L)), lit(0L))

  /** Upload `(id, key, bytes)` rows: [[uploadFrom]] with the bytes as
    * their own source. */
  def upload(
      pending: Dataset[(Long, String, Array[Byte])],
      mkStore: () => ObjectStore,
      parallelism: Int,
      maxAttempts: Int = 5,
      retrySleepMs: Long = 0L,
      counters: Option[Counters] = None): Dataset[UploadResult] =
    uploadFrom(pending, identity[Array[Byte]], mkStore, parallelism,
      maxAttempts, retrySleepMs, counters)

  /** Upload `(id, key, source)` rows via a per-partition store client;
    * `read` turns a source into its bytes inside each put attempt, after
    * the repartition, so a source that cannot be read fails that row
    * (with the exception's message as its error) like a failed put.
    * At-least-once: the read and PUT happen before the result row exists,
    * so a crash between = re-read and re-upload on resume
    * (bulkupload.py:193-197 ordering; idempotent PUT makes the retry
    * safe). */
  def uploadFrom[S](
      pending: Dataset[(Long, String, S)],
      read: S => Array[Byte],
      mkStore: () => ObjectStore,
      parallelism: Int,
      maxAttempts: Int = 5,
      retrySleepMs: Long = 0L,
      counters: Option[Counters] = None): Dataset[UploadResult] = {
    val spark = pending.sparkSession
    import spark.implicits._
    pending.repartition(parallelism).mapPartitions { it =>
      val store = mkStore()
      it.map { case (id, key, source) =>
        var attempt = 0
        var lastErr: String = ""
        var ok = false
        while (!ok && attempt < maxAttempts) {
          attempt += 1
          try { store.put(key, read(source)); ok = true }
          catch {
            case e: Exception =>
              lastErr = String.valueOf(e.getMessage)
              if (attempt < maxAttempts && retrySleepMs > 0)
                Thread.sleep(retrySleepMs)
          }
        }
        counters.foreach { c =>
          if (ok) c.uploaded.add(1) else c.failed.add(1)
        }
        UploadResult(id, ok, attempt, if (ok) "" else lastErr)
      }
    }
  }

  /** Failed rows as an appendable error log (sink_error_log,
    * prepareupload.py:47-49 / bulkupload.py:217-221). */
  def writeErrorLog(results: DataFrame, path: String): Unit =
    results.filter(!col("ok"))
      .select(concat_ws("\t", col("id"), col("error")).as("value"))
      .write.mode("append").text(path)
}
