package graft.cli

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.ops.Scale
import graft.sink.{ManifestStore, Reports}
import graft.sources.FsScan

/** `prepareupload` — the reference CLI `python prepareupload.py
  * <directory> <table>` (prepareupload.py:63-104) as one Spark batch job.
  *
  * Reference behavior: recursive walk, one INSERT+commit per file (the
  * scaling bottleneck, SURVEY §3.1), duplicate rows on re-run (no
  * uniqueness, olrcdb.py:39-44). Here: one driver-side listing, one
  * manifest snapshot write; a re-run appends only paths not yet indexed
  * (`join_anti_resume`) — the documented intent, with the
  * duplicate-insert defect fixed and noted.
  *
  * Spark actions per run: the listing launches none
  * ([[FsScan.scanRecursive]]); over an existing manifest, one aggregate
  * returns both max(id) and the row count; the id assignment collects
  * the per-partition counts of the new paths, which are also the
  * appended count; the snapshot write is the last. Nothing is cached,
  * and the sorted partitions the id assignment persists are released
  * once the snapshot is written.
  */
object PrepareUpload {

  final case class Summary(indexed: Long, appended: Long, total: Long)

  def run(spark: SparkSession, dir: String, manifestRoot: String): Summary = {
    val scanned = FsScan.scanRecursive(spark, dir).select("path")
    val existing = if (ManifestStore.exists(manifestRoot))
      Some(ManifestStore.read(spark, manifestRoot)) else None
    val newPaths = existing.map(m => scanned.join(m.select("path"), Seq("path"), "left_anti"))
      .getOrElse(scanned)

    // ids continue after the current max; assignment is the distributed
    // range-partition form (Scale.assignIdsByRange), not a global window.
    // max(id) over an empty manifest is NULL (a prior run can legitimately
    // snapshot an empty tree) — coalesce to 0, and never conflate max(id)
    // with row count: ids stay dense only absent deletes.
    val (base, existingCount) = existing.map { m =>
      val r = m.agg(coalesce(max(col("id")), lit(0L)), count(lit(1))).head()
      (r.getLong(0), r.getLong(1))
    }.getOrElse((0L, 0L))
    val ids = Scale.assignIdsByRangeCounted(newPaths, "path")
    val appended = ids.frame
      .select((col("id") + base).as("id"), col("path"), lit(false).as("uploaded"))
    val next = existing.map(_.unionByName(appended)).getOrElse(appended)
    try ManifestStore.swap(next, manifestRoot)
    finally ids.release()
    val nAppended = ids.rows
    val total = existingCount + nAppended
    Reports.overwrite(s"$manifestRoot/.prepare.out",
      s"${Reports.utcNow()} UTC: $nAppended files indexed, $total total")
    Summary(indexed = nAppended, appended = nAppended, total = total)
  }

  def main(args: Array[String]): Unit = {
    val Array(dir, manifestRoot) = args.take(2)
    val spark = Sessions.build()
    val s = run(spark, dir, manifestRoot)
    println(s"[prepareupload] indexed=${s.indexed} total=${s.total}")
    spark.stop()
  }
}

private[cli] object Sessions {
  def build(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
