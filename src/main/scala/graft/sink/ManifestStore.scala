package graft.sink

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters.IteratorHasAsScala
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet snapshot persistence for the manifest (SURVEY §2.10).
  *
  * Reference: `UPDATE t SET uploaded='1' WHERE id=?` (bulkupload.py:
  * 253-261) mutates MySQL in place. Parquet is immutable, so state update
  * = write a new snapshot and atomically swap it in:
  * write to `<root>/_tmp_<gen>` → rename to `<root>/current` (POSIX
  * atomic directory move). A crash mid-write leaves the previous
  * `current` intact — exactly the resume-on-restart guarantee
  * (readme.md:42, `resume_restart`).
  *
  * (Delta Lake MERGE would be the managed form of this; plain parquet
  * keeps the dependency footprint zero per the build contract.)
  */
object ManifestStore {

  def currentPath(root: String): String = s"$root/current"

  def read(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(currentPath(root))

  def exists(root: String): Boolean =
    Files.exists(Paths.get(currentPath(root)))

  /** Write `m` as the new current snapshot, atomically, and return a
    * frame READ FROM the new snapshot. The parquet write into `_tmp`
    * fully materializes `m` (reading the old `current` it may derive
    * from) *before* any rename, so the swap itself is safe; callers must
    * use the returned frame afterwards — a pre-swap `m` whose cached
    * partitions get evicted would recompute against the renamed (deleted)
    * source directory and silently corrupt. */
  def swap(m: DataFrame, root: String): DataFrame =
    swap(m, root, retain = 0)

  /** As [[swap]], but with snapshot RETENTION: `retain` > 0 keeps the
    * displaced snapshot as `<root>/gen_<nanos>` (readable history — the
    * poor-man's time travel) and prunes history down to `retain`
    * generations; `retain` = 0 deletes the displaced snapshot at once
    * (the original behavior). [[vacuum]] is the standalone pruning pass
    * — the retention half of table maintenance, beside compaction
    * (Profile.compactCopy) and re-clustering (sortedCopy/zorderCopy). */
  def swap(m: DataFrame, root: String, retain: Int): DataFrame = {
    Files.createDirectories(Paths.get(root))
    val gen = System.nanoTime()
    val tmp = Paths.get(root, s"_tmp_$gen")
    m.write.mode("overwrite").parquet(tmp.toString)
    val cur = Paths.get(currentPath(root))
    val old: Option[Path] =
      if (Files.exists(cur)) {
        val o = Paths.get(root,
          if (retain > 0) s"gen_$gen" else s"_old_$gen")
        Files.move(cur, o, StandardCopyOption.ATOMIC_MOVE)
        Some(o)
      } else None
    Files.move(tmp, cur, StandardCopyOption.ATOMIC_MOVE)
    if (retain > 0) vacuum(root, retain)
    else old.foreach(deleteRecursively)
    // the snapshot holds exactly `m`'s columns: reading it back with that
    // schema skips parquet's footer-inference job
    m.sparkSession.read.schema(m.schema).parquet(currentPath(root))
  }

  /** Sorted retained generations, newest first. */
  def generations(root: String): Seq[Path] = {
    val dir = Paths.get(root)
    if (!Files.exists(dir)) Seq.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala
        .filter(p => p.getFileName.toString.startsWith("gen_"))
        .toSeq.sortBy(_.getFileName.toString).reverse
      finally s.close()
    }
  }

  /** Delete all but the `keep` newest retained generations (never the
    * live `current`); returns how many were removed. */
  def vacuum(root: String, keep: Int): Int = {
    val victims = generations(root).drop(math.max(0, keep))
    victims.foreach(deleteRecursively)
    victims.size
  }

  private def deleteRecursively(p: Path): Unit =
    graft.ops.SessionCleanup.deleteRecursively(p.toString)
}
