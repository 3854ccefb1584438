package graft.sink

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters.IteratorHasAsScala
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet snapshot persistence for the manifest (SURVEY §2.10).
  *
  * Reference: `UPDATE t SET uploaded='1' WHERE id=?` (bulkupload.py:
  * 253-261) mutates MySQL in place. Parquet is immutable, so state update
  * = write a new snapshot and atomically swap it in:
  * write to `<root>/_tmp_<gen>` → rename `current` to `_old_<gen>` →
  * rename `_tmp_<gen>` to `<root>/current` (POSIX atomic directory
  * moves). A crash mid-write leaves the previous `current` intact, and
  * a crash between the renames is rolled forward by the next
  * `exists`/`read`/`swap` — exactly the resume-on-restart guarantee
  * (readme.md:42, `resume_restart`).
  *
  * (Delta Lake MERGE would be the managed form of this; plain parquet
  * keeps the dependency footprint zero per the build contract.)
  */
object ManifestStore {

  def currentPath(root: String): String = s"$root/current"

  /** The committed snapshot. */
  def read(spark: SparkSession, root: String): DataFrame = {
    rollForward(root)
    spark.read.parquet(currentPath(root))
  }

  def exists(root: String): Boolean = {
    rollForward(root)
    Files.exists(Paths.get(currentPath(root)))
  }

  /** Write `m` as the new current snapshot, atomically, and return a
    * frame READ FROM the new snapshot. The parquet write into `_tmp`
    * fully materializes `m` (reading the old `current` it may derive
    * from) *before* any rename, so the swap itself is safe; callers must
    * use the returned frame afterwards — a pre-swap `m` whose cached
    * partitions get evicted would recompute against the renamed (deleted)
    * source directory and silently corrupt. Leftovers of an earlier
    * crashed swap (a half-written `_tmp_*`, an undeleted `_old_*`) are
    * swept first. */
  def swap(m: DataFrame, root: String): DataFrame = {
    Files.createDirectories(Paths.get(root))
    rollForward(root)
    leftovers(root).foreach(deleteRecursively)
    val gen = System.nanoTime()
    val tmp = Paths.get(root, s"_tmp_$gen")
    m.write.mode("overwrite").parquet(tmp.toString)
    val cur = Paths.get(currentPath(root))
    val old = Paths.get(root, s"_old_$gen")
    val hadCurrent = Files.exists(cur)
    if (hadCurrent) Files.move(cur, old, StandardCopyOption.ATOMIC_MOVE)
    Files.move(tmp, cur, StandardCopyOption.ATOMIC_MOVE)
    if (hadCurrent) deleteRecursively(old)
    // the snapshot holds exactly `m`'s columns: reading it back with that
    // schema skips parquet's footer-inference job
    m.sparkSession.read.schema(m.schema).parquet(currentPath(root))
  }

  /** Finish a swap that crashed between its two renames: no `current`,
    * but `_old_<g>` beside `_tmp_<g>`. The first rename runs only after
    * the write into `_tmp_<g>` returned, so that snapshot is complete
    * and is the committed one. */
  private def rollForward(root: String): Unit = {
    val cur = Paths.get(currentPath(root))
    if (!Files.exists(cur))
      leftovers(root).map(_.getFileName.toString)
        .collect { case n if n.startsWith("_old_") =>
          Paths.get(root, "_tmp_" + n.stripPrefix("_old_")) }
        .find(Files.exists(_))
        .foreach(Files.move(_, cur, StandardCopyOption.ATOMIC_MOVE))
  }

  /** The `_tmp_*` and `_old_*` directories under `root`. */
  private def leftovers(root: String): Seq[Path] = {
    val dir = Paths.get(root)
    if (!Files.exists(dir)) Seq.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        n.startsWith("_tmp_") || n.startsWith("_old_")
      }.toSeq
      finally s.close()
    }
  }

  private def deleteRecursively(p: Path): Unit =
    graft.ops.SessionCleanup.deleteRecursively(p.toString)
}
