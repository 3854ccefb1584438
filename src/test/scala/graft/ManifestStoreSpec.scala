package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sink.ManifestStore

class ManifestStoreSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("swap writes a readable snapshot and replaces it atomically") {
    val root = tempDir("graft-manifest")
    val v1 = Seq((1L, "a", false), (2L, "b", false)).toDF("id", "path", "uploaded")
    ManifestStore.swap(v1, root)
    assert(ManifestStore.exists(root))
    assert(ManifestStore.read(spark, root).count() == 2)

    val v2 = ManifestStore.read(spark, root)
      .withColumn("uploaded", lit(true))
    // second swap reads from the snapshot it replaces — must not clobber
    ManifestStore.swap(v2.cache(), root)
    val got = ManifestStore.read(spark, root)
      .select("uploaded").as[Boolean].collect()
    assert(got.length == 2 && got.forall(identity))
    // no stray _tmp/_old dirs left behind
    val stray = new java.io.File(root).list().filter(n => n != "current")
    assert(stray.isEmpty, stray.mkString(","))
  }

  test("a swap that crashed between its two renames is rolled forward: " +
      "the completed snapshot reads back, and the next swap sweeps the " +
      "leftovers") {
    val root = tempDir("graft-manifest-crash")
    def snap(n: Int) =
      (1 to n).map(i => (i.toLong, s"p$i", false)).toDF("id", "path", "uploaded")
    ManifestStore.swap(snap(1), root)
    // replay swap's steps up to a crash after the FIRST rename: the new
    // snapshot is fully written, `current` is renamed away, and the
    // rename of _tmp into current never happens
    snap(2).write.parquet(s"$root/_tmp_7")
    java.nio.file.Files.move(java.nio.file.Paths.get(root, "current"),
      java.nio.file.Paths.get(root, "_old_7"))
    // an unrelated half-written snapshot from an even earlier crash
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(root, "_tmp_3"))
    assert(ManifestStore.exists(root))
    assert(ManifestStore.read(spark, root).count() == 2)
    ManifestStore.swap(snap(3), root)
    assert(ManifestStore.read(spark, root).count() == 3)
    assert(new java.io.File(root).list().toSeq == Seq("current"))
  }

  test("uploaded-partitioned snapshot enables partition pruning for filter_pending") {
    val root = tempDir("graft-manifest-part")
    val m = Seq((1L, "a", false), (2L, "b", true), (3L, "c", false))
      .toDF("id", "path", "uploaded")
    m.write.partitionBy("uploaded").parquet(s"$root/snap")
    val pending = spark.read.parquet(s"$root/snap").filter(!col("uploaded"))
    assert(pending.count() == 2)
    // partition pruning: the scan's partition filters carry the predicate,
    // so only the uploaded=false directory is listed/read.
    val scan = pending.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("uploaded"), scan)
  }

  test("snapshot-backed filter_pending reaches the parquet scan as a pushed filter") {
    val root = tempDir("graft-manifest-push")
    val m = Seq((1L, "a", false), (2L, "b", true), (3L, "c", false))
      .toDF("id", "path", "uploaded")
    ManifestStore.swap(m, root)
    val pending = graft.ops.Manifest.filterPending(ManifestStore.read(spark, root))
    assert(pending.count() == 2)
    // the uploaded predicate must be pushed into the scan (row-group /
    // page-level skipping at 100 TB), not evaluated post-scan only.
    val scan = pending.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PushedFilters") && !scan.contains("PushedFilters: []"),
      scan)
    assert(scan.replaceAll("\\s", "").matches(""".*PushedFilters:\[[^]]*uploaded.*"""),
      scan)
  }
}
