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

  test("retained generations: swap(retain) keeps readable history bounded " +
      "at retain snapshots; vacuum prunes to keep, never touching current") {
    val root = tempDir("graft-manifest-gen")
    def snap(n: Int) =
      (1 to n).map(i => (i.toLong, s"p$i", false)).toDF("id", "path", "uploaded")
    for (n <- 1 to 4) ManifestStore.swap(snap(n), root, retain = 2)
    // 4 swaps with retain=2: history holds exactly 2 generations
    val gens = ManifestStore.generations(root)
    assert(gens.size == 2, gens.mkString(","))
    // newest retained generation is the PREVIOUS current (3 rows), and
    // history stays directly readable — the time-travel contract
    assert(spark.read.parquet(gens.head.toString).count() == 3)
    assert(ManifestStore.read(spark, root).count() == 4)
    // vacuum to zero: history gone, current untouched
    assert(ManifestStore.vacuum(root, keep = 0) == 2)
    assert(ManifestStore.generations(root).isEmpty)
    assert(ManifestStore.read(spark, root).count() == 4)
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
