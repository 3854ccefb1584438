package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.SessionCleanup

/** Drains the LIVE cleanup registry mid-session: every registered action
  * must run exactly once (failures swallowed), temp residue must go, and
  * every evicted memo must recreate lazily when queried again — the
  * recreate-safety contract the application-end hook relies on. */
class SessionCleanupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("drain runs actions once, swallows failures, deletes residue; memos recreate") {
    // materialize at least one real memoized resource (Derby manifest db)
    val before = graft.sources.Jdbc
      .queries("source_jdbc")(spark, TestSpark.sf0001).count()
    assert(before > 0)

    var ran = 0
    val probeDir = java.nio.file.Files.createTempDirectory("graft-clean-probe")
    java.nio.file.Files.writeString(probeDir.resolve("residue.txt"), "x")
    SessionCleanup.onEnd(spark) { ran += 1 }
    SessionCleanup.onEnd(spark) { throw new RuntimeException("boom") }
    SessionCleanup.onEnd(spark) {
      SessionCleanup.deleteRecursively(probeDir.toString)
    }
    assert(SessionCleanup.pending(spark) >= 3)

    SessionCleanup.drain(spark.sparkContext)
    assert(ran == 1)
    assert(!java.nio.file.Files.exists(probeDir))
    assert(SessionCleanup.pending(spark) == 0)

    SessionCleanup.drain(spark.sparkContext) // idempotent
    assert(ran == 1)

    // drained memos (manifest cache, Derby db, fs trees, bucketed tables)
    // must all repopulate lazily — same result as before the drain
    val after = graft.sources.Jdbc
      .queries("source_jdbc")(spark, TestSpark.sf0001).count()
    assert(after == before)
    assert(graft.ops.Manifest.fromDocuments(spark, TestSpark.sf0001).count() == before)
  }

  test("an artifact build that throws leaves no temp dir behind once " +
      "the registry drains") {
    def residue(): Set[String] =
      new java.io.File(System.getProperty("java.io.tmpdir")).list()
        .filter(n => n.startsWith("graft-tokenizer") ||
          n.startsWith("graft-ann")).toSet
    val before = residue()
    val missing = java.nio.file.Files.createTempDirectory("graft-no-sf")
      .resolve("absent").toString
    // each key's artifact memo creates its temp dir first, then the
    // build reads the (missing) corpus and throws
    for (key <- Seq("tokenize_bpe_ids_unk", "sim_ann_index_persist")) {
      intercept[Exception](SparkEntry.queries(key)(spark, missing))
    }
    SessionCleanup.drain(spark.sparkContext)
    assert(residue().diff(before).isEmpty, residue().diff(before))
    SessionCleanup.deleteRecursively(
      java.nio.file.Paths.get(missing).getParent.toString)
  }
}
