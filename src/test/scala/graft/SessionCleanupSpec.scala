package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.{SessionCleanup, SessionMemo}
import graft.streaming.Streams

/** Drains the LIVE cleanup registry mid-session: every registered action
  * must run exactly once (failures swallowed), temp residue must go, and
  * every evicted memo must recreate lazily when queried again — the
  * recreate-safety contract the application-end hook relies on. */
class SessionCleanupSpec extends AnyFunSuite with TempDirs {
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

  /** Names in java.io.tmpdir that start with one of `prefixes`. */
  private def tmpNames(prefixes: String*): Set[String] =
    new java.io.File(System.getProperty("java.io.tmpdir")).list()
      .filter(n => prefixes.exists(n.startsWith)).toSet

  private def exists(dir: String) = java.nio.file.Files.exists(
    java.nio.file.Paths.get(dir))

  test("an artifact build that throws leaves no temp dir behind once " +
      "the registry drains") {
    // key -> the prefix of the temp dir its artifact memo creates
    val keys = Seq(
      "tokenize_bpe_ids_unk" -> "graft-tokenizer",
      "sim_ann_index_persist" -> "graft-ann",
      "sink_partition_overwrite" -> "graft-ovw",
      "agg_incremental_merge" -> "graft-inc",
      "source_csv" -> "graft-fmt",
      "scan_fs_recursive" -> "graft-fsscan",
      "source_jdbc" -> "graft-derby")
    def residue() = tmpNames(keys.map(_._2): _*)
    val before = residue()
    val missing = s"${tempDir("graft-no-sf")}/absent"
    // each key's artifact memo creates its temp dir first, then the
    // build reads the (missing) corpus and throws
    for ((key, _) <- keys) {
      intercept[Exception](SparkEntry.queries(key)(spark, missing))
    }
    val made = residue().diff(before)
    for ((key, prefix) <- keys)
      assert(made.exists(_.startsWith(prefix)), s"$key made no $prefix dir")
    SessionCleanup.drain(spark.sparkContext)
    assert(residue().diff(before).isEmpty, residue().diff(before))
  }

  test("SessionMemo: a throwing build leaves no entry and its dir goes at " +
      "drain; the next call rebuilds once; a nested build succeeds") {
    val dirs = new SessionMemo[String, String]
    val values = new SessionMemo[String, Int]
    var builds = 0
    var failedDir = ""
    intercept[IllegalStateException](
      dirs.inTempDir(spark, "k", "graft-memo-spec") { d =>
        builds += 1
        failedDir = d
        throw new IllegalStateException("boom")
      })
    assert(exists(failedDir))
    val built = dirs.inTempDir(spark, "k", "graft-memo-spec") { d =>
      builds += 1
      d
    }
    assert(built != failedDir && builds == 2)
    assert(dirs.inTempDir(spark, "k", "graft-memo-spec")(_ => fail("rebuilt")) == built)
    intercept[IllegalStateException](
      values(spark, "v")(throw new IllegalStateException("boom")))
    assert(values(spark, "v")(7) == 7)
    // a temp-dir build that reads a value memo (the tokenizer dir reads
    // the trained merges this way)
    val nested = dirs.inTempDir(spark, "nested", "graft-memo-spec") { d =>
      s"$d:${values(spark, "n")(42)}"
    }
    assert(nested.endsWith(":42"))
    SessionCleanup.drain(spark.sparkContext)
    assert(Seq(failedDir, built, nested.stripSuffix(":42")).forall(!exists(_)))
    assert(values(spark, "v")(8) == 8) // dropped at drain, so built again
  }

  test("eventsStream exposes one events file through one temp dir per " +
      "session, deleted at drain") {
    SessionCleanup.drain(spark.sparkContext)
    val before = tmpNames("graft-streamsrc")
    Streams.eventsStream(spark, TestSpark.sf0001)
    Streams.eventsStream(spark, TestSpark.sf0001)
    assert(tmpNames("graft-streamsrc").diff(before).size == 1)
    SessionCleanup.drain(spark.sparkContext)
    assert(tmpNames("graft-streamsrc").diff(before).isEmpty)
  }
}
