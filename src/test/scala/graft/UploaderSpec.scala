package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sink.{FlakyStore, LocalFsStore, RetryingStore, Uploader}
import java.nio.file.{Files, Paths}

class UploaderSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def tmp() = tempDir("graft-test")

  test("uploads all rows and writes bytes to the store") {
    val root = tmp()
    val pending = Seq((1L, "a/x.txt", "hello".getBytes("UTF-8")),
      (2L, "b/y.txt", "world".getBytes("UTF-8"))).toDS()
    val res = Uploader.upload(pending, () => new LocalFsStore(root), 2).collect()
    assert(res.forall(_.ok))
    assert(new String(Files.readAllBytes(Paths.get(root, "a/x.txt"))) == "hello")
    assert(new String(Files.readAllBytes(Paths.get(root, "b/y.txt"))) == "world")
  }

  test("retry budget: transient failures succeed within <=5 attempts (bulkupload.py:187-202)") {
    val root = tmp()
    FlakyStore.counts.clear()
    val pending = Seq((1L, "ok.txt", "a".getBytes),
      (2L, "flaky-3.txt", "b".getBytes)).toDS()
    val res = Uploader.upload(pending,
      () => new FlakyStore(root, failTimes = 3, failKeySubstr = "flaky"), 1)
      .collect().sortBy(_.id)
    assert(res(0).ok && res(0).attempts == 1)
    assert(res(1).ok && res(1).attempts == 4) // 3 failures + 1 success
  }

  test("permanent failure: exactly 5 attempts then reported, not thrown") {
    val root = tmp()
    FlakyStore.counts.clear()
    val pending = Seq((1L, "dead.txt", "x".getBytes)).toDS()
    val res = Uploader.upload(pending,
      () => new FlakyStore(root, failTimes = 99, failKeySubstr = "dead"), 1)
      .collect()
    assert(!res(0).ok)
    assert(res(0).attempts == 5)
    assert(res(0).error.contains("flaky put"))
    assert(!Files.exists(Paths.get(root, "dead.txt")))
  }

  test("RetryingStore adds no put retries under the uploader: an always-failing " +
      "key costs exactly 5 puts and no reconnect sleeps") {
    val root = tmp()
    FlakyStore.counts.clear()
    UploaderSpec.sleeps.set(0)
    val pending = Seq((1L, "dead.txt", "x".getBytes)).toDS()
    val res = Uploader.upload(pending,
      () => new RetryingStore(new FlakyStore(root, 99, "dead"),
        sleeper = _ => { UploaderSpec.sleeps.incrementAndGet(); () }), 1)
      .collect()
    assert(!res(0).ok && res(0).attempts == 5)
    assert(FlakyStore.counts.get("dead.txt") == 5)
    assert(UploaderSpec.sleeps.get == 0)
  }

  test("counters track uploaded/failed like the reference's Value counters") {
    val root = tmp()
    FlakyStore.counts.clear()
    val counters = Uploader.mkCounters(spark)
    val pending = Seq((1L, "ok1.txt", "a".getBytes), (2L, "ok2.txt", "b".getBytes),
      (3L, "dead.txt", "c".getBytes)).toDS()
    Uploader.upload(pending,
      () => new FlakyStore(root, 99, "dead"), 2, counters = Some(counters))
      .collect()
    assert(counters.uploaded.value == 2)
    assert(counters.failed.value == 1)
  }

  test("error log is append-only across runs (prepareupload.py:47)") {
    val root = tmp()
    val log = s"$root/errors"
    FlakyStore.counts.clear()
    val pending = Seq((1L, "dead.txt", "x".getBytes)).toDS()
    val res = Uploader.upload(pending, () => new FlakyStore(root, 99, "dead"), 1)
    Uploader.writeErrorLog(res.toDF(), log)
    Uploader.writeErrorLog(res.toDF(), log)
    val lines = spark.read.text(log).count()
    assert(lines == 2)
  }
}

object UploaderSpec {
  /** Reconnect sleeps seen by the stores the executors build (local mode
    * shares this JVM). */
  val sleeps = new java.util.concurrent.atomic.AtomicInteger()
}
