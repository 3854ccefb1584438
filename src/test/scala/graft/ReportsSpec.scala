package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.sink.{LocalFsStore, Reports, RetryingStore}
import java.nio.file.{Files, Paths}

class ReportsSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("progress line matches the reference format (bulkupload.py:330)") {
    assert(Reports.progressLine(1, 3, 2.5) == "33.33333333% Uploaded at 2.50 uploads/second")
    assert(Reports.progressLine(0, 0, 0.0) == "100.00000000% Uploaded at 0.00 uploads/second")
  }

  test("writeProgress overwrites in place (not append)") {
    val dir = tempDir("graft-prog")
    val m1 = Seq((1L, "a", false), (2L, "b", true)).toDF("id", "path", "uploaded")
    Reports.writeProgress(m1, s"$dir/.upload.out", 1.0)
    val m2 = m1.withColumn("uploaded", lit(true))
    Reports.writeProgress(m2, s"$dir/.upload.out", 2.0)
    val content = Files.readString(Paths.get(s"$dir/.upload.out"))
    assert(content == "100.00000000% Uploaded at 2.00 uploads/second")
    assert(content.linesIterator.size == 1)
  }

  test("writeReport carries totals and a UTC timestamp header") {
    val dir = tempDir("graft-rep")
    val res = Seq((1L, true), (2L, true), (3L, false)).toDF("id", "ok")
    Reports.writeReport(res, s"$dir/report.log")
    val content = Files.readString(Paths.get(s"$dir/report.log"))
    assert(content.contains("Total attempted: 3"))
    assert(content.contains("Uploaded: 2"))
    assert(content.contains("Failed: 1"))
    assert(content.matches("(?s)Report: \\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2} UTC.*"))
  }

  test("RetryingStore ramps sleep linearly and bounds attempts (bulkupload.py:80-107)") {
    val sleeps = scala.collection.mutable.ArrayBuffer[Long]()
    var calls = 0
    val flaky = new graft.sink.ObjectStore {
      override def ensureContainer(): Unit = ()
      override def put(k: String, b: Array[Byte]): Unit = {
        calls += 1
        if (calls <= 3) throw new java.io.IOException(s"auth fail $calls")
      }
    }
    new RetryingStore(flaky, maxConnectAttempts = 10, sleeper = sleeps += _)
      .put("k", Array[Byte](1))
    assert(calls == 4)
    assert(sleeps.toSeq == Seq(1000L, 2000L, 3000L)) // SLEEP += 1 each failure
  }

  test("RetryingStore rethrows after maxConnectAttempts (no infinite recursion)") {
    var calls = 0
    val dead = new graft.sink.ObjectStore {
      override def ensureContainer(): Unit = ()
      override def put(k: String, b: Array[Byte]): Unit = {
        calls += 1; throw new java.io.IOException("down")
      }
    }
    val ex = intercept[java.io.IOException] {
      new RetryingStore(dead, maxConnectAttempts = 3, sleeper = _ => ())
        .put("k", Array[Byte](1))
    }
    assert(ex.getMessage == "down")
    assert(calls == 3)
  }

  test("rolling_hash is callable from SQL text after registration") {
    graft.functions.RollingHash.registerSql(spark)
    val got = spark.sql("SELECT rolling_hash('abc') AS h, " +
      "rolling_hash_windows('abcde', 3) AS w").head()
    var h = 0L
    "abc".foreach(c => h = (h * 131 + c) % 1000000007L)
    assert(got.getLong(0) == h)
    assert(got.getSeq[Long](1).length == 3)
  }
}
