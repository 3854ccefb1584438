package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.Manifest
import graft.sources.Jdbc

/** JDBC manifest source: write → partitioned read round-trip against
  * embedded Derby (the reference's MySQL manifest, olrcdb.py:9-52, with a
  * URL-swap away). */
class JdbcSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark

  test("manifest round-trips through Derby exactly; read is partitioned") {
    val m = Manifest.fromDocuments(spark, TestSpark.sf0001)
    val dbDir = s"${tempDir("graft-derby-spec")}/db"
    val url = Jdbc.derbyUrl(dbDir)
    Jdbc.writeManifest(m, url)
    val maxId = m.agg(max("id")).head().getLong(0)
    val back = Jdbc.readManifest(spark, url, maxId, numPartitions = 4)
    // the partitioned read really fans out into 4 range queries
    assert(back.rdd.getNumPartitions == 4)
    val want = m.collect().map(_.toString).sorted.toSeq
    val got = back.select("id", "path", "uploaded")
      .collect().map(_.toString).sorted.toSeq
    assert(got == want)
    // pushdown: a filter on the partition column reaches the database
    assert(back.filter(col("id") <= 10).count() == 10)
  }

  test("upload results write back through JDBC and the re-read mark " +
      "equals the in-memory markUploaded (the uploader's state boundary)") {
    val m = Manifest.fromDocuments(spark, TestSpark.sf0001)
    val dbDir = s"${tempDir("graft-derby-wb")}/db"
    val url = Jdbc.derbyUrl(dbDir)
    Jdbc.writeManifest(m, url)
    val results = m.filter(!col("uploaded") && col("id") % 5 === 0).select("id")
    Jdbc.appendResults(results, url)
    val maxId = m.agg(max("id")).head().getLong(0)
    // the appended batch round-trips exactly (and is partitioned on read)
    val log = Jdbc.readLog(spark, url, maxId, numPartitions = 3)
    assert(log.rdd.getNumPartitions == 3)
    assert(log.select("id").collect().map(_.getLong(0)).sorted.toSeq ==
      results.collect().map(_.getLong(0)).sorted.toSeq)
    // marked manifest from the DB log == the pure in-memory mark
    val viaDb = Jdbc.readManifest(spark, url, maxId)
      .join(log.select(col("id"), lit(true).as("_mark")), Seq("id"), "left_outer")
      .select(col("id"), col("path"),
        (col("uploaded") || coalesce(col("_mark"), lit(false))).as("uploaded"))
      .collect().map(_.toString).sorted.toSeq
    val viaMem = Manifest.markUploaded(m, results)
      .select("id", "path", "uploaded")
      .collect().map(_.toString).sorted.toSeq
    assert(viaDb == viaMem)
  }
}
