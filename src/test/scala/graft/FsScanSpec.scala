package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import graft.sources.FsScan
import java.nio.file.{Files, Paths}

/** The file-index listing behind [[FsScan.scanRecursive]] must list
  * exactly what a recursive `binaryFile` scan of the same tree reads, with
  * byte-identical `path` strings: manifests already on disk hold those
  * strings, and the re-prepare anti-join matches on them. */
class FsScanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def binaryFile(root: String): DataFrame =
    spark.read.format("binaryFile").option("recursiveFileLookup", "true")
      .load(root).select("path", "length")

  private def rows(df: DataFrame): Set[(String, Long)] =
    df.select("path", "length").collect().map(r => (r.getString(0), r.getLong(1))).toSet

  test("listing equals a recursive binaryFile scan, odd names and hidden files included") {
    val root = Files.createTempDirectory("graft-fsscan-parity")
    def write(rel: String, content: String): Unit = {
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.writeString(p, content)
    }
    write("top.txt", "top")
    write("a/b/c/deep.txt", "deeper still")
    write("a/empty.txt", "")
    write("a b/c d%.txt", "spaced and percent")
    write("a/20%25 off.txt", "already-escaped-looking name")
    write("a/_x", "underscore-hidden")
    write("a/.x", "dot-hidden")
    write("_hidden/inside.txt", "under a hidden dir")
    try {
      val listed = FsScan.scanRecursive(spark, root.toString)
      val got = rows(listed)
      assert(got == rows(binaryFile(root.toString)))
      val names = got.map { case (p, _) => p.split('/').last }
      assert(names.contains("c d%.txt") && names.contains("20%25 off.txt"),
        names.toSeq.sorted.toString)
      assert(!names.exists(n => n.startsWith("_") || n.startsWith(".")), names)
      assert(got.contains((s"file:$root/a b/c d%.txt", 18L)), got)
      assert(listed.columns.toSeq == Seq("path", "length", "modificationTime"))
      val mtime = listed.filter(listed("path").endsWith("/top.txt"))
        .select("modificationTime").head().getTimestamp(0).getTime
      assert(mtime == Files.getLastModifiedTime(root.resolve("top.txt")).toMillis)
    } finally graft.ops.SessionCleanup.deleteRecursively(root.toString)
  }

  test("an empty root lists no rows, like binaryFile") {
    val root = Files.createTempDirectory("graft-fsscan-empty").toString
    try {
      assert(FsScan.scanRecursive(spark, root).count() == 0)
      assert(binaryFile(root).count() == 0)
    } finally graft.ops.SessionCleanup.deleteRecursively(root)
  }

  test("the listing launches no Spark job until it is consumed") {
    val root = Files.createTempDirectory("graft-fsscan-nojob")
    Files.writeString(root.resolve("f.txt"), "f")
    try {
      val (df, jobs) = JobCount.of(spark)(FsScan.scanRecursive(spark, root.toString))
      assert(jobs.isEmpty, jobs)
      assert(df.count() == 1)
    } finally graft.ops.SessionCleanup.deleteRecursively(root.toString)
  }
}
