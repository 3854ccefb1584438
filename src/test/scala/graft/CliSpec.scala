package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.cli.{BulkUpload, PrepareUpload}
import graft.sink.{FlakyStore, LocalFsStore, RetryingStore}
import java.nio.file.{Files, Paths}

/** End-to-end reference-equivalence: the two CLIs, including the
  * re-prepare / resume behaviors the readme documents (readme.md:42). */
class CliSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark

  private def write(root: String, rel: String, content: String): Unit = {
    val p = Paths.get(root, rel)
    Files.createDirectories(p.getParent)
    Files.writeString(p, content)
  }

  test("prepare -> upload -> resume full cycle") {
    val src = tempDir("graft-cli-src")
    val mroot = tempDir("graft-cli-m")
    val store = tempDir("graft-cli-store")
    val cutoff = Paths.get(src).getFileName.toString

    write(src, "a/x.txt", "XX")
    write(src, "a/b/y.txt", "YY")
    write(src, "z.txt", "ZZ")
    // listed paths are not URI-escaped: the upload must open this file
    // as named and keep its key as named
    write(src, "a b/c d%.txt", "SP")

    // index; the id assignment's sorted partitions are released again
    val persisted = spark.sparkContext.getPersistentRDDs.size
    val p1 = PrepareUpload.run(spark, src, mroot)
    assert(p1.total == 4 && p1.appended == 4)
    assert(spark.sparkContext.getPersistentRDDs.size == persisted)
    assert(Files.readString(Paths.get(mroot, ".prepare.out"))
      .endsWith(": 4 files indexed, 4 total"))

    // re-prepare: no duplicate rows (fixes the reference defect)
    val p2 = PrepareUpload.run(spark, src, mroot)
    assert(p2.total == 4 && p2.appended == 0)
    assert(spark.sparkContext.getPersistentRDDs.size == persisted)

    // new file appears -> only it is appended, id continues
    write(src, "w.txt", "WW")
    val p3 = PrepareUpload.run(spark, src, mroot)
    assert(p3.total == 5 && p3.appended == 1)
    assert(spark.sparkContext.getPersistentRDDs.size == persisted)
    val ids = graft.sink.ManifestStore.read(spark, mroot)
      .select("id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == (1L to 5L))

    // upload with y.txt permanently failing
    FlakyStore.counts.clear()
    val u1 = BulkUpload.run(spark, store, mroot, parallelism = 2,
      cutoff = Some(cutoff),
      mkStore = root => new FlakyStore(root, failTimes = 99, "y.txt"))
    assert(u1.attempted == 5)
    assert(u1.uploaded == 4 && u1.failed == 1)
    assert(u1.totalUploaded == 4 && u1.total == 5)
    assert(spark.sparkContext.getPersistentRDDs.size == persisted)
    // keys preserve the folder structure below the cutoff
    assert(Files.readString(Paths.get(store, "a/x.txt")) == "XX")
    assert(Files.readString(Paths.get(store, "z.txt")) == "ZZ")
    assert(Files.readString(Paths.get(store, "a b/c d%.txt")) == "SP")
    assert(!Files.exists(Paths.get(store, "a/b/y.txt")))
    val errLog = spark.read.text(s"$mroot/.upload.error.log").count()
    assert(errLog == 1)
    val report = Files.readString(Paths.get(mroot, ".upload.report.log"))
    assert(report.contains("Total attempted: 5\nUploaded: 4\nFailed: 1\n"), report)
    assert(Files.readString(Paths.get(mroot, ".upload.out")).startsWith("80.00000000% Uploaded"))
    // the progress file must report a real (nonzero) uploads/second — the
    // reference's most visible runtime behavior (set_speed).
    val prog = Files.readString(Paths.get(mroot, ".upload.out"))
    val rateRe = """at (\d+\.\d+) uploads/second""".r
    val rate = rateRe.findFirstMatchIn(prog).map(_.group(1).toDouble)
    assert(rate.exists(_ > 0.0), s"progress line lacks a live rate: $prog")

    // resume: only the failed row is attempted, then everything is done
    val u2 = BulkUpload.run(spark, store, mroot, parallelism = 2,
      cutoff = Some(cutoff),
      mkStore = root => new RetryingStore(new LocalFsStore(root)))
    assert(u2.attempted == 1)
    assert(u2.uploaded == 1 && u2.failed == 0)
    assert(u2.totalUploaded == 5 && u2.total == 5)
    assert(Files.readString(Paths.get(store, "a/b/y.txt")) == "YY")
    // nothing failed, so the error log gained no line
    assert(spark.read.text(s"$mroot/.upload.error.log").count() == 1)

    // idempotent third run: nothing pending
    val u3 = BulkUpload.run(spark, store, mroot, parallelism = 2,
      cutoff = Some(cutoff))
    assert(u3.attempted == 0 && u3.totalUploaded == 5)
    assert(Files.readString(Paths.get(mroot, ".upload.out")).startsWith("100.00000000% Uploaded"))
  }

  test("a crash after the puts but before the commit, and one after the " +
      "swap but before the report files, both resume to the no-fault " +
      "manifest") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    import graft.sink.{ManifestStore, Uploader}
    val src = tempDir("graft-crash-src")
    val cutoff = Some(Paths.get(src).getFileName.toString)
    val files = Map("a/x.txt" -> "XX", "fail/p.txt" -> "PP",
      "fail/q/r.txt" -> "RR", "z.txt" -> "ZZ")
    files.foreach { case (rel, c) => write(src, rel, c) }
    def manifest(root: String) = ManifestStore.read(spark, root)
      .select("id", "path", "uploaded").as[(Long, String, Boolean)]
      .collect().toSet

    // the no-fault run over the same tree
    val refRoot = tempDir("graft-crash-ref-m")
    PrepareUpload.run(spark, src, refRoot)
    BulkUpload.run(spark, tempDir("graft-crash-ref-store"), refRoot,
      parallelism = 2, cutoff = cutoff)
    val want = manifest(refRoot)
    assert(want.size == files.size && want.forall(_._3))

    // a first run whose fail/ puts all fail leaves those rows pending
    val mroot = tempDir("graft-crash-m")
    val store = tempDir("graft-crash-store")
    PrepareUpload.run(spark, src, mroot)
    FlakyStore.counts.clear()
    val u0 = BulkUpload.run(spark, store, mroot, parallelism = 2,
      cutoff = cutoff,
      mkStore = root => new FlakyStore(root, failTimes = 99, "fail/"))
    assert(u0.uploaded == 2 && u0.failed == 2)

    // (a) the upload route puts every pending row, then dies in commit
    val m = ManifestStore.read(spark, mroot)
    val uncommitted = BulkUpload.pending(m, cutoff).collect().map(_._2).toSet
    assert(uncommitted == Set("fail/p.txt", "fail/q/r.txt"))
    intercept[IllegalStateException](Uploader.step(m,
      BulkUpload.pending(m, cutoff), BulkUpload.readFile,
      () => new LocalFsStore(store), 2,
      _ => throw new IllegalStateException("crash before the commit"),
      _ => ()))
    assert(uncommitted.forall(k => Files.exists(Paths.get(store, k))))
    assert(manifest(mroot).count(!_._3) == 2)
    // the resume re-puts exactly those rows, once each (a FlakyStore
    // matching every key and failing none counts every put)
    FlakyStore.counts.clear()
    val u1 = BulkUpload.run(spark, store, mroot, parallelism = 2,
      cutoff = cutoff, mkStore = root => new FlakyStore(root, 0, ""))
    assert(u1.attempted == 2 && u1.failed == 0 && u1.totalUploaded == 4)
    assert(FlakyStore.counts.asScala.view.mapValues(_.intValue).toMap ==
      uncommitted.map(_ -> 1).toMap)

    // (b) the swap committed, the report files were never written
    Seq(".upload.out", ".upload.report.log")
      .foreach(f => Files.delete(Paths.get(mroot, f)))
    val u2 = BulkUpload.run(spark, store, mroot, parallelism = 2,
      cutoff = cutoff)
    assert(u2.attempted == 0 && u2.totalUploaded == 4)
    assert(Files.readString(Paths.get(mroot, ".upload.out"))
      .startsWith("100.00000000% Uploaded"))
    assert(Files.readString(Paths.get(mroot, ".upload.report.log"))
      .contains("Total attempted: 0\nUploaded: 0\nFailed: 0\n"))

    assert(manifest(mroot) == want)
    files.foreach { case (rel, c) =>
      assert(Files.readString(Paths.get(store, rel)) == c, rel) }
  }

  test("a file that vanished after indexing is a failed row, not an aborted job") {
    import spark.implicits._
    val src = tempDir("graft-cli-gone")
    val mroot = tempDir("graft-cli-gone-m")
    val store = tempDir("graft-cli-gone-store")
    val cutoff = Some(Paths.get(src).getFileName.toString)
    Seq("a.txt", "b/c.txt", "d.txt").foreach(write(src, _, "data"))
    PrepareUpload.run(spark, src, mroot)
    Files.delete(Paths.get(src, "b/c.txt"))

    val u1 = BulkUpload.run(spark, store, mroot, parallelism = 2, cutoff = cutoff)
    assert(u1.attempted == 3 && u1.uploaded == 2 && u1.failed == 1)
    val rows = graft.sink.ManifestStore.read(spark, mroot)
      .select("id", "path", "uploaded").as[(Long, String, Boolean)].collect()
    val (goneId, _, goneMarked) = rows.find(_._2.endsWith("b/c.txt")).get
    assert(!goneMarked && rows.count(_._3) == 2)
    val errLog = spark.read.text(s"$mroot/.upload.error.log").as[String].collect()
    assert(errLog.length == 1 && errLog(0).startsWith(s"$goneId\t"), errLog.toSeq)

    write(src, "b/c.txt", "data")
    val u2 = BulkUpload.run(spark, store, mroot, parallelism = 2, cutoff = cutoff)
    assert(u2.attempted == 1 && u2.totalUploaded == 3)
    assert(Files.readString(Paths.get(store, "b/c.txt")) == "data")
  }

  test("the upload exchange carries paths, not payload bytes") {
    val src = tempDir("graft-cli-shuffle")
    val mroot = tempDir("graft-cli-shuffle-m")
    val store = tempDir("graft-cli-shuffle-store")
    // random bytes: lz4 on the shuffle cannot shrink them
    val payload = new Array[Byte](4 << 20)
    new scala.util.Random(11).nextBytes(payload)
    Files.write(Paths.get(src, "big.bin"), payload)
    PrepareUpload.run(spark, src, mroot)

    val (u, shuffled) = JobCount.shuffleWriteBytes(spark)(
      BulkUpload.run(spark, store, mroot, parallelism = 2))
    assert(u.uploaded == 1)
    info(s"shuffle write: $shuffled bytes for a ${payload.length}-byte file")
    assert(shuffled < payload.length / 64, shuffled)
  }

  test("re-prepare and resume each launch a pinned number of Spark jobs") {
    // Upper bounds equal to the counts measured when they were set: a
    // change that adds an action back to either CLI fails here.
    val (prepareBound, uploadBound) = (8, 10)
    val src = Files.createTempDirectory("graft-cli-jobs-src").toString
    val mroot = Files.createTempDirectory("graft-cli-jobs-m").toString
    val store = Files.createTempDirectory("graft-cli-jobs-store").toString
    try {
      Seq("a/x.txt", "a/b/y.txt", "z.txt").foreach(write(src, _, "data"))
      PrepareUpload.run(spark, src, mroot)
      FlakyStore.counts.clear()
      BulkUpload.run(spark, store, mroot, parallelism = 2,
        mkStore = root => new FlakyStore(root, failTimes = 99, "y.txt"))
      write(src, "w.txt", "new")

      val (p, prepareJobs) = JobCount.of(spark)(PrepareUpload.run(spark, src, mroot))
      assert(p.appended == 1 && p.total == 4)
      val (u, uploadJobs) = JobCount.of(spark)(BulkUpload.run(spark, store, mroot,
        parallelism = 2))
      assert(u.attempted == 2 && u.failed == 0 && u.totalUploaded == 4)
      info(s"re-prepare: ${prepareJobs.mkString(", ")}")
      info(s"resume upload: ${uploadJobs.mkString(", ")}")
      assert(prepareJobs.size <= prepareBound, prepareJobs)
      assert(uploadJobs.size <= uploadBound, uploadJobs)
    } finally Seq(src, mroot, store).foreach(graft.ops.SessionCleanup.deleteRecursively)
  }

  test("re-prepare after an EMPTY first index neither NPEs nor miscounts") {
    // regression: max(id) over an empty manifest is NULL; a first run
    // against an empty source dir writes an empty snapshot, files appear
    // later, and the second run must continue from id 0.
    val src = tempDir("graft-cli-empty")
    val mroot = tempDir("graft-cli-empty-m")
    val p1 = PrepareUpload.run(spark, src, mroot)
    assert(p1.total == 0 && p1.appended == 0)
    write(src, "a.txt", "A")
    write(src, "b/c.txt", "C")
    val p2 = PrepareUpload.run(spark, src, mroot)
    assert(p2.total == 2 && p2.appended == 2)
    val ids = graft.sink.ManifestStore.read(spark, mroot)
      .select("id").collect().map(_.getLong(0)).sorted
    assert(ids.toSeq == Seq(1L, 2L))
  }

  test("prepareupload with fewer than two arguments fails with its usage, " +
      "not a MatchError") {
    // the check runs before any session is built, so the shared test
    // session stays up for the suites after this one
    val e = intercept[IllegalArgumentException](
      PrepareUpload.main(Array("only-one")))
    assert(e.getMessage.contains("usage: prepareupload"))
    assert(!spark.sparkContext.isStopped)
  }

  test("flagship pipeline with NOTHING pending reports zeros, not an NPE") {
    // every doc_id % 3 == 0 ⇒ the derived manifest is fully uploaded, so
    // the upload stage sees zero rows and every sum/max aggregate in the
    // report is null — the regression the null guards cover.
    import spark.implicits._
    val dir = tempDir("graft-allup")
    Seq((0L, "s1", "alpha", 5L), (3L, "s1", "beta", 4L), (6L, "s2", "gamma", 5L))
      .toDF("doc_id", "source", "text", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // upper bound = the count measured when it was set: a change that
    // adds an action back to the flagship pipeline fails here
    val (rep, jobs) = JobCount.of(spark)(Pipeline.run(spark, dir).head())
    info(s"flagship pipeline: ${jobs.mkString(", ")}")
    assert(jobs.size <= 12, jobs)
    assert(rep.getLong(0) == 3)     // total
    assert(rep.getLong(1) == 3)     // uploaded
    assert(rep.getDouble(2) == 100.0)
    assert(rep.getLong(3) == 0)     // failed
    assert(rep.getInt(4) == 0)      // max_attempts (null -> 0)
  }

  test("flagship payload attach is an equi-join, not a nested-loop join") {
    val plan = Pipeline.attachPayload(spark, TestSpark.sf0001)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }
}
