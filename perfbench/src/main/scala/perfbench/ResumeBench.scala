package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.cli.{BulkUpload, PrepareUpload}
import graft.ops.{Manifest, PathFns, Scale}
import graft.sink._
import graft.sources.FsScan

/** `resume`: the state a crash leaves, then prepare (index the new files
  * into the manifest) followed by upload (put every pending file, mark it,
  * swap the snapshot, write the reports), timed as one unit per repetition.
  * Every repetition starts from the identical restored state. */
object ResumeBench {

  // Workload parameters; BENCHMARK.json says why the workload exists.
  val indexed = 6000 // files in the manifest snapshot
  val fresh = 300 // files new since the last index
  val minBytes = 512
  val maxBytes = 4096
  val fanout = 12 // the tree is fanout x fanout directories
  val uploadedShare = 0.95 // of the indexed files
  val putShare = 0.5 // of the indexed files not marked uploaded
  val faultShare = 0.02 // of the files pending after prepare

  /** Untimed repetitions that let the JIT and Spark's lazy set-up settle,
    * and the fewest timed ones per run: the first timed repetition can
    * still be warming on a loaded host, and a median of three drops it. */
  val warmReps = 3
  val minReps = 3

  private final case class Rep(prepareS: Double, uploadS: Double, heapMb: Double) {
    def jobS: Double = prepareS + uploadS
  }

  /** The generated start state under `dir`, and how to return to it. */
  private final class Instance(spark: SparkSession, dir: Path, seed: Long, val cutoff: String) {
    val storeRoot: Path = dir.resolve("store")
    val manifestRoot: Path = dir.resolve("manifest")
    private val pristine = dir.resolve("pristine-manifest")
    val tree: Tree = Gen.tree(dir.resolve(cutoff), indexed + fresh, minBytes, maxBytes,
      fanout, seed)
    private val crash = Gen.crashState(tree, fresh, uploadedShare, putShare, faultShare, seed)
    Gen.writeManifest(spark, crash, pristine)
    java.util.stream.IntStream.range(0, tree.keys.size).parallel()
      .filter(crash.inStore(_)).forEach { i =>
        val obj = storeRoot.resolve(tree.keys(i))
        Files.createDirectories(obj.getParent)
        Files.copy(tree.file(i), obj)
      }
    private val n = tree.keys.size
    val expect: Checks.Expect = Checks.Expect(indexed = fresh, total = n,
      pending = crash.pendingAfterPrepare, plan = crash.plan)
    val pendingBytes: Long =
      tree.keys.indices.filterNot(crash.uploaded(_)).map(tree.sizes(_).toLong).sum
    // objects the start state lacks: removed again before every repetition
    private val notInStart = tree.keys.indices.filterNot(crash.inStore(_)).map(tree.keys)

    def restore(): Unit = {
      Main.deleteTree(manifestRoot)
      notInStart.foreach(k => Files.deleteIfExists(storeRoot.resolve(k)))
      val w = Files.walk(pristine)
      try w.iterator().forEachRemaining { p =>
        val t = manifestRoot.resolve(pristine.relativize(p))
        if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
      } finally w.close()
      FaultInjectingStore.reset()
      TimingStore.reset()
    }

    val mkStore: String => ObjectStore = {
      val plan = crash.plan
      root => new FaultInjectingStore(new RetryingStore(new LocalFsStore(root)), plan)
    }
  }

  def run(spark: SparkSession, o: Opts, startS: Double): Result = {
    val workload = "resume"
    val base = o.work.resolve(workload)
    // the object-key cutoff: a directory name that occurs once in the paths
    val cutoff = s"pbtree_s${o.seed}"
    val parallelism = Main.cores

    val g0 = System.nanoTime()
    val in = new Instance(spark, base, o.seed, cutoff)
    val genS = (System.nanoTime() - g0) / 1e9

    var attempted = 0L
    var failed = 0L
    val failures = Seq.newBuilder[String]
    def check(p: PrepareUpload.Summary, u: BulkUpload.Summary): Unit = {
      o.corrupt.foreach(corrupt(spark, _, in))
      val c = Checks.upload(spark, in.tree, in.storeRoot, in.manifestRoot, in.expect, p, u,
        FaultInjectingStore.thrown.get)
      attempted += c.items
      failed += c.failed
      failures ++= c.failures
    }

    def untraced(): (Rep, Double) = {
      val r0 = System.nanoTime()
      in.restore()
      val restoreS = (System.nanoTime() - r0) / 1e9
      HeapPeak.start()
      val t0 = System.nanoTime()
      val p = PrepareUpload.run(spark, in.tree.root.toString, in.manifestRoot.toString)
      val t1 = System.nanoTime()
      val u = BulkUpload.run(spark, in.storeRoot.toString, in.manifestRoot.toString,
        parallelism, Some(in.cutoff), in.mkStore)
      val t2 = System.nanoTime()
      val heap = HeapPeak.stopMb()
      System.err.println(f"[$workload] prepare ${(t1 - t0) / 1e9}%.3f s, " +
        f"upload ${(t2 - t1) / 1e9}%.3f s, restore $restoreS%.3f s, heap $heap%.0f MB")
      check(p, u)
      (Rep((t1 - t0) / 1e9, (t2 - t1) / 1e9, heap), restoreS)
    }

    val w0 = System.nanoTime()
    (1 to warmReps).foreach(_ => untraced())
    val warmS = (System.nanoTime() - w0) / 1e9
    System.err.println(f"[$workload] session $startS%.3f s, generate $genS%.3f s, warm-up $warmS%.3f s")

    val reps = scala.collection.mutable.ArrayBuffer.empty[Rep]
    val restores = scala.collection.mutable.ArrayBuffer.empty[Double]
    val traced = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
    var spent = 0.0
    val tracer = if (o.trace) Some(new Tracer(spark.sparkContext)) else None
    while (spent < o.seconds || reps.size < minReps || (o.trace && traced.isEmpty)) {
      val (r, rs) = untraced()
      reps += r
      restores += rs
      spent += r.jobS
      tracer.foreach { tr =>
        in.restore()
        val t0 = System.nanoTime()
        tr.beginRep(traced.size)
        val (m, p, u) = tracedJob(spark, tr, in.tree, in.storeRoot, in.manifestRoot, cutoff,
          parallelism, { val mk = in.mkStore; root => new TimingStore(mk(root)) })
        spent += (System.nanoTime() - t0) / 1e9
        traced += m
        check(p, u)
      }
    }

    val n = in.tree.keys.size
    val med = (f: Rep => Double) => Main.median(reps.map(f).toSeq)
    val setupS = startS + genS + warmS + Main.median(restores.toSeq)
    val endToEnd = Map(
      "job_s" -> med(_.jobS),
      "setup_s" -> setupS,
      // first measured repetition only: the engine keeps some cached frames
      // until the session ends, so later repetitions start from a higher
      // floor and a median would depend on how many fit in the run
      "peak_heap_mb" -> reps.head.heapMb,
      "index_files_per_s" -> n / med(_.prepareS),
      "upload_files_per_s" -> in.expect.pending / med(_.uploadS),
      "upload_mb_per_s" -> in.pendingBytes / 1048576.0 / med(_.uploadS))
    val layer = tracer.map { tr =>
      tr.close()
      Files.writeString(o.spans, tr.toJson)
      val perRep = traced.zip(LayerMetrics.fromTracer(tr)).map { case (a, b) =>
        val m = a ++ b
        m + ("uploader.shuffle_bytes_per_payload_byte" ->
          m.getOrElse("uploader.shuffle_write_bytes", 0.0) / math.max(in.pendingBytes, 1L))
      }
      val keys = perRep.flatMap(_.keys).distinct
      val m = keys.map(k => k -> Main.median(perRep.map(_.getOrElse(k, 0.0)).toSeq)).toMap
      m ++ Map("trace.untraced_job_s" -> endToEnd("job_s"),
        "trace.overhead_s" -> (m("trace.job_s") - endToEnd("job_s")))
    }.getOrElse(Map.empty)

    Main.deleteTree(base)
    Result(attempted, failed, failures.result(), endToEnd ++ layer)
  }

  private def mat(df: DataFrame): DataFrame = {
    val c = df.cache()
    c.count()
    c
  }

  /** Reads the snapshot once without caching it: a cached read of
    * `<root>/current` would be served again for the next read of that
    * path after a swap, hiding the new snapshot. */
  private def readOnce(df: DataFrame): DataFrame = {
    df.count()
    df
  }

  /** `PrepareUpload.run` then `BulkUpload.run`, call for call, with each
    * layer call in its own span and its result materialised at the span's
    * end, so the listener charges each layer with exactly its own jobs. */
  def tracedJob(spark: SparkSession, tr: Tracer, tree: Tree, storeRoot: Path,
      manifestRoot: Path, cutoff: String, parallelism: Int,
      mkStore: String => ObjectStore)
      : (Map[String, Double], PrepareUpload.Summary, BulkUpload.Summary) = {
    import spark.implicits._
    val root = manifestRoot.toString
    val cached = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def keep(df: DataFrame): DataFrame = { cached += df; df }
    var swapBytes = 0L
    var pendingShare = 0.0
    var attempted, okCount = 0L
    var prepared: PrepareUpload.Summary = null
    var uploaded: BulkUpload.Summary = null
    val t0 = System.nanoTime()
    tr.span("job") {
      tr.span("prepare") {
        val scanned = tr.span("fsscan")(keep(mat(FsScan.scanRecursive(spark, tree.root.toString)
          .select("path"))))
        val existing = if (ManifestStore.exists(root))
          Some(tr.span("manifeststore.read")(readOnce(ManifestStore.read(spark, root))))
        else None
        val (base, existingCount) = tr.span("prepare.base_id") {
          existing.map(m => (m.agg(coalesce(max(col("id")), lit(0L))).head().getLong(0),
            m.count())).getOrElse((0L, 0L))
        }
        val newPaths = existing.map(m => tr.span("prepare.anti_join")(
          keep(mat(scanned.join(m.select("path"), Seq("path"), "left_anti"))))).getOrElse(scanned)
        val appended = tr.span("scale.assign_ids")(keep(mat(
          Scale.assignIdsByRange(newPaths, "path")
            .select((col("id") + base).as("id"), col("path"), lit(false).as("uploaded")))))
        val (counted, total) = tr.span("prepare.union") {
          val next = existing.map(_.unionByName(appended)).getOrElse(appended).cache()
          (next, next.count())
        }
        tr.span("manifeststore.swap")(ManifestStore.swap(counted, root))
        swapBytes += Main.dirBytes(manifestRoot.resolve("current"))
        counted.unpersist()
        val nAppended = total - existingCount
        tr.span("reports")(Reports.overwrite(s"$root/.prepare.out",
          s"${Reports.utcNow()} UTC: $nAppended files indexed, $total total"))
        prepared = PrepareUpload.Summary(nAppended, nAppended, total)
      }
      tr.span("upload") {
        val store = mkStore(storeRoot.toString)
        store.ensureContainer()
        val m = tr.span("manifeststore.read")(readOnce(ManifestStore.read(spark, root)))
        val keyCol = PathFns.stripLeadingSlash(PathFns.pathCutoff(col("path"), cutoff))
        val pendingRows = tr.span("manifest.filter_pending") {
          val p = keep(mat(Manifest.filterPending(m).select(col("id"), col("path"), keyCol.as("key"))))
          pendingShare = p.count().toDouble / m.count()
          p
        }
        val pending = pendingRows.as[(Long, String, String)].map { case (id, path, key) =>
          (id, key, java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
            new java.net.URI(path).getPath)))
        }
        val counters = Uploader.mkCounters(spark)
        val u0 = System.nanoTime()
        val results = tr.span("uploader") {
          val storeDir = storeRoot.toString
          val r = keep(Uploader.upload(pending, () => mkStore(storeDir),
            parallelism, maxAttempts = 5, retrySleepMs = 0L, counters = Some(counters))
            .toDF().cache())
          attempted = r.count()
          okCount = r.filter(col("ok")).count()
          r
        }
        val rate = okCount / math.max((System.nanoTime() - u0) / 1e9, 1e-9)
        val marked = tr.span("manifest.mark")(keep(mat(
          Manifest.markUploaded(m, results.filter(col("ok"))))))
        val current = tr.span("manifeststore.swap")(ManifestStore.swap(marked, root))
        swapBytes += Main.dirBytes(manifestRoot.resolve("current"))
        tr.span("reports") {
          Uploader.writeErrorLog(results, s"$root/.upload.error.log")
          Reports.writeProgress(current, s"$root/.upload.out", rate)
          Reports.writeReport(results, s"$root/.upload.report.log")
        }
        uploaded = tr.span("upload.summary") {
          BulkUpload.Summary(attempted, okCount, attempted - okCount,
            current.filter(col("uploaded")).count(), current.count())
        }
      }
    }
    val jobS = (System.nanoTime() - t0) / 1e9
    cached.foreach(_.unpersist())
    val store = TimingStore.snapshot()
    val puts = store("store.puts")
    (store ++ Map(
      "trace.job_s" -> jobS,
      "manifeststore.swap.bytes_written" -> swapBytes.toDouble,
      "manifest.pending_share" -> pendingShare,
      "uploader.attempts_per_file" -> (puts + store("store.retries")) / math.max(attempted, 1L),
      "store.failures" -> (attempted - okCount).toDouble), prepared, uploaded)
  }

  /** Deliberate damage for checking the checks: flips one byte of one
    * uploaded object, or rewrites the manifest with one row unmarked. */
  private def corrupt(spark: SparkSession, what: String, in: Instance): Unit = what match {
    case "object" =>
      val p = in.storeRoot.resolve(in.tree.keys(in.tree.keys.size / 2))
      val b = Files.readAllBytes(p)
      b(0) = (b(0) ^ 0xff).toByte
      Files.write(p, b)
    case "manifest" =>
      val m = ManifestStore.read(spark, in.manifestRoot.toString)
      val bad = m.withColumn("uploaded", col("uploaded") && col("id") =!= 1L).cache()
      bad.count()
      ManifestStore.swap(bad, in.manifestRoot.toString)
      bad.unpersist()
  }
}
