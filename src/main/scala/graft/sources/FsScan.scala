package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables

/** Filesystem-tree source (SURVEY §2.1 `scan_fs_recursive`).
  *
  * Reference: the recursive `os.listdir`/`isfile` walk of
  * prepareupload.py:21-60 — one Python process, one stat per file, one
  * MySQL INSERT+commit per file. Spark-native replacement: the listing
  * Spark's own file index makes for a recursive `binaryFile` source —
  * files become rows (path, length, modificationTime), directories and
  * hidden `_x`/`.x` names are excluded by the index itself.
  */
object FsScan {

  /** Recursive scan of a directory tree as (path, length,
    * modificationTime) rows, with no Spark job and no file opened.
    *
    * Building the `binaryFile` frame (`load(root)`) already lists the
    * whole tree on the driver into an in-memory file index; a scan of
    * that frame would then plan ~N/32 tasks that each stat every file
    * again, and every later action over the scan would repeat that. Here
    * the index's `FileStatus`es are taken as they are
    * ([[org.apache.spark.sql.GraftBridge.listedFiles]]) and emitted over
    * `defaultParallelism` slices. `path` is `getPath.toString` —
    * byte-identical to binaryFile's `path` column, spaces and `%`
    * included (`inputFiles` URI-escapes, which would miss the anti-join
    * against manifests already on disk). Driver memory is O(files), as
    * the file index's is. */
  def scanRecursive(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    val index = spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true")
      .load(root)
    val files = org.apache.spark.sql.GraftBridge.listedFiles(index)
      .getOrElse(sys.error(s"binaryFile over $root is not a file-index scan"))
      .map(f => (f.getPath.toString, f.getLen,
        new java.sql.Timestamp(f.getModificationTime)))
    spark.sparkContext.parallelize(files, spark.sparkContext.defaultParallelism)
      .toDF("path", "length", "modificationTime")
  }

  /** Materialize the documents table as a real file tree
    * (root/<source>/doc_<id>.txt, UTF-8) — executor-side writes, one
    * partition per task, used to exercise the scan against a knowable
    * oracle. */
  def writeDocsAsFiles(spark: SparkSession, dir: String, root: String): Unit = {
    val docs = Tables.documents(spark, dir)
      .select(col("source"), concat(lit("doc_"), col("doc_id"), lit(".txt")).as("base"),
        col("text"))
    docs.foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
      val rootPath = java.nio.file.Paths.get(root)
      it.foreach { r =>
        val p = rootPath.resolve(r.getString(0)).resolve(r.getString(1))
        java.nio.file.Files.createDirectories(p.getParent)
        java.nio.file.Files.write(p, r.getString(2).getBytes("UTF-8"))
      }
    }
  }

  /** The materialized tree is memoized per sf dir: the registry query
    * stays pure-after-first-call (ContractSpec runs it twice for
    * determinism; Bench/Verify each run it once) instead of re-writing —
    * and leaking — a fresh temp tree per invocation. */
  private val treeMemo =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // write the docs as a nested file tree (once), then recursive-scan it
    // back: (basename, byte length) must round-trip exactly.
    "scan_fs_recursive" -> ((s, d) => {
      val root = treeMemo.computeIfAbsent(d, { dir =>
        val r = java.nio.file.Files.createTempDirectory("graft-fsscan").toString
        writeDocsAsFiles(s, dir, r)
        // keyed by dir (not session): evict + delete when the session that
        // materialized the tree ends — one session per JVM outside tests.
        graft.ops.SessionCleanup.onEnd(s) {
          treeMemo.remove(dir)
          graft.ops.SessionCleanup.deleteRecursively(r)
        }
        r
      })
      scanRecursive(s, root)
        .select(element_at(split(col("path"), "/"), -1).as("base"),
          col("length").as("flen"))
        .orderBy("base")
    })
  )

  def oracle: Map[String, String] = Map(
    "scan_fs_recursive" ->
      """SELECT 'doc_' || doc_id || '.txt' AS base,
        |       CAST(octet_length(encode(text)) AS BIGINT) AS flen
        |FROM documents ORDER BY base""".stripMargin
  )
}
