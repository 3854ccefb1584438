package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Manifest, SessionMemo}

/** JDBC manifest source (SURVEY §2.1 `source_jdbc`).
  *
  * Reference: the MySQL-backed manifest table read through a hand-rolled
  * connector (olrcdb.py:9-29, `SELECT ... WHERE uploaded='0'` through one
  * serial cursor). Spark-native replacement: `spark.read.jdbc` with a
  * partition column — N executors each issue a range-bounded query, so
  * the read scales horizontally instead of draining one cursor; filters
  * push down into the database as WHERE clauses.
  *
  * Backed here by embedded Derby (on the Spark classpath; the reference's
  * MySQL would be a URL change — the Spark code is identical). Column
  * types mirror olrcdb.py:36-52: `path VARCHAR(1000)`, `uploaded
  * BOOLEAN`.
  */
object Jdbc {

  /** One Derby database per (session, sf dir), loaded once with the
    * deterministic manifest — the registry query is then a pure
    * partitioned read. The value is the database dir; release is the
    * clean Derby shutdown (which throws SQLException on success by
    * contract) before the temp dir goes. */
  private val memo = new SessionMemo[String, String](release = (_, dbDir) =>
    try java.sql.DriverManager.getConnection(s"jdbc:derby:$dbDir;shutdown=true")
    catch { case _: java.sql.SQLException => () })

  def derbyUrl(dbDir: String): String = s"jdbc:derby:$dbDir;create=true"

  /** Write `df` as the JDBC `manifest` table (the prepare-side load). */
  def writeManifest(df: DataFrame, url: String): Unit =
    df.write.format("jdbc")
      .option("url", url)
      .option("dbtable", "manifest")
      .option("createTableColumnTypes",
        "id BIGINT, path VARCHAR(1000), uploaded BOOLEAN")
      .option("batchsize", "10000") // addBatch/executeBatch, not row INSERTs
      .mode("overwrite")
      .save()

  /** Partitioned read: `numPartitions` range-bounded queries on `id`. */
  def readManifest(spark: SparkSession, url: String, upperId: Long,
      numPartitions: Int = 4): DataFrame =
    spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", "manifest")
      .option("partitionColumn", "id")
      .option("lowerBound", "1")
      .option("upperBound", math.max(2L, upperId).toString)
      .option("numPartitions", numPartitions.toString)
      .load()

  /** Append an upload-result batch to the JDBC `upload_log` table — the
    * WRITE-BACK sink (sink_jdbc_writeback). The reference's state-update
    * boundary is a per-row `UPDATE paths SET uploaded=1 WHERE id=%s` +
    * commit over MySQL (bulkupload.py:253-261 set_uploaded); the
    * Spark-native form is set-oriented: the result batch appends via
    * `df.write.jdbc` (executeBatch inserts, one connection per
    * partition — horizontally parallel), and the marked manifest is the
    * base table LEFT JOIN the read-back log, the same broadcast-mark
    * plan as manifest_mark_uploaded. At 100 TB the log is the small side
    * (one row per newly uploaded object); a million single-row UPDATE
    * round-trips is exactly the boundary that doesn't scale. */
  def appendResults(results: DataFrame, url: String): Unit =
    results.write.format("jdbc")
      .option("url", url)
      .option("dbtable", "upload_log")
      .option("createTableColumnTypes", "id BIGINT")
      .option("batchsize", "10000")
      .mode("append")
      .save()

  /** Partitioned read-back of the upload log. */
  def readLog(spark: SparkSession, url: String, upperId: Long,
      numPartitions: Int = 4): DataFrame =
    spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", "upload_log")
      .option("partitionColumn", "id")
      .option("lowerBound", "1")
      .option("upperBound", math.max(2L, upperId).toString)
      .option("numPartitions", numPartitions.toString)
      .load()

  /** One log append per (session, sf dir) — reruns of the registry query
    * (bench runs it 4×) must not re-append the same batch. */
  private val logMemo = new SessionMemo[String, Unit]

  private def ensureLogWritten(s: SparkSession, d: String, url: String): Unit =
    logMemo(s, d) {
      val results = Manifest.fromDocuments(s, d)
        .filter(!col("uploaded") && col("id") % 5 === 0)
        .select("id")
      appendResults(results, url)
    }

  private def ensureLoaded(s: SparkSession, d: String): String =
    derbyUrl(memo.inTempDir(s, d, "graft-derby") { tmp =>
      val dbDir = s"$tmp/manifestdb"
      writeManifest(Manifest.fromDocuments(s, d), derbyUrl(dbDir))
      dbDir
    })

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // manifest -> Derby -> partitioned JDBC read round-trip; must equal
    // the manifest exactly.
    "source_jdbc" -> ((s, d) => {
      val url = ensureLoaded(s, d)
      val n = Manifest.fromDocuments(s, d).agg(max("id")).head().getLong(0)
      readManifest(s, url, n)
        .select(col("id"), col("path"), col("uploaded"))
        .orderBy("id")
    }),
    // upload results -> JDBC append -> read-back -> broadcast mark: the
    // full write-back round trip through the database.
    "sink_jdbc_writeback" -> ((s, d) => {
      val url = ensureLoaded(s, d)
      ensureLogWritten(s, d, url)
      val n = Manifest.fromDocuments(s, d).agg(max("id")).head().getLong(0)
      val log = readLog(s, url, n).select(col("id"), lit(true).as("_mark"))
      readManifest(s, url, n)
        .join(broadcast(log), Seq("id"), "left_outer")
        .select(col("id"), col("path"),
          (col("uploaded") || coalesce(col("_mark"), lit(false)))
            .as("uploaded"))
        .orderBy("id")
    })
  )

  def oracle: Map[String, String] = Map(
    "source_jdbc" -> graft.model.OracleSql.manifestSelect,
    // same marked-manifest semantics as manifest_mark_uploaded — here the
    // mark batch round-trips through the database first.
    "sink_jdbc_writeback" ->
      s"""${graft.model.OracleSql.manifestCte},
         |results AS (SELECT id FROM manifest WHERE NOT uploaded AND id % 5 = 0)
         |SELECT m.id, m.path, (m.uploaded OR r.id IS NOT NULL) AS uploaded
         |FROM manifest m LEFT JOIN results r ON m.id = r.id
         |ORDER BY m.id""".stripMargin
  )
}
