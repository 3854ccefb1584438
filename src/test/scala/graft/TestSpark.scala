package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for all suites (suites run sequentially in the
  * forked test JVM; building a session per suite costs ~5s each). */
object TestSpark {
  lazy val spark: SparkSession = {
    val warehouse = java.nio.file.Files
      .createTempDirectory("graft-warehouse").toString
    // the session lives until the test JVM exits; so does its warehouse
    sys.addShutdownHook(graft.ops.SessionCleanup.deleteRecursively(warehouse))
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", warehouse)
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$warehouse/metastore_db;create=true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf0001 = "/root/testdata/sf0.001"
}
