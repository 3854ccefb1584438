package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts the Spark jobs a block launches, for plan audits that pin an
  * action count. A listener records every job start between two marker
  * jobs; listener events arrive in posting order, so once the closing
  * marker is seen every job of the block has been seen too — including
  * jobs run from other threads (broadcasts, adaptive stages). */
object JobCount {
  private val markerKey = "graft.jobcount.marker"

  /** The block's result and the call site of each job it launched. */
  def of[T](spark: SparkSession)(block: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val starts = new LinkedBlockingQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.add((Option(e.properties).flatMap(p => Option(p.getProperty(markerKey)))
          .getOrElse(""), e.stageInfos.maxBy(_.stageId).name))
    }
    def marker(tag: String): Unit = {
      sc.setLocalProperty(markerKey, tag)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setLocalProperty(markerKey, null)
    }
    sc.addSparkListener(listener)
    try {
      marker("open")
      val out = block
      marker("close")
      val seen = Iterator.continually(starts.poll(60, TimeUnit.SECONDS))
        .map(s => { assert(s != null, "listener events did not arrive"); s })
        .takeWhile(_._1 != "close").toSeq
      (out, seen.dropWhile(_._1 != "open").drop(1).map(_._2))
    } finally sc.removeSparkListener(listener)
  }
}
