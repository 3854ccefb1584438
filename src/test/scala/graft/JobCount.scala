package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Counts what a block launches, for plan audits that pin an action
  * count or an exchange's size. A listener records every job start and
  * task end between two marker jobs; listener events arrive in posting
  * order, so once the closing marker is seen every event of the block has
  * been seen too — including jobs run from other threads (broadcasts,
  * adaptive stages). */
object JobCount {
  private val markerKey = "graft.jobcount.marker"

  /** The block's result and the call site of each job it launched. */
  def of[T](spark: SparkSession)(block: => T): (T, Seq[String]) = {
    val (out, events) = watch(spark)(block)
    (out, events.collect { case e: SparkListenerJobStart => e.stageInfos.maxBy(_.stageId).name })
  }

  /** The block's result and the shuffle bytes its tasks wrote. */
  def shuffleWriteBytes[T](spark: SparkSession)(block: => T): (T, Long) = {
    val (out, events) = watch(spark)(block)
    (out, events.collect {
      case e: SparkListenerTaskEnd if e.taskMetrics != null =>
        e.taskMetrics.shuffleWriteMetrics.bytesWritten
    }.sum)
  }

  private def watch[T](spark: SparkSession)(block: => T): (T, Seq[SparkListenerEvent]) = {
    val sc = spark.sparkContext
    val events = new LinkedBlockingQueue[(String, SparkListenerEvent)]()
    val listener = new SparkListener {
      // a job over zero partitions runs no stage and is not counted
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.stageInfos.nonEmpty)
          events.add((Option(e.properties).flatMap(p => Option(p.getProperty(markerKey)))
            .getOrElse(""), e))
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = events.add(("", e))
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
      val seen = Iterator.continually(events.poll(60, TimeUnit.SECONDS))
        .map(s => { assert(s != null, "listener events did not arrive"); s })
        .takeWhile(_._1 != "close").toSeq
      (out, seen.dropWhile(_._1 != "open").drop(1).map(_._2))
    } finally sc.removeSparkListener(listener)
  }
}
