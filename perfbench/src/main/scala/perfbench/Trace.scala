package perfbench

import scala.collection.mutable
import org.apache.spark.{PerfbenchBridge, SparkContext}
import org.apache.spark.scheduler._

/** Listener totals for the Spark work one span caused. */
final class Counts {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskRunMs = 0L
  var taskCpuNs = 0L
  var schedDelayMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]

  def add(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    taskRunMs += o.taskRunMs; taskCpuNs += o.taskCpuNs
    schedDelayMs += o.schedDelayMs; shuffleReadBytes += o.shuffleReadBytes
    shuffleWriteBytes += o.shuffleWriteBytes; spillBytes += o.spillBytes
    taskMs ++= o.taskMs
  }

  def fields: Seq[(String, Double)] = Seq(
    "jobs" -> jobs.toDouble, "stages" -> stages.toDouble,
    "tasks" -> tasks.toDouble, "task_run_s" -> taskRunMs / 1e3,
    "task_cpu_s" -> taskCpuNs / 1e9, "scheduler_delay_s" -> schedDelayMs / 1e3,
    "shuffle_read_bytes" -> shuffleReadBytes.toDouble,
    "shuffle_write_bytes" -> shuffleWriteBytes.toDouble,
    "spill_bytes" -> spillBytes.toDouble)
}

/** Attributes Spark work to spans. The client thread tags every job with
  * the innermost open span through a local property; jobs carry it to
  * their stages and stages to their tasks, so attribution does not depend
  * on when the listener bus delivers an event. */
final class SpanListener extends SparkListener {
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val bySpan = mutable.HashMap.empty[Int, Counts]

  private def countsOf(span: Int): Counts = bySpan.getOrElseUpdate(span, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .foreach { s =>
        val span = s.toInt
        countsOf(span).jobs += 1
        e.stageIds.foreach(stageSpan(_) = span)
      }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageSpan.get(e.stageInfo.stageId).foreach(countsOf(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    stageSpan.get(e.stageId).filter(_ => m != null).foreach { span =>
      val c = countsOf(span)
      val info = e.taskInfo
      c.tasks += 1
      c.taskRunMs += m.executorRunTime
      c.taskCpuNs += m.executorCpuTime
      c.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime)
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.diskBytesSpilled
      c.taskMs += m.executorRunTime
    }
  }

  def counts(span: Int): Counts = synchronized(bySpan.getOrElse(span, new Counts))
}

/** One timed interval of the traced run. `rep` is the run id shared by
  * every span of one repetition of the workload's timed unit. */
final case class Span(id: Int, name: String, parent: Int, rep: Int,
    start: Long, var end: Long = 0L) {
  def seconds: Double = (end - start) / 1e9
}

/** In-memory span recorder. Spans nest on the single client thread; the
  * listener counts are read only after the bus is drained. */
final class Tracer(sc: SparkContext) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var rep = 0
  val listener = new SpanListener
  sc.addSparkListener(listener)

  def beginRep(r: Int): Unit = rep = r

  def span[A](name: String)(body: => A): A = {
    val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
      rep, System.nanoTime())
    spans += s
    stack = s :: stack
    sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
    try body
    finally {
      s.end = System.nanoTime()
      stack = stack.tail
      sc.setLocalProperty(Tracer.SpanKey, stack.headOption.map(_.id.toString).orNull)
    }
  }

  def close(): Unit = {
    PerfbenchBridge.drainListenerBus(sc)
    sc.removeSparkListener(listener)
  }

  def all: Seq[Span] = spans.toSeq

  /** Span duration minus the union of its children's intervals. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.start, k.end)).sortBy(_._1)
    var covered = 0L
    var reach = s.start
    kids.foreach { case (a, b) =>
      val from = math.max(a, reach)
      if (b > from) { covered += b - from; reach = b }
    }
    ((s.end - s.start) - covered) / 1e9
  }

  def hasChildren(s: Span): Boolean = spans.exists(_.parent == s.id)

  /** Per rep: layer name -> (self seconds, counts), summed over the spans
    * of that name (a layer can be entered more than once per rep). Spans
    * that have children are structure, not layers: their self time is the
    * rep's gap, time no layer span covers. */
  def layersByRep: Map[Int, (Map[String, (Double, Counts)], Double)] =
    spans.groupBy(_.rep).map { case (r, ss) =>
      val leaves = ss.filterNot(hasChildren)
      val layers = leaves.groupBy(_.name).map { case (name, group) =>
        val c = new Counts
        group.foreach(g => c.add(listener.counts(g.id)))
        name -> (group.map(selfSeconds).sum, c)
      }
      val gap = ss.filter(hasChildren).map(selfSeconds).sum
      r -> (layers, gap)
    }

  def toJson: String = spans.map { s =>
    val c = listener.counts(s.id)
    val fields = (Seq("self_s" -> selfSeconds(s)) ++ c.fields)
      .map { case (k, v) => s""""$k": ${Json.num(v)}""" }.mkString(", ")
    s"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, "rep": ${s.rep}, """ +
      s""""start_ns": ${s.start}, "end_ns": ${s.end}, $fields}"""
  }.mkString("[\n", ",\n", "\n]\n")
}

object Tracer {
  val SpanKey = "perfbench.span"
}

/** Per-layer metrics of each traced repetition, in rep order. */
object LayerMetrics {
  def fromTracer(tr: Tracer): Seq[Map[String, Double]] = {
    val spans = tr.all
    tr.layersByRep.toSeq.sortBy(_._1).map { case (rep, (layers, gap)) =>
      val roots = spans.filter(s => s.rep == rep && s.parent < 0)
      val wall = roots.map(_.seconds).sum
      val perLayer = layers.toSeq.flatMap { case (name, (self, c)) =>
        val base = Seq(s"$name.s" -> self) ++ c.fields.map { case (k, v) => s"$name.$k" -> v }
        val cpuShare = if (self > 0) c.taskCpuNs / 1e9 / (self * Main.cores) else 0.0
        val skew = {
          val t = c.taskMs.sorted
          if (t.isEmpty) 0.0 else t.last.toDouble / math.max(t(t.size / 2), 1L)
        }
        base ++ Seq(s"$name.cpu_share" -> cpuShare, s"$name.task_skew" -> skew)
      }.toMap
      val leafSelf = layers.values.map(_._1).sum
      perLayer ++ Map(
        "manifeststore.swaps" ->
          spans.count(s => s.rep == rep && s.name == "manifeststore.swap").toDouble,
        "trace.gap_s" -> gap,
        "trace.accounted_share" -> (if (wall > 0) (leafSelf + gap) / wall else 0.0))
    }
  }
}
