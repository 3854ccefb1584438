package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import javax.management.NotificationEmitter
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._
import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.SparkSession

/** What one invocation measured: checked items, wrong items, their
  * descriptions and every metric by name. */
final case class Result(attempted: Long, failed: Long, failures: Seq[String],
    metrics: Map[String, Double])

final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
    work: Path, out: Path, spans: Path, corrupt: Option[String])

/** The benchmark JVM. One client thread drives the engine's public entry
  * points in a closed loop (each call starts when the previous returns),
  * inside one Spark `local[nproc]` session, and writes its result as JSON
  * to `--out` and the traced run's spans to `--spans`. */
object Main {

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toDouble,
      kv("trace") == "1", Paths.get(kv("work")).toAbsolutePath,
      Paths.get(kv("out")), Paths.get(kv("spans")), kv.get("corrupt"))
    val spark = session(o.work)
    val startS = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    val r = try {
      o.workload match {
        case "ops-llm" => OpsBench.run(spark, o, startS)
        case "resume" => ResumeBench.run(spark, o, startS)
        case w => sys.error(s"unknown workload $w")
      }
    } finally spark.stop()
    Files.writeString(o.out, Json.result(r))
  }

  def cores: Int = Runtime.getRuntime.availableProcessors()

  /** The CLIs' session settings, with every temporary directory in `work`. */
  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def deleteTree(p: Path): Unit = graft.ops.SessionCleanup.deleteRecursively(p.toString)

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val w = Files.walk(p)
      try w.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally w.close()
    }
}

/** Peak heap in use during a timed region: the largest heap occupancy
  * left after any collection inside it (the live set, which unlike raw
  * occupancy does not depend on when the collector happens to run). The
  * region starts after a full collection, whose residue is the floor. */
object HeapPeak {
  @volatile private var active = false
  private val peak = new java.util.concurrent.atomic.AtomicLong()
  private lazy val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  private lazy val installed: Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter =>
        e.addNotificationListener((n, _) => {
          if (active && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            peak.accumulateAndGet(used, math.max)
          }
        }, null, null)
      case _ =>
    }

  def start(): Unit = {
    installed
    System.gc()
    peak.set(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
    active = true
  }

  def stopMb(): Double = { active = false; peak.get / 1048576.0 }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0.0" else java.lang.Double.toString(v)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def result(r: Result): String =
    s"""{"attempted": ${r.attempted}, "failed": ${r.failed}, """ +
      s""""failures": ${r.failures.map(str).mkString("[", ", ", "]")}, """ +
      s""""metrics": ${r.metrics.toSeq.sortBy(_._1)
        .map { case (k, v) => s"${str(k)}: ${num(v)}" }.mkString("{", ", ", "}")}}""" + "\n"
}
