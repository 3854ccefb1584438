package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import graft.sink.ObjectStore

/** Seeded transient faults: the first `plan(key)` puts of each planned key
  * throw. It wraps `RetryingStore`, so the faults reach the uploader's
  * own per-file retry loop and the reconnect sleep never fires. Clients
  * are built per partition, so the tally lives in the JVM-wide companion
  * (local-mode executors run inside this JVM). */
final class FaultInjectingStore(delegate: ObjectStore, plan: Map[String, Int])
    extends ObjectStore {
  override def ensureContainer(): Unit = delegate.ensureContainer()
  override def put(key: String, bytes: Array[Byte]): Unit = {
    plan.get(key).foreach { failures =>
      val seen: Int = FaultInjectingStore.calls.merge(key, Int.box(1),
        (a: Integer, b: Integer) => Int.box(a + b))
      if (seen <= failures) {
        FaultInjectingStore.thrown.incrementAndGet()
        throw new java.io.IOException(s"injected fault $seen/$failures on $key")
      }
    }
    delegate.put(key, bytes)
  }
}

object FaultInjectingStore {
  val calls = new ConcurrentHashMap[String, Integer]()
  val thrown = new AtomicLong()

  def reset(): Unit = { calls.clear(); thrown.set(0) }
}

/** Counts and times every put attempt the uploader makes; traced run only. */
final class TimingStore(delegate: ObjectStore) extends ObjectStore {
  override def ensureContainer(): Unit = delegate.ensureContainer()
  override def put(key: String, bytes: Array[Byte]): Unit = {
    val t0 = System.nanoTime()
    try {
      delegate.put(key, bytes)
      TimingStore.record(System.nanoTime() - t0, bytes.length, ok = true)
    } catch {
      case e: Exception =>
        TimingStore.record(System.nanoTime() - t0, 0, ok = false)
        throw e
    }
  }
}

object TimingStore {
  private val lock = new Object
  private val latNs = scala.collection.mutable.ArrayBuffer.empty[Long]
  private var puts, bytes, busyNs, failedAttempts = 0L

  def record(ns: Long, n: Int, ok: Boolean): Unit = lock.synchronized {
    latNs += ns
    busyNs += ns
    if (ok) { puts += 1; bytes += n } else failedAttempts += 1
  }

  def reset(): Unit = lock.synchronized {
    latNs.clear(); puts = 0; bytes = 0; busyNs = 0; failedAttempts = 0
  }

  /** `store.*` metrics since the last reset; latency percentiles are over
    * every attempt, `put_samples` of them. */
  def snapshot(): Map[String, Double] = lock.synchronized {
    val sorted = latNs.sorted
    def pct(p: Double): Double =
      if (sorted.isEmpty) 0.0
      else sorted(math.min(sorted.size - 1, (p * sorted.size).toInt)) / 1e6
    Map("store.puts" -> puts.toDouble, "store.bytes" -> bytes.toDouble,
      "store.put_busy_s" -> busyNs / 1e9, "store.put_ms_p50" -> pct(0.5),
      "store.put_ms_p99" -> pct(0.99), "store.put_samples" -> sorted.size.toDouble,
      "store.retries" -> failedAttempts.toDouble)
  }
}
