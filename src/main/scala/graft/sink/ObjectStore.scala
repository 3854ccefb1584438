package graft.sink

import java.nio.file.{Files, Paths, StandardCopyOption}

/** Object-store client abstraction (SURVEY §2.1 `sink_object_store`).
  *
  * Reference: `upload_file` bulkupload.py:35-77 PUTs each file to Swift
  * with a per-worker (storage_url, token) pair; `create_container`
  * bulkupload.py:110-124 provisions the container idempotently. Swift
  * itself is external to this engine — the contract is this trait; the
  * local-filesystem impl backs tests and the flagship pipeline.
  *
  * Clients are created per partition inside `foreachPartition`/
  * `mapPartitions` (the Spark analogue of the reference's per-worker
  * connection reuse, bulkupload.py:164-165) — a factory closure is shipped
  * to executors, never a live connection.
  */
trait ObjectStore extends Serializable {
  /** Idempotent PUT: same key overwritten = same state (gives the
    * at-least-once upload semantics of bulkupload.py:193-197). */
  def put(key: String, bytes: Array[Byte]): Unit

  /** Idempotent container/prefix provisioning (bulkupload.py:110-124). */
  def ensureContainer(): Unit
}

/** Local-FS store: key → file under `root`, atomic via temp+move. */
final class LocalFsStore(root: String) extends ObjectStore {
  override def ensureContainer(): Unit = {
    val _ = Files.createDirectories(Paths.get(root))
  }
  override def put(key: String, bytes: Array[Byte]): Unit = {
    val target = Paths.get(root, key)
    Files.createDirectories(target.getParent)
    val tmp = Files.createTempFile(target.getParent, ".up-", ".tmp")
    Files.write(tmp, bytes)
    Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }
}

/** Linear-backoff reconnect policy (SURVEY §2.11 `retry_reconnect`).
  *
  * Reference: `olrc_connect` bulkupload.py:80-107 — on auth failure sleep
  * SLEEP seconds, SLEEP += 1, recurse forever. We keep the linear ramp but
  * bound the attempts (the reference's unbounded recursion is a stack
  * overflow in waiting) and inject the sleeper for tests.
  *
  * The ramp guards the connect/provision step only. `put` goes to the
  * delegate once: the uploader's ≤5 attempts per row (bulkupload.py:187-202)
  * are the one put-retry layer, so a key that always fails costs 5 puts,
  * not 5 × `maxConnectAttempts`.
  */
final class RetryingStore(
    delegate: ObjectStore,
    maxConnectAttempts: Int = 10,
    sleeper: Long => Unit = ms => Thread.sleep(ms)) extends ObjectStore {

  private def withReconnect[A](op: => A): A = {
    var attempt = 0
    var sleepMs = 1000L // reference starts at 1 s (bulkupload.py:15)
    while (true) {
      try return op
      catch {
        case e: Exception =>
          attempt += 1
          if (attempt >= maxConnectAttempts) throw e
          sleeper(sleepMs)
          sleepMs += 1000L // SLEEP += 1 (bulkupload.py:105)
      }
    }
    sys.error("unreachable")
  }

  override def ensureContainer(): Unit = withReconnect(delegate.ensureContainer())
  override def put(key: String, bytes: Array[Byte]): Unit =
    delegate.put(key, bytes)
}

/** Test double: fails the first `failTimes` puts of matching keys — used
  * to assert the ≤5-attempt retry budget (bulkupload.py:187-202). */
final class FlakyStore(root: String, failTimes: Int, failKeySubstr: String)
    extends ObjectStore {
  private val delegate = new LocalFsStore(root)
  override def ensureContainer(): Unit = delegate.ensureContainer()
  override def put(key: String, bytes: Array[Byte]): Unit = {
    if (key.contains(failKeySubstr)) {
      val n: Int = FlakyStore.counts.merge(key, Int.box(1),
        (a: Integer, b: Integer) => Int.box(a + b))
      if (n <= failTimes) throw new java.io.IOException(s"flaky put $key #$n")
    }
    delegate.put(key, bytes)
  }
}
object FlakyStore {
  // JVM-wide because local-mode executors share the JVM with the driver.
  val counts = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
}
