package graft.ops

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.SparkSession

/** Per-session cleanup registry: actions that run once when a session's
  * SparkContext ends.
  *
  * Actions run on `SparkListenerApplicationEnd`, i.e. at CONTEXT
  * granularity: sessions sharing one context are cleaned together when it
  * stops, which covers the Bench/Verify/test JVMs where one context spans
  * the run. Each action is wrapped in try, because the context is
  * mid-shutdown when they fire. A long-lived JVM that churns sessions
  * would otherwise keep cached frames, temp directories and strong
  * references to stopped sessions forever.
  *
  * Per-session memos go through [[SessionMemo]], which registers the
  * memo's own drop action here; the few non-memo callers register
  * releases of per-call resources directly with [[onEnd]].
  */
object SessionCleanup {

  private val actions = new java.util.concurrent.ConcurrentHashMap[
    SparkContext, java.util.concurrent.ConcurrentLinkedQueue[() => Unit]]()

  /** Register `f` to run when `s`'s SparkContext ends. The listener is
    * installed once per context (on first registration). */
  def onEnd(s: SparkSession)(f: => Unit): Unit = {
    val sc = s.sparkContext
    val q = actions.computeIfAbsent(sc, { c =>
      c.addSparkListener(new SparkListener {
        override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit =
          drain(c)
      })
      new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]()
    })
    q.add(() => f)
  }

  /** Run and drop everything registered for `sc` (idempotent; exposed so
    * specs can force a drain without stopping the shared test session). */
  def drain(sc: SparkContext): Unit = {
    val q = actions.remove(sc)
    if (q != null) q.forEach { f =>
      try f() catch { case _: Throwable => () }
    }
  }

  /** Pending-action count for `s` — spec observability. */
  def pending(s: SparkSession): Int = {
    val q = actions.get(s.sparkContext)
    if (q == null) 0 else q.size()
  }

  /** Best-effort recursive delete of a temp directory. */
  def deleteRecursively(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach { f =>
          try java.nio.file.Files.deleteIfExists(f)
          catch { case _: Throwable => () }
        }
      finally walk.close()
    }
  }
}

/** A memo whose entries live for one Spark session: a value built at most
  * once per (session, key) — a trained model, a cached frame, a derived
  * child session — or an artifact written once into a fresh temp dir.
  * The setup cost is paid once per session (the bench bills it to its
  * build pass), and nothing outlives the session's context.
  *
  * The contract, for every memo:
  *   - the build runs at most once per key (`computeIfAbsent`; two racing
  *     first calls wait for one build, they never run two);
  *   - the drop action is registered with [[SessionCleanup.onEnd]] BEFORE
  *     the build runs, so a build that throws leaves no entry and, in the
  *     temp-dir form, its dir is still deleted at drain; the next call
  *     builds again;
  *   - on drain the entry is removed, `release` runs on the value a build
  *     returned (the value of a build that threw is never seen), and the
  *     temp dir is deleted. Every memo therefore rebuilds lazily when
  *     queried after a drain (SessionCleanupSpec drains mid-session).
  *
  * A temp-dir artifact gets a fresh `createTempDirectory`, never a
  * deterministic path: two sessions or JVMs sharing an sf dir must never
  * write the same artifact concurrently.
  *
  * Each memo site owns its instance. A build may call other memos (the
  * tokenizer interchange dir reads the tokenizer dir, which reads the
  * trained merges), and `computeIfAbsent` throws "Recursive update" when a
  * build touches the map it is building into. */
final class SessionMemo[K, V](
    release: (SparkSession, V) => Unit = (_: SparkSession, _: V) => ()) {

  private val entries =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, K), V]()

  /** `build`'s value for (s, k), built on the first call only. */
  def apply(s: SparkSession, k: K)(build: => V): V =
    entries.computeIfAbsent((s, k), { key =>
      dropOnEnd(s, key, dir = None)
      build
    })

  /** `fill(dir)`'s value for (s, k): on the first call, a fresh temp dir
    * named `prefix…` is created and filled; it is deleted at drain. */
  def inTempDir(s: SparkSession, k: K, prefix: String)(fill: String => V): V =
    entries.computeIfAbsent((s, k), { key =>
      val dir = java.nio.file.Files.createTempDirectory(prefix).toString
      dropOnEnd(s, key, Some(dir))
      fill(dir)
    })

  private def dropOnEnd(s: SparkSession, key: (SparkSession, K),
      dir: Option[String]): Unit =
    SessionCleanup.onEnd(s) {
      try Option(entries.remove(key)).foreach(release(s, _))
      finally dir.foreach(SessionCleanup.deleteRecursively)
    }
}
