package graft

import org.scalatest.{Outcome, TestSuite}

/** Temp dirs a test makes through [[tempDir]] are deleted in a `finally`
  * when the test ends, whether it passed or failed, so a suite run leaves
  * nothing in java.io.tmpdir. */
trait TempDirs extends TestSuite {
  private val made = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  def tempDir(prefix: String): String = {
    val d = java.nio.file.Files.createTempDirectory(prefix).toString
    made.add(d)
    d
  }

  override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test)
    finally {
      made.forEach(graft.ops.SessionCleanup.deleteRecursively(_))
      made.clear()
    }
}
