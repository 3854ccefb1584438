package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The library's runnable surface is a fixed set: the three verification
  * mains, the plan explainer and the two CLIs. A new runner in `src/main`
  * fails this spec, so adding one is a deliberate change to the list
  * below. Reads source files only; starts no Spark session. */
class EntryPointsSpec extends AnyFunSuite {

  private val mainDecl = """def\s+main\s*\(|extends\s+App\b""".r
  private val entryPoints = Set("Verify", "Smoke", "Bench", "Explain",
    "cli.PrepareUpload", "cli.BulkUpload")

  /** Each `src/main` source by its dotted name below `graft`. */
  private def sources(): Map[String, String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val walk = Files.walk(root)
    try walk.iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map((p: Path) => root.relativize(p).toString
        .stripSuffix(".scala").replace(java.io.File.separatorChar, '.')
        .stripPrefix("graft.") -> Files.readString(p))
      .toMap
    finally walk.close()
  }

  test("src/main declares exactly the six entry points " +
      "(Verify, Smoke, Bench, Explain, cli.PrepareUpload, cli.BulkUpload)") {
    val found = sources().collect {
      case (name, src) if mainDecl.findFirstIn(src).isDefined => name
    }.toSet
    assert(found == entryPoints)
  }

  test("outside the six entry points, src/main reads no environment " +
      "variable") {
    val readers = sources().collect {
      case (name, src) if !entryPoints(name) &&
        """sys\.env|System\.getenv""".r.findFirstIn(src).isDefined => name
    }
    assert(readers.isEmpty, readers.mkString(", "))
  }
}
