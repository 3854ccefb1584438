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

  test("src/main declares exactly the six entry points " +
      "(Verify, Smoke, Bench, Explain, cli.PrepareUpload, cli.BulkUpload)") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: $root")
    val walk = Files.walk(root)
    val found = try walk.iterator().asScala
      .filter(p => p.toString.endsWith(".scala") &&
        mainDecl.findFirstIn(Files.readString(p)).isDefined)
      .map((p: Path) => root.relativize(p).toString
        .stripSuffix(".scala").replace(java.io.File.separatorChar, '.')
        .stripPrefix("graft."))
      .toSet
    finally walk.close()
    assert(found == Set("Verify", "Smoke", "Bench", "Explain",
      "cli.PrepareUpload", "cli.BulkUpload"))
  }
}
