package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import graft.sink.ManifestStore

/** Output checks for one upload repetition, run outside the timed region.
  * `items` counts what was checked, `failed` how many were wrong, and
  * `failures` describes them (the first three bad objects, then each
  * other fault). */
final case class CheckResult(items: Long, failed: Long, failures: Seq[String])

object Checks {

  /** Expected outcome of one prepare + upload over `tree`. */
  final case class Expect(indexed: Long, total: Long, pending: Long,
      plan: Map[String, Int])

  def upload(spark: SparkSession, tree: Tree, store: Path, manifestRoot: Path,
      e: Expect, prepared: graft.cli.PrepareUpload.Summary,
      uploaded: graft.cli.BulkUpload.Summary, faultsThrown: Long): CheckResult = {
    val bad = Seq.newBuilder[String]
    val n = tree.keys.size

    // every object equals its source file
    val objectsBad = java.util.stream.IntStream.range(0, n).parallel().filter { i =>
      val obj = store.resolve(tree.keys(i))
      !Files.exists(obj) ||
        !java.util.Arrays.equals(Files.readAllBytes(obj), Files.readAllBytes(tree.file(i)))
    }.toArray
    val objectMsgs = objectsBad.take(3).map(i => s"object ${tree.keys(i)} differs from its source")

    // the final manifest: one row per file, dense unique ids, all uploaded
    val rows = ManifestStore.read(spark, manifestRoot.toString)
      .select("id", "path", "uploaded").collect()
    val ids = rows.map(_.getLong(0)).sorted
    val prefix = Gen.uri(tree.root) + "/"
    val keys = rows.map(_.getString(1).stripPrefix(prefix)).toSet
    if (rows.length != n) bad += s"manifest has ${rows.length} rows for $n files"
    if (!ids.sameElements(1L to n.toLong)) bad += "manifest ids are not dense 1..n"
    if (keys != tree.keys.toSet) bad += "manifest paths differ from the tree"
    val notUp = rows.count(r => !r.getBoolean(2))
    if (notUp > 0) bad += s"$notUp manifest rows not marked uploaded"

    // CLI summaries and the report files agree with the expected counts
    if (prepared.indexed != e.indexed || prepared.total != e.total)
      bad += s"prepare summary $prepared, expected ${e.indexed} indexed of ${e.total}"
    if (uploaded.attempted != e.pending || uploaded.uploaded != e.pending ||
        uploaded.failed != 0 || uploaded.totalUploaded != n || uploaded.total != n)
      bad += s"upload summary $uploaded, expected ${e.pending} of $n"
    def read(name: String): String = {
      val p = manifestRoot.resolve(name)
      if (Files.exists(p)) Files.readString(p) else ""
    }
    if (!read(".prepare.out").endsWith(s": ${e.indexed} files indexed, ${e.total} total"))
      bad += s".prepare.out disagrees: ${read(".prepare.out")}"
    if (!read(".upload.out").startsWith("100.00000000% Uploaded at "))
      bad += s".upload.out disagrees: ${read(".upload.out")}"
    val report = read(".upload.report.log")
    if (!report.contains(s"Total attempted: ${e.pending}\n") ||
        !report.contains(s"Uploaded: ${e.pending}\n") || !report.contains("Failed: 0\n"))
      bad += s".upload.report.log disagrees: $report"

    // the store saw exactly the planned transient faults
    val planned = e.plan.values.sum.toLong
    if (faultsThrown != planned) bad += s"$faultsThrown injected faults, plan has $planned"

    val other = bad.result()
    CheckResult(n.toLong, objectsBad.length + other.size, objectMsgs.toSeq ++ other)
  }
}
