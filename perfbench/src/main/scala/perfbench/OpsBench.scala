package perfbench

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import graft.SparkEntry

/** `ops-llm`: oracle-backed registry keys of the LLM-data operator
  * modules, run in sorted order over a seeded corpus, one key after the
  * other. A call computes the key's result and writes it as parquet, the
  * way the registry's verifier materialises it; a pass is one call of
  * every key and its time is the sum of the per-key times. The last
  * pass's files are what the oracle compare reads. */
object OpsBench {

  /** Key -> operator module (the trace layer it is charged to): one
    * oracle-backed key of each LLM-data module. */
  val keys: Map[String, String] = Map(
    "dedup_simhash_pairs" -> "Dedup", "sim_topk" -> "Similarity",
    "tokenize_bpe_ids_byte" -> "TermStats", "sample_pack_tensor" -> "Sampling",
    "text_pii_mask" -> "Text", "graph_pagerank" -> "Graphs",
    "multimodal_dedup_phash" -> "Multimodal")

  /** Fewest timed passes per run, however short `--seconds` is: the median
    * of two (their mean) halves the weight of a burst of load from other
    * tenants of a shared host. */
  val minPasses = 2

  /** Corpus size: the row counts of the registry's sf0.01 test tables. */
  val docs = 500
  val vecs = 500

  def run(spark: SparkSession, o: Opts, startS: Double): Result = {
    val names = keys.keys.toSeq.sorted
    val queries = SparkEntry.queries
    val dir = o.work.resolve("corpus")
    val g0 = System.nanoTime()
    Gen.corpus(spark, dir, docs, vecs, o.seed)
    val genS = (System.nanoTime() - g0) / 1e9

    val failures = Seq.newBuilder[String]
    val broken = scala.collection.mutable.Set.empty[String]
    def guarded(k: String)(body: => Unit): Unit =
      try body
      catch {
        case e: Exception =>
          if (broken.add(k)) failures += s"$k threw ${e.getClass.getSimpleName}: ${e.getMessage}"
      }
    val out = o.work.resolve("ops-out")
    def call(k: String): Double = {
      val t0 = System.nanoTime()
      guarded(k)(queries(k)(spark, dir.toString).write.mode("overwrite")
        .parquet(out.resolve(k).toString))
      val s = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[ops-llm] $k%-32s $s%8.3f s")
      s
    }

    // build pass: the first call of each key fills the registry's memoised
    // side effects (trained vocabularies, indexes) and compiles its plans
    val b0 = System.nanoTime()
    names.foreach(call)
    val buildS = (System.nanoTime() - b0) / 1e9
    val oracle = SparkEntry.oracleSql
    Files.writeString(out.resolve("oracle_sql.json"), names.filter(oracle.contains)
      .map(k => s"${Json.str(k)}: ${Json.str(oracle(k))}").mkString("{", ", ", "}"))
    names.filterNot(oracle.contains).foreach(k => failures += s"$k has no oracle SQL")

    val passes = scala.collection.mutable.ArrayBuffer.empty[(Double, Double)]
    val traced = scala.collection.mutable.ArrayBuffer.empty[Double]
    val tracer = if (o.trace) Some(new Tracer(spark.sparkContext)) else None
    var spent = 0.0
    while (spent < o.seconds || passes.size < minPasses || (o.trace && traced.isEmpty)) {
      HeapPeak.start()
      val pass = names.map(call).sum
      passes += ((pass, HeapPeak.stopMb()))
      spent += pass
      tracer.foreach { tr =>
        tr.beginRep(traced.size)
        val t0 = System.nanoTime()
        tr.span("ops")(names.foreach(k => tr.span(s"ops.${keys(k)}")(call(k))))
        val s = (System.nanoTime() - t0) / 1e9
        traced += s
        spent += s
      }
    }

    val opsS = Main.median(passes.map(_._1).toSeq)
    val endToEnd = Map(
      "job_s" -> opsS,
      "ops_s" -> opsS,
      "setup_s" -> (startS + genS + buildS),
      "peak_heap_mb" -> passes.head._2)
    val layer = tracer.map { tr =>
      tr.close()
      Files.writeString(o.spans, tr.toJson)
      val perRep = LayerMetrics.fromTracer(tr).zip(traced)
        .map { case (m, s) => m + ("trace.job_s" -> s) }
      val ks = perRep.flatMap(_.keys).distinct
      val m = ks.map(k => k -> Main.median(perRep.map(_.getOrElse(k, 0.0)))).toMap
      m ++ Map("trace.untraced_job_s" -> opsS, "trace.overhead_s" -> (m("trace.job_s") - opsS))
    }.getOrElse(Map.empty)

    val failed = failures.result()
    Result(names.size.toLong, (broken ++ names.filterNot(oracle.contains)).size.toLong,
      failed, endToEnd ++ layer)
  }
}
