package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** A generated file tree: object keys relative to `root` and their sizes. */
final case class Tree(root: Path, keys: IndexedSeq[String], sizes: IndexedSeq[Int]) {
  def file(i: Int): Path = root.resolve(keys(i))
}

/** Seeded input generators. The same seed always yields the same bytes,
  * paths, manifest, store contents and fault plan. */
object Gen {

  /** Writes `n` files of `minBytes`..`maxBytes` random bytes into a
    * `fanout` x `fanout` directory tree. Sizes and placement are drawn in
    * order from one generator; each file's content from its own stream. */
  def tree(root: Path, n: Int, minBytes: Int, maxBytes: Int, fanout: Int,
      seed: Long): Tree = {
    val r = new SplittableRandom(seed)
    val keys = (0 until n).map(i =>
      f"d${r.nextInt(fanout)}%02d/e${r.nextInt(fanout)}%02d/f_$i%07d.dat")
    val sizes = (0 until n).map(_ => minBytes + r.nextInt(maxBytes - minBytes + 1))
    val t = Tree(root, keys, sizes)
    java.util.stream.IntStream.range(0, n).parallel().forEach { i =>
      val p = t.file(i)
      Files.createDirectories(p.getParent)
      Files.write(p, content(seed, i, sizes(i)))
    }
    t
  }

  /** A local path as the binaryFile scan reports it. */
  def uri(p: Path): String = "file:" + p.toAbsolutePath.normalize

  def content(seed: Long, i: Int, size: Int): Array[Byte] = {
    val r = new SplittableRandom(seed * 1000003L + i)
    val b = new Array[Byte](size)
    var k = 0
    while (k < size) {
      var v = r.nextLong()
      var j = 0
      while (j < 8 && k < size) { b(k) = v.toByte; v >>>= 8; j += 1; k += 1 }
    }
    b
  }

  /** The state a crash leaves, over a tree of `indexed + fresh` files:
    * `indexed` files are in the manifest snapshot, `uploadedShare` of them
    * marked uploaded; of the rest, `putShare` already have their object in
    * the store (put done, mark not done); `fresh` files are new since the
    * last index. `plan` holds transient put faults for `faultShare` of the
    * keys that will be pending after the next prepare, 1 or 2 each. */
  final case class CrashState(tree: Tree, inManifest: Array[Boolean],
      uploaded: Array[Boolean], inStore: Array[Boolean], plan: Map[String, Int]) {
    def pendingAfterPrepare: Int = tree.keys.indices.count(i => !uploaded(i))
  }

  def crashState(tree: Tree, fresh: Int, uploadedShare: Double, putShare: Double,
      faultShare: Double, seed: Long): CrashState = {
    val n = tree.keys.size
    val r = new java.util.Random(seed ^ 0x5DEECE66DL)
    val order = r.ints(0, Int.MaxValue).limit(n.toLong).toArray.zipWithIndex.sortBy(_._1).map(_._2)
    val inManifest = Array.fill(n)(true)
    order.take(fresh).foreach(inManifest(_) = false)
    val indexed = order.drop(fresh)
    val nUploaded = math.round(indexed.length * uploadedShare).toInt
    val uploaded = Array.fill(n)(false)
    indexed.take(nUploaded).foreach(uploaded(_) = true)
    val stalled = indexed.drop(nUploaded)
    val inStore = uploaded.clone()
    stalled.take(math.round(stalled.length * putShare).toInt).foreach(inStore(_) = true)
    val pending = (0 until n).filterNot(uploaded(_))
    val faulted = pending.filter(_ => r.nextDouble() < faultShare)
    val plan = faulted.map(i => tree.keys(i) -> (1 + r.nextInt(2))).toMap
    CrashState(tree, inManifest, uploaded, inStore, plan)
  }

  /** Writes the crash state's manifest snapshot as `<manifestRoot>/current`,
    * in the layout `PrepareUpload` leaves: ids dense from 1 in path order,
    * paths exactly as the binaryFile scan reports them. */
  def writeManifest(spark: SparkSession, s: CrashState, manifestRoot: Path): Unit = {
    val rows = s.tree.keys.indices.filter(s.inManifest(_))
      .map(i => (uri(s.tree.file(i)), s.uploaded(i)))
      .sortBy(_._1).zipWithIndex
      .map { case ((path, up), k) => Row(k + 1L, path, up) }
    val schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("path", StringType), StructField("uploaded", BooleanType, nullable = false)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
      .write.parquet(manifestRoot.resolve("current").toString)
  }

  // ---- ops-llm corpus: the documents/embeddings schema of the registry's
  // test tables, at a size set by the caller.

  private val vocab = Array("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "the", "row", "agg",
    "key", "query", "a", "scan", "batch")
  private val langs = Array("en", "en", "en", "en", "en", "en", "en", "en",
    "de", "de", "de", "es", "es", "es", "fr", "fr", "fr", "zh", "zh", "zh")

  /** `docs` documents of 10..100 vocabulary words over 20 sources, 5% of
    * them a copy of an earlier document with " dup" appended (near
    * duplicates for the dedup operators), and `vecs` unit 64-d embeddings
    * drawn around 10 labelled centres. */
  def corpus(spark: SparkSession, dir: Path, docs: Int, vecs: Int, seed: Long): Unit = {
    val r = new java.util.Random(seed)
    val texts = new Array[String](docs)
    for (i <- 0 until docs) {
      texts(i) =
        if (i > 0 && r.nextDouble() < 0.05) texts(r.nextInt(i)) + " dup"
        else Seq.fill(10 + r.nextInt(91))(vocab(r.nextInt(vocab.length))).mkString(" ")
    }
    val docRows = (0 until docs).map(i => Row(i.toLong, texts(i),
      langs(r.nextInt(langs.length)), s"src${i % 20}", texts(i).length.toLong))
    val docSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(docRows, 1), docSchema)
      .write.parquet(dir.resolve("documents.parquet").toString)

    val centres = Array.fill(10, 64)(r.nextGaussian())
    val vecRows = (0 until vecs).map { i =>
      val label = r.nextInt(10)
      val v = centres(label).map(_ * 0.35 + r.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
    }
    val vecSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)), StructField("label", IntegerType)))
    spark.createDataFrame(spark.sparkContext.parallelize(vecRows, 1), vecSchema)
      .write.parquet(dir.resolve("embeddings.parquet").toString)
  }
}
