package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.Dedup

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog again and " +
    "again while the sun sets slowly behind the green hills of the valley"

  test("minhash candidates find planted near-duplicates, not unrelated docs") {
    val nearDup = base.replace("quick", "swift") // 1-word edit
    val unrelated = "completely different content about spark shuffles and " +
      "partitions and codegen stages running on many executors tonight"
    val docs = Seq((1L, base), (2L, nearDup), (3L, unrelated))
      .toDF("doc_id", "text")
    val cands = Dedup.minhashCandidates(docs, k = 16, bands = 4)
      .as[(Long, Long)].collect().toSet
    assert(cands.contains((1L, 2L)))
    assert(!cands.contains((1L, 3L)) && !cands.contains((2L, 3L)))
  }

  test("incrementalSurvivors drops new docs duplicating the existing set " +
      "(exact and near) and never drops novel ones") {
    val unrelated = "completely different content about spark shuffles and " +
      "partitions and codegen stages running on many executors tonight"
    // mod=5: ids 5,10,15 are NEW; 1..4 are EXISTING.
    val docs = Seq(
      (1L, base),                              // existing
      (2L, unrelated),                         // existing
      (5L, base),                              // new, exact dup of 1
      (10L, base.replace("quick", "swift")),   // new, near dup of 1
      (15L, "utterly novel words about trains and rivers flowing north " +
        "past seven bridges while lanterns glow quietly on the water"))
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))
    val kept = Dedup.incrementalSurvivors(docs)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(15L))
    // existing-side docs are never in the output (only the increment is)
    assert(!kept.exists(id => id % 5 != 0))
    // a second run over (existing + accepted increment) is a fixpoint:
    // the accepted doc is novel, so re-ingesting drops nothing new
    val second = Seq((1L, base), (2L, unrelated)).toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))
      .union(docs.filter(col("doc_id") === 15L))
    assert(Dedup.incrementalSurvivors(second)
      .select("doc_id").as[Long].collect().toSet == Set(15L))
  }

  test("nearDupSurvivors drops the planted near-dup (higher id) and keeps " +
      "the original and unrelated docs") {
    val nearDup = base.replace("quick", "swift")
    val unrelated = "completely different content about spark shuffles and " +
      "partitions and codegen stages running on many executors tonight"
    val docs = Seq((1L, base), (2L, nearDup), (3L, unrelated))
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val survivors = Dedup.nearDupSurvivors(docs, jacThreshold = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(survivors == Set(1L, 3L), s"survivors=$survivors")
  }

  test("nearDupClusters: a planted duplicate CHAIN collapses to one cluster " +
      "(min id), transitively — singletons keep their own id") {
    // chain: 1~2 and 2~3 are near-dups, but 1~3 is NOT (jac(1,3) < 0.5)
    // — connected components must still put all three in cluster 1,
    // which takes MORE THAN ONE propagation round (3's only edge is 2).
    val v2 = base.replace("quick", "swift")
    val v3 = v2.replace("lazy", "idle").replace("green", "brown")
    val unrelated = "completely different content about spark shuffles and " +
      "partitions and codegen stages running on many executors tonight"
    val docs = Seq((1L, base), (2L, v2), (3L, v3), (9L, unrelated))
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
    // the graph must really be a chain through 2 — (1,3) must NOT be an
    // edge, or this test would pass after a single propagation round
    val edges = Dedup.nearDupVerifiedPairs(docs, jacThreshold = 0.5)
      .as[(Long, Long)].collect().toSet
    assert(edges == Set((1L, 2L), (2L, 3L)), s"edges=$edges")
    val clusters = Dedup.nearDupClusters(docs, jacThreshold = 0.5)
      .as[(Long, Long)].collect().toMap
    assert(clusters(1L) == 1L && clusters(2L) == 1L && clusters(3L) == 1L,
      s"clusters=$clusters")
    assert(clusters(9L) == 9L)
  }

  test("keepBestSurvivors keeps the LONGEST copy per cluster (not the " +
      "min id), ties to the smaller id; singletons keep themselves") {
    // near-dup pair where the LATER id is the longer (fuller) copy:
    // keep-first would keep 1, keep-best must keep 2.
    val longer = base + " with an extra closing sentence the fragment lost"
    val unrelated = "completely different content about spark shuffles and " +
      "partitions and codegen stages running on many executors tonight"
    val docs = Seq((1L, base), (2L, longer), (9L, unrelated))
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val got = Dedup.keepBestSurvivors(docs)
      .as[(Long, Long, Long, Long)].collect().toList
    assert(got == List(
      (1L, 2L, longer.length.toLong, 2L),
      (9L, 9L, unrelated.length.toLong, 1L)), got.toString)
    // equal lengths → the smaller id wins (deterministic tie-break)
    val tied = Seq((5L, base), (6L, base)).toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")).cast("long"))
    val keep = Dedup.keepBestSurvivors(tied)
      .as[(Long, Long, Long, Long)].collect().toList
    assert(keep == List((5L, 5L, base.length.toLong, 2L)), keep.toString)
  }

  test("simhashPairs: block routing finds the planted near-dup, skips unrelated, " +
      "and equals the brute-force hamming join") {
    val nearDup = base.replace("quick", "swift")
    val unrelated = "completely different content about spark shuffles and " +
      "partitions and codegen stages running on many executors tonight"
    val docs = Seq((1L, base), (2L, nearDup), (3L, unrelated))
      .toDF("doc_id", "text")
    val got = Dedup.simhashPairs(docs, maxHamming = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(got.map(p => (p._1, p._2)) == Set((1L, 2L)), s"got=$got")
    // exhaustive reference: all-pairs hamming on the same fingerprints
    val fp = Dedup.simhashReplicable(docs).as[(Long, Long)].collect().toMap
    val brute = (for {
      a <- fp.keys; b <- fp.keys if a < b
      h = java.lang.Long.bitCount(fp(a) ^ fp(b)) if h <= 3
    } yield (a, b, h.toLong)).toSet
    assert(got == brute)
  }

  test("simhashPairs64 equals the brute-force 64-bit hamming join, and its " +
      "wider fingerprint prunes block candidates far harder than the 30-bit twin") {
    val docs = graft.model.Tables.documents(spark, TestSpark.sf0001)
      .select("doc_id", "text")
    val got = Dedup.simhashPairs64(docs, maxHamming = 3)
      .as[(Long, Long, Long)].collect().toSet
    val fp = Dedup.simhash(docs).as[(Long, Long)].collect().toMap
    val brute = (for {
      a <- fp.keys; b <- fp.keys if a < b
      h = java.lang.Long.bitCount(fp(a) ^ fp(b)) if h <= 3
    } yield (a, b, h.toLong)).toSet
    assert(got == brute)
    // pruning evidence: candidate mass (pairs sharing >= 1 block) shrinks
    // by >= 10x going from 30-bit/8-bit-block to 64-bit/16-bit-block
    def blockCands(fp: org.apache.spark.sql.DataFrame, bits: Int): Long =
      Dedup.simhashBlockCandidates(fp, maxHamming = 3, bits)
        .select("a_id", "b_id").distinct().count()
    val cand30 = blockCands(Dedup.simhashReplicable(docs), 30)
    val cand64 = blockCands(Dedup.simhash(docs), 64)
    assert(cand64 * 10 <= cand30, s"cand64=$cand64 cand30=$cand30")
  }

  test("wide-block simhashPairs (maxHamming=2, 10-bit blocks) equals the " +
      "brute-force hamming join and admits fewer block candidates than the " +
      "8-bit-block geometry") {
    val docs = graft.model.Tables.documents(spark, TestSpark.sf0001)
      .select("doc_id", "text")
    val got = Dedup.simhashPairs(docs, maxHamming = 2)
      .as[(Long, Long, Long)].collect().toSet
    val fp = Dedup.simhashReplicable(docs).as[(Long, Long)].collect().toMap
    val brute = (for {
      a <- fp.keys; b <- fp.keys if a < b
      h = java.lang.Long.bitCount(fp(a) ^ fp(b)) if h <= 2
    } yield (a, b, h.toLong)).toSet
    assert(got == brute)
    // pruning evidence (VERDICT r3 #7): 10-bit blocks collide 4x less per
    // block and there are 3 of them instead of 4 — candidate mass must
    // drop vs the maxHamming=3 geometry on this very corpus.
    val fpDf = Dedup.simhashReplicable(docs)
    val candWide = Dedup.simhashBlockCandidates(fpDf, 2, 30)
      .select("a_id", "b_id").distinct().count()
    val candNarrow = Dedup.simhashBlockCandidates(fpDf, 3, 30)
      .select("a_id", "b_id").distinct().count()
    assert(candWide < candNarrow, s"wide=$candWide narrow=$candNarrow")
  }

  test("nearDupClusters runs ONE eager action per CC round and matches an " +
      "in-memory transitive closure") {
    val docs = graft.model.Tables.documents(spark, TestSpark.sf0001)
    val actions = new java.util.concurrent.atomic.AtomicInteger(0)
    val qel = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = { actions.incrementAndGet(); () }
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(qel)
    val (rounds, counted) = try {
      Dedup.nearDupClusters(docs)
      // listener events post asynchronously — wait until the count stops
      var last = -1; var stable = 0
      while (stable < 3) {
        Thread.sleep(100)
        val c = actions.get
        if (c == last) stable += 1 else { stable = 0; last = c }
      }
      (Dedup.lastClusterRounds.get, actions.get)
    } finally spark.listenerManager.unregister(qel)
    // one eager DataFrame action per round (every-3rd-round checkpoints
    // use an RDD localCheckpoint action instead, invisible to the SQL
    // listener — cadence matches nearDupClusters' checkpointEvery)
    val expected = rounds - rounds / 3
    assert(counted == expected, s"actions=$counted rounds=$rounds")
    // labels must equal union-find over the verified edges (independent
    // of both the Spark loop and the DuckDB oracle)
    val got = Dedup.nearDupClusters(docs).as[(Long, Long)].collect().toMap
    val ids = docs.select("doc_id").as[Long].collect()
    val edges = Dedup.nearDupVerifiedPairs(docs).as[(Long, Long)].collect()
    val parent = scala.collection.mutable.Map(ids.map(i => i -> i).toSeq: _*)
    def find(x: Long): Long = { var r = x; while (parent(r) != r) r = parent(r); r }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val expect = ids.map(i => i -> find(i)).toMap
    assert(got == expect)
  }

  test("native simhash_rolling expression equals the composed bit-vote " +
      "pipeline bit-for-bit (sf0.001 corpus + edge cases)") {
    val corpus = graft.model.Tables.documents(spark, TestSpark.sf0001)
      .select("doc_id", "text")
    val edge = Seq((9001L, ""), (9002L, "   "), (9003L, "one"),
      (9004L, "中文 mixed ascii 中文"), (9005L, "a a a a"))
      .toDF("doc_id", "text")
    val docs = corpus.union(edge)
    val native = Dedup.simhashReplicable(docs)
      .as[(Long, Long)].collect().toMap
    val composed = DedupRefs.simhashReplicableComposed(docs)
      .as[(Long, Long)].collect().toMap
    assert(native == composed)
    assert(!native.contains(9001L) && !native.contains(9002L))
  }

  test("native simhash64 expression equals the composed explode+vote pipeline " +
      "bit-for-bit (sf0.001 corpus + edge cases)") {
    val corpus = graft.model.Tables.documents(spark, TestSpark.sf0001)
    val viaExpr = Dedup.simhash(corpus).as[(Long, Long)].collect().toMap
    val viaComposed = DedupRefs.simhashComposed(corpus).as[(Long, Long)].collect().toMap
    assert(viaExpr == viaComposed)
    assert(viaExpr.nonEmpty)
    // edge cases: repeated spaces, single word, unicode words
    val edge = Seq((1L, "a  b   c"), (2L, "solo"), (3L, "中文 词语 混合 content"))
      .toDF("doc_id", "text")
    val e1 = Dedup.simhash(edge).as[(Long, Long)].collect().toMap
    val e2 = DedupRefs.simhashComposed(edge).as[(Long, Long)].collect().toMap
    assert(e1 == e2)
  }

  test("native minhash_sig expression equals the composed explode+min pipeline " +
      "value-for-value (sf0.001 corpus + edge cases)") {
    val corpus = graft.model.Tables.documents(spark, TestSpark.sf0001)
    val viaExpr = Dedup.minhashSignatures(corpus, 16)
      .as[(Long, Seq[Long])].collect().toMap
    val viaComposed = DedupRefs.minhashSignaturesComposed(corpus, 16)
      .as[(Long, Seq[Long])].collect().toMap
    assert(viaExpr == viaComposed)
    assert(viaExpr.nonEmpty)
    // edge cases: exactly 3 words, <3 words (dropped), repeated shingles
    val edge = Seq((1L, "a b c"), (2L, "too short"),
      (3L, "x y z x y z x y z")).toDF("doc_id", "text")
    val e1 = Dedup.minhashSignatures(edge, 8).as[(Long, Seq[Long])].collect().toMap
    val e2 = DedupRefs.minhashSignaturesComposed(edge, 8)
      .as[(Long, Seq[Long])].collect().toMap
    assert(e1 == e2)
    assert(!e1.contains(2L))
  }

  test("simhash: hamming distance small for near-dups, large for unrelated") {
    val nearDup = base.replace("quick", "swift")
    val unrelated = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon phi chi psi omega"
    val docs = Seq((1L, base), (2L, nearDup), (3L, unrelated))
      .toDF("doc_id", "text")
    val sh = Dedup.simhash(docs).as[(Long, Long)].collect().toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(1L), sh(2L)) <= 8, s"near-dup hamming ${ham(sh(1L), sh(2L))}")
    assert(ham(sh(1L), sh(3L)) >= 16, s"unrelated hamming ${ham(sh(1L), sh(3L))}")
  }

  test("shingles are distinct 3-grams in order") {
    val docs = Seq((1L, "a b c d")).toDF("doc_id", "text")
    val sh = Dedup.shingles(docs).select("shingle").as[String].collect().toSet
    assert(sh == Set("a b c", "b c d"))
  }

  test("minhash signature is identical for identical content, regardless of doc_id") {
    val docs = Seq((10L, base), (99L, base)).toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(docs, 16)
      .select("sig").as[Seq[Long]].collect()
    assert(sigs(0) == sigs(1))
  }

  test("substringSpans finds the planted shared span at its exact extent " +
      "and reports nothing across disjoint docs") {
    val shared =
      "every training corpus carries one license paragraph verbatim copy"
    assert(shared.length >= 40)
    val pa = "A-doc header: "           // char before span: ' '
    val pb = "totally different b prefix Q" // char before span: 'Q'
    val docA = pa + shared + "X trailing tail of doc a"  // char after: 'X'
    val docB = pb + shared + "y other ending over here"  // char after: 'y'
    val docC = "no overlap at all in this third document which talks " +
      "about rivers and lanterns and nothing else besides"
    val docs = Seq((1L, docA), (2L, docB), (3L, docC)).toDF("doc_id", "text")
    val spans = Dedup.substringSpans(docs)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // exactly one maximal span: starts just past each prefix, spans the
    // whole shared passage and not one code point more (the flanking
    // chars differ on purpose).
    assert(spans == Seq(
      (1L, 2L, pa.length + 1L, pb.length + 1L, shared.length.toLong)))
    val disjoint = Seq((1L, docA), (3L, docC)).toDF("doc_id", "text")
    assert(Dedup.substringSpans(disjoint).count() == 0)
  }

  test("substringSpans merges only consecutive diagonal runs: two planted " +
      "spans on different diagonals stay separate") {
    val s1 = "first shared passage with at least forty characters inside it"
    val s2 = "second shared block also comfortably longer than forty chars"
    // digits flank every planted span so no span can extend by accident:
    // s1 is 1…2 in A, 7…8 in B; s2 is 3…4 in A, 5…6 in B.
    val docA = "aaHEAD1" + s1 + "2FILLERA3" + s2 + "4TAILa"
    val docB = "bprefixlongerhere5" + s2 + "6anotherB7" + s1 + "8ZendB"
    val docs = Seq((1L, docA), (2L, docB)).toDF("doc_id", "text")
    val spans = Dedup.substringSpans(docs)
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(spans.map(_._5).sorted == Seq(s2.length.toLong, s1.length.toLong).sorted)
    assert(spans.size == 2)
  }

  test("decontaminate drops exactly the training docs sharing a shingle " +
      "with the eval split and keeps the eval split out of the output") {
    val evalDoc = base                       // id 0 -> eval (0 % 53 == 0)
    val copied = "prefix words here " + base // contains eval shingles
    val clean = "utterly novel words about trains and rivers flowing north " +
      "past seven bridges while lanterns glow quietly on the water"
    val docs = Seq((0L, evalDoc), (1L, copied), (2L, clean))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")))
    val kept = Dedup.decontaminate(docs)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L))
    // with NO eval overlap, every training doc survives
    val disjoint = Seq((0L, evalDoc), (1L, clean))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")))
    assert(Dedup.decontaminate(disjoint)
      .select("doc_id").as[Long].collect().toSet == Set(1L))
  }

  test("memoized docClusterLabels equal the definitional nearDupClusters " +
      "and repeat calls return the same materialized frame") {
    val docs = graft.model.Tables.documents(spark, TestSpark.sf0001)
    val defn = Dedup.nearDupClusters(docs)
      .as[(Long, Long)].collect().toSeq
    val memo = Dedup.docClusterLabels(spark, TestSpark.sf0001)
      .orderBy("doc_id").as[(Long, Long)].collect().toSeq
    assert(memo == defn)
    assert(Dedup.docClusterLabels(spark, TestSpark.sf0001) eq
      Dedup.docClusterLabels(spark, TestSpark.sf0001))
  }

  test("decontaminateBloom equals decontaminate on the test corpus and on " +
      "planted contamination; a tiny filter still loses no contaminated doc") {
    val docs = graft.model.Tables.documents(spark, TestSpark.sf0001)
    val exact = Dedup.decontaminate(docs)
      .as[(Long, String, Long)].collect().toSeq
    val bloom = Dedup.decontaminateBloom(docs)
      .as[(Long, String, Long)].collect().toSeq
    assert(bloom == exact)
    // planted: id 0 is eval; 1 copies its shingles, 2 is clean
    val evalDoc = base
    val copied = "prefix words here " + base
    val clean = "utterly novel words about trains and rivers flowing north " +
      "past seven bridges while lanterns glow quietly on the water"
    val planted = Seq((0L, evalDoc), (1L, copied), (2L, clean))
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")))
    assert(Dedup.decontaminateBloom(planted)
      .select("doc_id").as[Long].collect().toSet == Set(2L))
    // a deliberately saturated 64-bit filter floods false POSITIVES but can
    // never produce a false negative: the exact verify keeps output exact.
    assert(Dedup.decontaminateBloom(planted, numBits = 64, numHashes = 2)
      .select("doc_id").as[Long].collect().toSet == Set(2L))
  }

  test("bloom prefilter selectivity: no false negatives, and false " +
      "positives stay under 1% of the probed training shingles") {
    val docs = graft.model.Tables.documents(spark, TestSpark.sf0001)
    val sh = Dedup.shingles(docs)
    val isEval = pmod(col("doc_id"), lit(53)) === 0
    val evalSh = sh.filter(isEval).select("shingle").distinct()
    val words = Dedup.bloomWords(evalSh, "shingle", 1 << 17, 5)
    val train = sh.filter(!isEval).cache()
    try {
      val nTrain = train.count()
      val pass = train
        .filter(Dedup.bloomMightContain(words, col("shingle"), 5)).count()
      val trueOverlap = train
        .join(evalSh, Seq("shingle"), "left_semi").count()
      assert(pass >= trueOverlap, "bloom lost a true overlap (false negative)")
      assert(pass - trueOverlap <= nTrain / 100 + 50,
        s"false-positive mass too high: pass=$pass true=$trueOverlap n=$nTrain")
    } finally train.unpersist(blocking = false)
  }

  test("editDistancePairs: zero distance iff identical text on a candidate " +
      "pair; a planted one-word edit measures exactly its character delta") {
    val edited = base.replace("quick", "swift") // quick->swift: same length
    val docs = Seq((1L, base), (2L, base), (3L, edited))
      .toDF("doc_id", "text")
    val dists = Dedup.editDistancePairs(docs)
      .select("a_id", "b_id", "edit_dist")
      .as[(Long, Long, Long)].collect()
      .map { case (a, b, d) => (a, b) -> d }.toMap
    assert(dists((1L, 2L)) == 0L)
    // quick -> swift shares no aligned characters at the same offsets
    // except 'i' (qu-i-ck / sw-i-ft): 4 substitutions, equal length
    assert(dists((1L, 3L)) == 4L)
    assert(dists((2L, 3L)) == 4L)
    // similarity is 1 exactly when distance is 0
    val sims = Dedup.editDistancePairs(docs)
      .select("a_id", "b_id", "edit_sim")
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, v) => (a, b) -> v }.toMap
    assert(sims((1L, 2L)) == 1.0)
    assert(sims((1L, 3L)) < 1.0)
  }

  test("containmentPairs scores a sub-document at 1.0 with the smaller " +
      "side reported as contained, and ignores unrelated docs") {
    // doc 2 = doc 1 plus extra text: containment(1 in 2) = 1.0 while
    // Jaccard = |A|/|B| < 1 — the asymmetric case the op exists for.
    val superDoc = base + " moreover the silver river flows quietly north " +
      "past the old stone bridge"
    val unrelated = "entirely different words about compilers and type " +
      "systems and lattices and abstract interpretation all day long"
    val docs = Seq((1L, base), (2L, superDoc), (3L, unrelated))
      .toDF("doc_id", "text")
    val out = Dedup.containmentPairs(docs)
      .select("a_id", "b_id", "containment", "contained_id")
      .as[(Long, Long, Double, Long)].collect()
    assert(out.length == 1, out.mkString(", "))
    val (a, b, c, contained) = out.head
    assert((a, b) == (1L, 2L) && c == 1.0 && contained == 1L)
    // the same pair verifies BELOW symmetric-Jaccard full-dup levels:
    // containment sees what Jaccard under-scores
    val jac = Dedup.nearDupVerifiedPairs(docs, jacThreshold = 0.95)
      .collect()
    assert(jac.isEmpty)
  }

  test("cluster-size spectrum: sizes sum to the corpus and match a " +
      "direct rollup of the labels (sf0.001)") {
    val docs = graft.model.Tables.documents(spark, TestSpark.sf0001)
    val labels = Dedup.nearDupClusters(docs)
    val direct = labels.groupBy("cluster").count()
      .groupBy("count").count()
      .as[(Long, Long)].collect().toMap
    val stats = Dedup.queries("dedup_cluster_stats")(spark, TestSpark.sf0001)
      .as[(Long, Long)].collect().toMap
    assert(stats == direct, s"$stats vs $direct")
    val total = stats.map { case (sz, n) => sz * n }.sum
    assert(total == docs.count())
  }

  test("minhashEstimates: identical docs estimate 1.0 with zero error; " +
      "every estimate is a multiple of 1/8 in [0,1] and abs_err is " +
      "consistent with (est_jac, jac)") {
    val nearDup = base.replace("quick", "swift")
    val docs = Seq((1L, base), (2L, base), (3L, nearDup))
      .toDF("doc_id", "text")
    val out = Dedup.minhashEstimates(docs)
      .as[(Long, Long, Double, Double, Double)].collect()
    assert(out.nonEmpty)
    val byPair = out.map(t => (t._1, t._2) -> (t._3, t._4, t._5)).toMap
    // the identical pair is a candidate and estimates perfectly
    assert(byPair((1L, 2L)) == ((1.0, 1.0, 0.0)))
    out.foreach { case (a, b, est, jac, err) =>
      assert(est >= 0.0 && est <= 1.0 && (est * 8) == math.rint(est * 8),
        s"($a,$b) est=$est")
      assert(jac > 0.0 && jac <= 1.0, s"($a,$b) jac=$jac")
      assert(math.abs(err - math.rint(math.abs(est - jac) * 1e6) / 1e6)
        < 1e-9, s"($a,$b)")
    }
  }

  test("urlCanonicalSurvivors: each raw-URL pair (shouting host + " +
      "tracking params + fragment + trailing slash vs clean) collapses " +
      "to one canonical URL keeping the even id") {
    val docs = (0L to 5L).map(id => (id, s"text $id"))
      .toDF("doc_id", "text")
    val out = Dedup.urlCanonicalSurvivors(docs)
      .as[(String, Long, Long)].collect().sortBy(_._2)
    assert(out.length == 3)
    out.foreach { case (canonical, keepId, nCopies) =>
      assert(nCopies == 2, canonical)
      assert(keepId % 2 == 0, canonical)
      val k = keepId / 2
      // every normalization rule applied: lowercase, www. stripped,
      // query/fragment gone, no trailing slash
      assert(canonical == s"site$k.example.com/item/$k", canonical)
    }
  }

  test("paragraphSurvivors: a repeated paragraph survives exactly once " +
      "(earliest doc), unique paragraphs all survive, docs reassemble " +
      "in order, repartition-stable") {
    // 24-word docs -> two 12-word paragraphs each. Docs 1 and 2 share
    // their SECOND paragraph verbatim; doc 4's text is entirely unique.
    // Ids avoid doc_id % 3 == 0 so no footer plant muddies the counts.
    val shared = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu"
    val own1 = "one two three four five six seven eight nine ten eleven twelve"
    val own2 = "red blue green yellow purple orange pink brown black " +
      "white gray cyan"
    val own4 = "north south east west up down left right front back " +
      "inside outside"
    val docs = Seq(
      (1L, s"$own1 $shared"), (2L, s"$own2 $shared"),
      (4L, s"$own4 plus twelve more words to stay clear of any collision " +
        "risk here"))
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))
    val out = Dedup.paragraphSurvivors(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val byId = out.map(t => t._1 -> t).toMap
    // doc 1 keeps both paragraphs, doc 2 loses the shared one
    assert(byId(1L)._2 == 2 && byId(1L)._3 == 2)
    assert(byId(2L)._2 == 2 && byId(2L)._3 == 1)
    assert(byId(1L)._4 == s"$own1\n$shared")
    assert(byId(2L)._4 == own2)
    // the unique doc is untouched and reassembles to its chunking
    assert(byId(4L)._3 == byId(4L)._2)
    // the shared paragraph text appears exactly once corpus-wide
    val occurrences = out.map(_._4).mkString("\n").split("\n")
      .count(_ == shared)
    assert(occurrences == 1)
    val shuffled = Dedup.paragraphSurvivors(docs.repartition(7)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(shuffled.toSeq == out.toSeq)
  }

  test("paragraphIncrementalSurvivors: new docs lose exactly the " +
      "paragraphs already in the existing corpus, and re-ingesting the " +
      "survivors is a fixpoint") {
    // mod=5: ids 5 and 10 are the NEW batch (both avoid %3==0 so no
    // footer plant muddies the counts); 1 and 2 are the corpus.
    val sharedP = "alpha beta gamma delta epsilon zeta eta theta iota " +
      "kappa lambda mu"
    val own1 = "north south east west up down left right front back " +
      "inside outside"
    val own2 = "red blue green yellow purple orange pink brown black " +
      "white gray cyan"
    val own5 = "one two three four five six seven eight nine ten " +
      "eleven twelve"
    val own10 = "ichi ni san shi go roku nana hachi kyu ju hyaku sen"
    val docs = Seq(
      (1L, s"$own1 $sharedP"), (2L, own2),
      (5L, s"$own5 $sharedP"), (10L, own10))
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))
    val out = Dedup.paragraphIncrementalSurvivors(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // only the new batch is emitted
    assert(out.map(_._1).sorted.toSeq == Seq(5L, 10L))
    val byId = out.map(t => t._1 -> t).toMap
    // doc 5's shared paragraph is already in doc 1 -> dropped;
    // doc 10 is untouched
    assert(byId(5L)._2 == 2 && byId(5L)._3 == 1 && byId(5L)._4 == own5)
    assert(byId(10L)._2 == 1 && byId(10L)._3 == 1 && byId(10L)._4 == own10)
    // the existing side is NEVER re-deduped: docs 1/2 don't shrink —
    // their paragraphs are in the probe set, not the output
    // fixpoint: corpus + cleaned survivors, re-ingested, drops nothing
    val docs2 = Seq(
      (1L, s"$own1 $sharedP"), (2L, own2),
      (5L, byId(5L)._4.replace("\n", " ")),
      (10L, byId(10L)._4.replace("\n", " ")))
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))
    val again = Dedup.paragraphIncrementalSurvivors(docs2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    again.foreach { case (id, nParas, nKept, clean) =>
      assert(nKept == nParas, s"doc $id lost a paragraph on re-ingest")
      assert(clean.replace("\n", " ") ==
        (if (id == 5L) own5 else own10))
    }
  }

  test("paragraphSurvivors plants the boilerplate footer on doc_id % 3 " +
      "== 0 and the dedup keeps each footer variant exactly once") {
    // six docs, all with identical-length unique bodies; ids 0, 3, 6
    // receive footers (variants by id % 2: 0 -> f0, 3 -> f1, 6 -> f0)
    val docs = (0L to 6L).map { id =>
      val body = (1 to 12).map(w => s"w${id}_$w").mkString(" ")
      (id, body)
    }.toDF("doc_id", "text")
    val out = Dedup.paragraphSurvivors(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    val byId = out.map(t => t._1 -> t).toMap
    // footer'd docs have 2 paragraphs, the rest 1
    Seq(0L, 3L, 6L).foreach(id => assert(byId(id)._2 == 2, s"doc $id"))
    Seq(1L, 2L, 4L, 5L).foreach(id => assert(byId(id)._2 == 1, s"doc $id"))
    // doc 0 keeps f0 (first occurrence), doc 3 keeps f1 (only f1),
    // doc 6's f0 copy is dropped
    assert(byId(0L)._3 == 2 &&
      byId(0L)._4.endsWith(Dedup.paraFooters(0)))
    assert(byId(3L)._3 == 2 &&
      byId(3L)._4.endsWith(Dedup.paraFooters(1)))
    assert(byId(6L)._3 == 1 &&
      !byId(6L)._4.contains(Dedup.paraFooters(0)))
  }

  test("prefixDuplicates flags docs sharing their first 64 chars, keeps " +
      "the min id, and ignores docs whose prefixes differ") {
    val shared = "s" * 64
    val docs = Seq(
      (7L, shared + " first fetch, truncated early"),
      (3L, shared + " second fetch of the same page, full body"),
      (5L, "t" * 64 + " unrelated page"),
      (9L, "short doc")) // < 64 chars: prefix is the whole text
      .toDF("doc_id", "text")
    val out = Dedup.prefixDuplicates(docs).collect()
    assert(out.length == 1)
    assert(out(0).getLong(1) == 2L)  // n_docs
    assert(out(0).getLong(2) == 3L)  // keep_id = min
    assert(out(0).getLong(3) == 1L)  // n_drop
    // disjoint prefixes -> empty
    assert(Dedup.prefixDuplicates(
      Seq((1L, "a" * 80), (2L, "b" * 80)).toDF("doc_id", "text"))
      .count() == 0)
  }
}

/** The composed Spark-SQL forms the native dedup expressions replaced —
  * kept as the executable specifications DedupSpec compares against. */
private object DedupRefs {
  import org.apache.spark.sql.{Column, DataFrame}

  /** MinHash signatures as explode shingles + k min-aggregates. */
  def minhashSignaturesComposed(docs: DataFrame, k: Int): DataFrame = {
    val mins = (0 until k).map(i =>
      min(xxhash64(lit(i), col("shingle"))).as(s"_m$i"))
    Dedup.shingles(docs).groupBy("doc_id").agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until k).map(i => col(s"_m$i")): _*).as("sig"))
  }

  /** The 64-bit xxhash64 SimHash (Dedup.simhash). */
  def simhashComposed(docs: DataFrame): DataFrame =
    bitVoteFingerprint(docs, w => xxhash64(w), 64)

  /** The 30-bit replicable SimHash (Dedup.simhashReplicable). */
  def simhashReplicableComposed(docs: DataFrame,
      bits: Int = 30): DataFrame =
    bitVoteFingerprint(docs,
      w => graft.functions.RollingHash.rolling_hash(w), bits)

  /** Shared bit-vote SimHash pipeline: explode words → per-word hash →
    * ±1 vote per bit → sign-pack. */
  private def bitVoteFingerprint(docs: DataFrame,
      hashOf: Column => Column, bits: Int): DataFrame = {
    val wh = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .select(col("doc_id"), hashOf(col("word")).as("h"))
    val votes = (0 until bits).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1).otherwise(-1))
        .as(s"v$j")
    }
    val voted = wh.groupBy("doc_id").agg(votes.head, votes.tail: _*)
    val packed = (0 until bits).map { j =>
      when(col(s"v$j") > 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }.reduce(_.bitwiseOR(_))
    voted.select(col("doc_id"), packed.as("simhash"))
  }
}
