package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import graft.streaming.Streams
import graft.ops.EventWindows
import graft.ops.TermStats.BpeMode
import graft.model.Tables
import java.nio.file.Files

class StreamsSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def runToMemory(df: org.apache.spark.sql.DataFrame, name: String,
      mode: OutputMode = OutputMode.Append()): Unit = {
    val q = df.writeStream.outputMode(mode).format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
  }

  test("streaming tokenizer inference equals the batch scaled encoder " +
      "row-for-row across micro-batches (stateless, memo per batch)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = Tables.documents(spark, TestSpark.sf0001)
    // ADVICE r10 #2: the stream ≡ batch guarantee must hold on
    // empty/whitespace-only docs too — both paths DROP them (the batch
    // twin's inner join + groupBy never emits a row for a zero-token
    // doc). Inject one empty and one whitespace-only doc.
    val docs = base.select(col("doc_id"), col("text")).unionByName(
      Seq((900001L, ""), (900002L, "   ")).toDF("doc_id", "text"))
    val merges = graft.ops.TermStats.bpeLearnIter(base, 10)
      .map { case (a, b, _) => (a, b) }
    // the batch truth: the gated scaled-encode key's machinery
    val want = graft.ops.TermStats.bpeApplyScaled(docs, merges, BpeMode.Char)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSeq
    assert(!want.exists(r => r._1 == 900001L || r._1 == 900002L),
      "batch twin must drop zero-token docs")
    // feed the corpus as TWO micro-batches (one injected empty in each)
    val baseRows = base.select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val (h1, h2) = baseRows.splitAt(baseRows.size / 2)
    val (b1, b2) = (h1 :+ (900001L, ""), h2 :+ (900002L, "   "))
    val mem = MemoryStream[(Long, String)]
    val q = Streams.encodeStream(
        mem.toDF().toDF("doc_id", "text"), merges, BpeMode.Char)
      .writeStream.outputMode(OutputMode.Append()).format("memory")
      .queryName("encode_stream_out").start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("encode_stream_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSeq.sortBy(_._1)
    assert(got == want)
    // and the same function over the BATCH frame agrees too (one code
    // path, two execution modes)
    val gotBatch = Streams.encodeStream(docs, merges, BpeMode.Char).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSeq.sortBy(_._1)
    assert(gotBatch == want)
  }

  test("streaming packer equals batch packSequencesTensor row-for-row " +
      "across three micro-batches, carrying the open partial sequence " +
      "(and its mid-sequence doc) across batch boundaries") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Tables.documents(spark, TestSpark.sf0001)
    def arrs(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getSeq[Long](3),
        r.getSeq[Long](4), r.getSeq[Long](5), r.getSeq[Long](6),
        r.getSeq[Long](7))
    // the encode-stage output the packer consumes: per-doc RAW word-id
    // arrays under the same alphabetic 1-based vocabulary the batch
    // packer derives
    val words = docs.select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
      .filter(length(col("word")) > 0)
    val vocab = words.select("word").distinct().orderBy("word")
      .collect().map(_.getString(0)).zipWithIndex
      .map { case (w, i) => w -> (i + 1L) }.toMap
    val perDocWords = words.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (id, rs) =>
        (id, rs.sortBy(_._2).map(t => vocab(t._3)).toSeq)
      }
    // UNK-faithful input: every 7th vocabulary id arrives as raw 0
    // (UNK), so the reserved UNK id and its mask exclusion are exercised
    val perDocUnk = perDocWords.map { case (id, ids) =>
      (id, ids.map(x => if (x % 7 == 0L) 0L else x))
    }
    // window 8 makes every label/mask/segment rule cross a sequence
    // boundary; window 64 is the gated registry window
    for (w <- Seq(64, 8); unk <- Seq(false, true)) {
      val perDoc = if (unk) perDocUnk else perDocWords
      // batch truth: the gated tensor packer over the full corpus for the
      // base layout; the same batch packer over the UNK-bearing per-doc
      // arrays for the UNK-faithful one
      val want = (if (!unk)
          graft.ops.Sampling.packSequencesTensor(docs, window = w)
        else graft.ops.Sampling.packPerDoc(perDoc.toDF("doc_id", "ids"),
          w, 8, unkFaithful = true))
        .orderBy("seq_id").collect().map(arrs).toSeq
      val third = perDoc.size / 3
      val (b1, rest) = perDoc.splitAt(third)
      val (b2, b3) = rest.splitAt(third)
      val mem = MemoryStream[(Long, Seq[Long])]
      val name = s"pack_stream_out_w${w}_unk$unk"
      val q = Streams.packStream(mem.toDF().toDF("doc_id", "ids"),
          window = w, unkFaithful = unk)
        .writeStream.outputMode(OutputMode.Append()).format("memory")
        .queryName(name).start()
      try {
        mem.addData(b1: _*); q.processAllAvailable()
        // the carry is real: batch 1's token count is not a multiple of
        // the window, so only the completed prefix was emitted and a
        // partial sequence (with its mid-sequence doc) waits in state
        val toks1 = b1.map(_._2.size.toLong + 2L).sum
        assert(toks1 % w != 0, s"window $w: fixture must leave a partial")
        assert(spark.table(name).count() == toks1 / w)
        mem.addData(b2: _*); q.processAllAvailable()
        mem.addData(b3: _*); q.processAllAvailable()
        // end-of-stream flush: emit the final padded partial
        mem.addData((-1L, Seq.empty[Long])); q.processAllAvailable()
      } finally q.stop()
      val got = spark.table(name).collect().map(arrs).toSeq.sortBy(_._1)
      assert(got == want, s"window $w unkFaithful=$unk")
    }
  }

  test("SHARD-PARALLEL streaming packer (N=4): each shard's sequences " +
      "equal the batch packer run on that shard's split, sequence ids " +
      "are shard-prefixed and shard-locally dense, one flush marker " +
      "drains every shard, and no sequence mixes docs across shards") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val nShards = 4
    def arrs(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getSeq[Long](3),
        r.getSeq[Long](4), r.getSeq[Long](5), r.getSeq[Long](6),
        r.getSeq[Long](7))
    // per-shard batch truth: the gated packer over the shard's SPLIT —
    // ids assigned from the split's own vocabulary, so the stream's
    // per-doc arrays below must use the same split-local assignment
    // (packing is id-agnostic; the sharded stage is the pack, and the
    // equality binds per shard iff no sequence mixes shards)
    val wantByShard = (0 until nShards).map { s =>
      s -> graft.ops.Sampling.packSequencesTensor(
        docs.filter(col("doc_id") % nShards === s))
        .collect().map(arrs).toSeq
    }.toMap
    val words = docs.select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
      .filter(length(col("word")) > 0)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    val perDoc = (0 until nShards).flatMap { s =>
      val shardWords = words.filter(_._1 % nShards == s)
      val vocab = shardWords.map(_._3).distinct.sorted.zipWithIndex
        .map { case (w, i) => w -> (i + 1L) }.toMap
      shardWords.groupBy(_._1).toSeq.map { case (id, rs) =>
        (id, rs.sortBy(_._2).map(t => vocab(t._3)).toSeq)
      }
    }.sortBy(_._1)
    val third = perDoc.size / 3
    val (b1, rest) = perDoc.splitAt(third)
    val (b2, b3) = rest.splitAt(third)
    val mem = MemoryStream[(Long, Seq[Long])]
    val q = Streams.packStream(mem.toDF().toDF("doc_id", "ids"),
        shards = nShards)
      .writeStream.outputMode(OutputMode.Append()).format("memory")
      .queryName("pack_shard_out").start()
    try {
      mem.addData(b1: _*); q.processAllAvailable()
      mem.addData(b2: _*); q.processAllAvailable()
      mem.addData(b3: _*); q.processAllAvailable()
      // ONE marker row must drain all four packers
      mem.addData((-1L, Seq.empty[Long])); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("pack_shard_out").collect().map(arrs).toSeq
    val byShard = got.groupBy(t => (t._1 >> 40).toInt)
    assert(byShard.keySet == (0 until nShards).toSet,
      "every shard must have emitted (incl. its flushed partial)")
    for (s <- 0 until nShards) {
      val shardSeqs = byShard(s).sortBy(_._1)
      // shard-local ids dense from 0, re-based to the batch ids
      assert(shardSeqs.map(_._1 & ((1L << 40) - 1)) ==
        shardSeqs.indices.map(_.toLong), s"shard $s seq ids")
      val rebased = shardSeqs.map(t =>
        t.copy(_1 = t._1 & ((1L << 40) - 1)))
      assert(rebased == wantByShard(s), s"shard $s pack")
      assert(rebased.size >= 2, s"shard $s must pack multiple sequences")
    }
    // a real row on a negative doc_id must fail LOUDLY, never be
    // silently consumed as a flush signal (ADVICE r11 #3)
    val mem2 = MemoryStream[(Long, Seq[Long])]
    val q2 = Streams.packStream(mem2.toDF().toDF("doc_id", "ids"))
      .writeStream.outputMode(OutputMode.Append()).format("memory")
      .queryName("pack_neg_out").start()
    try {
      mem2.addData((-5L, Seq(1L, 2L)))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q2.processAllAvailable()
      }
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: causes(t.getCause)
      assert(causes(e).exists(c =>
        c.isInstanceOf[IllegalArgumentException] &&
          c.getMessage.contains("flush marker")))
    } finally q2.stop()
  }

  test("streaming inference capstone: encode -> UNK ids -> packed " +
      "tensors as ONE streaming query equals batch inferencePrep " +
      "row-for-row across micro-batches (both model halves loaded)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val pairs = graft.ops.TermStats.bpeLearnIter(docs, 10)
      .map { case (a, b, _) => (a, b) }
    val vocabDf = graft.ops.TermStats.bpeVocab(docs, pairs, BpeMode.Char)
      .select("sym", "id")
    def arrs(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getSeq[Long](3),
        r.getSeq[Long](4), r.getSeq[Long](5), r.getSeq[Long](6),
        r.getSeq[Long](7))
    // batch truth: the gated nightly capstone over the held-out batch
    val want = graft.ops.TermStats.inferencePrep(docs, pairs, vocabDf)
      .collect().map(arrs).toSeq
    // the SHIPPED model halves as the stream consumes them
    val vocab = vocabDf.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // tonight's batch: the held-out split, enriched so OOV symbols
    // actually occur (the ids_unk gate's construction)
    val held = docs.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"),
        concat(col("text"), lit(graft.ops.TermStats.unkSuffix)).as("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val third = held.size / 3
    val (c1, rest) = held.splitAt(third)
    val (c2, c3) = rest.splitAt(third)
    val mem = MemoryStream[(Long, String)]
    val q = Streams.inferenceStream(
        mem.toDF().toDF("doc_id", "text"), pairs, vocab, BpeMode.Char)
      .writeStream.outputMode(OutputMode.Append()).format("memory")
      .queryName("inference_stream_out").start()
    try {
      mem.addData(c1: _*); q.processAllAvailable()
      mem.addData(c2: _*); q.processAllAvailable()
      mem.addData(c3: _*); q.processAllAvailable()
      mem.addData((-1L, "")); q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("inference_stream_out").collect().map(arrs)
      .toSeq.sortBy(_._1)
    assert(got == want)
    // the UNK contract survives the whole live chain: in-stream zeros
    // appear (the enriched ø token is out-of-vocabulary)
    assert(got.exists { case (_, _, n, ids, _, _, _, _) =>
      ids.take(n.toInt).contains(0L) })
    // UNK-FAITHFUL live twin (r12): the same stream under the
    // reserved-UNK layout equals batch inferencePrepUnk row-for-row —
    // no in-window zeros, UNKs on id 3, UNK targets carried in labels
    // but masked out
    val wantU = graft.ops.TermStats.inferencePrepUnk(docs, pairs, vocabDf,
        BpeMode.Char, graft.ops.TermStats.unkSuffix)
      .collect().map(arrs).toSeq
    val memU = MemoryStream[(Long, String)]
    val qU = Streams.inferenceStream(
        memU.toDF().toDF("doc_id", "text"), pairs, vocab, BpeMode.Char,
        unkFaithful = true)
      .writeStream.outputMode(OutputMode.Append()).format("memory")
      .queryName("inference_unk_out").start()
    try {
      memU.addData(c1: _*); qU.processAllAvailable()
      memU.addData(c2: _*); qU.processAllAvailable()
      memU.addData(c3: _*); qU.processAllAvailable()
      memU.addData((-1L, "")); qU.processAllAvailable()
    } finally qU.stop()
    val gotU = spark.table("inference_unk_out").collect().map(arrs)
      .toSeq.sortBy(_._1)
    assert(gotU == wantU)
    gotU.foreach { case (_, _, n, ids, _, mask, _, labels) =>
      assert(!ids.take(n.toInt).contains(0L))
      labels.zip(mask).foreach { case (l, m) =>
        assert(m == (if (l != 0L && l != 3L) 1L else 0L)) }
    }
    assert(gotU.exists { case (_, _, n, ids, _, _, _, _) =>
      ids.take(n.toInt).contains(3L) })
  }

  test("streaming ANN ingest: the stream-ingested index answers " +
      "identically to batch appends of the same splits, a redelivered " +
      "batch is a no-op, and a crash-before-marker retry redoes the " +
      "batch without duplicating codes") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.ops.Similarity
    val d = TestSpark.sf0001
    val emb = Tables.embeddings(spark, d)
    val seeds = Similarity.ivfCentroids(emb, 16, 0)
    val dirS = Files.createTempDirectory("graft-ingest-s").toString
    val dirB = Files.createTempDirectory("graft-ingest-b").toString
    val ckpt = Files.createTempDirectory("graft-ingest-ck").toString
    try {
      // both artifacts: base split + the SAME frozen full-corpus model
      Similarity.writeIvfPqIndex(emb.filter(col("vec_id") % 5 =!= 0),
        seeds, dirS, writeResiduals = false)
      Similarity.writeIvfPqIndex(emb.filter(col("vec_id") % 5 =!= 0),
        seeds, dirB, writeResiduals = false)
      // batch truth: two plain appends
      Similarity.appendToIvfPqIndex(spark, dirB,
        emb.filter(col("vec_id") % 10 === 0))
      Similarity.appendToIvfPqIndex(spark, dirB,
        emb.filter(col("vec_id") % 10 === 5))
      // the stream: the same two splits as two AvailableNow triggers
      // against one checkpoint — the second run RESUMES, so batch 2
      // (and only batch 2) lands with a fresh batchId
      val rows = emb.filter(col("vec_id") % 5 === 0)
        .select(col("vec_id"), col("embedding"))
        .as[(Long, Seq[Float])].collect()
      val (b1, b2) = rows.partition(_._1 % 10 == 0)
      val mem = MemoryStream[(Long, Seq[Float])]
      def run(): Unit = Streams.indexIngestStream(
        mem.toDF().toDF("vec_id", "embedding"), dirS, ckpt)
      mem.addData(b1.toSeq: _*); run()
      mem.addData(b2.toSeq: _*); run()
      def topk(dir: String) =
        Similarity.ivfPqTopKFromIndex(spark, dir, emb,
            col("vec_id") < 10, 5)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getDouble(3))).toSeq
      assert(topk(dirS) == topk(dirB))
      val fullCount = emb.count()
      assert(spark.read.parquet(s"$dirS/codes").count() == fullCount)
      // redelivery: batchId 0 already carries its marker — no-op
      assert(!Similarity.appendToIvfPqIndexIdempotent(spark, dirS,
        emb.filter(col("vec_id") % 10 === 0), 0L))
      assert(spark.read.parquet(s"$dirS/codes").count() == fullCount)
      // crash-before-marker: drop batch 1's marker (its part files
      // remain — the exact mid-move/pre-marker state); the retry must
      // sweep them, redo the batch, and land at the same count
      val codesDir = new java.io.File(s"$dirS/codes")
      val marker = codesDir.listFiles()
        .filter(f => f.getName.startsWith("_ingest-")).minBy(_.getName)
      assert(marker.delete())
      assert(Similarity.appendToIvfPqIndexIdempotent(spark, dirS,
        emb.filter(col("vec_id") % 10 === 0), 0L))
      assert(spark.read.parquet(s"$dirS/codes").count() == fullCount)
      assert(topk(dirS) == topk(dirB))
      // COMPACTION preserves the idempotence ledger: the rewrite folds
      // the ingested rows in, and a post-compaction redelivery must
      // STILL no-op (the markers ride into the new generation)
      Similarity.compactIvfPqIndexCodes(spark, dirS)
      assert(!Similarity.appendToIvfPqIndexIdempotent(spark, dirS,
        emb.filter(col("vec_id") % 10 === 0), 0L))
      assert(spark.read.parquet(
        Similarity.currentCodesPath(spark, dirS)).count() == fullCount)
      assert(topk(dirS) == topk(dirB))
    } finally {
      graft.ops.SessionCleanup.deleteRecursively(dirS)
      graft.ops.SessionCleanup.deleteRecursively(dirB)
      graft.ops.SessionCleanup.deleteRecursively(ckpt)
    }
  }

  test("end-of-word-marker STREAMING twins: encodeStream(eow) equals " +
      "the batch marker-mode scaled apply row-for-row, and " +
      "inferenceStream(eow, unkFaithful) equals batch " +
      "inferencePrepUnk(eow) across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val pairs = graft.ops.TermStats.bpeLearnIter(docs, 10, eow = true)
      .map { case (a, b, _) => (a, b) }
    // encode twin: stream ≡ the batch marker-mode scaled apply
    val wantEnc = graft.ops.TermStats
      .bpeApplyScaled(docs, pairs, BpeMode.Eow)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSeq
    val rows = docs.select("doc_id", "text").as[(Long, String)]
      .collect().sortBy(_._1)
    val (h1, h2) = rows.splitAt(rows.length / 2)
    val mem = MemoryStream[(Long, String)]
    val q = Streams.encodeStream(
        mem.toDF().toDF("doc_id", "text"), pairs, BpeMode.Eow)
      .writeStream.outputMode(OutputMode.Append()).format("memory")
      .queryName("encode_eow_out").start()
    try {
      mem.addData(h1.toSeq: _*); q.processAllAvailable()
      mem.addData(h2.toSeq: _*); q.processAllAvailable()
    } finally q.stop()
    val gotEnc = spark.table("encode_eow_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSeq.sortBy(_._1)
    assert(gotEnc == wantEnc)
    // every streamed symbol stream is marker-terminated per word
    gotEnc.take(20).foreach { case (_, nTok, _, syms) =>
      assert(syms.split(" ").count(
        _.endsWith(graft.ops.TermStats.EowMarker)) == nTok, syms)
    }
    // inference twin: stream(eow, unkFaithful) ≡ batch
    // inferencePrepUnk(eow) on the enriched held split
    val vocabDf = graft.ops.TermStats.bpeVocab(docs, pairs, BpeMode.Eow)
      .select("sym", "id")
    def arrs(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getSeq[Long](3),
        r.getSeq[Long](4), r.getSeq[Long](5), r.getSeq[Long](6),
        r.getSeq[Long](7))
    val wantU = graft.ops.TermStats
      .inferencePrepUnk(docs, pairs, vocabDf, BpeMode.Eow,
        graft.ops.TermStats.unkSuffix)
      .collect().map(arrs).toSeq
    val vocab = vocabDf.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val held = docs.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"),
        concat(col("text"), lit(graft.ops.TermStats.unkSuffix)).as("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val (c1, c2) = held.splitAt(held.length / 2)
    val memU = MemoryStream[(Long, String)]
    val qU = Streams.inferenceStream(
        memU.toDF().toDF("doc_id", "text"), pairs, vocab, BpeMode.Eow,
        unkFaithful = true)
      .writeStream.outputMode(OutputMode.Append()).format("memory")
      .queryName("inference_eow_out").start()
    try {
      memU.addData(c1.toSeq: _*); qU.processAllAvailable()
      memU.addData(c2.toSeq: _*); qU.processAllAvailable()
      memU.addData((-1L, "")); qU.processAllAvailable()
    } finally qU.stop()
    val gotU = spark.table("inference_eow_out").collect().map(arrs)
      .toSeq.sortBy(_._1)
    assert(gotU == wantU)
  }

  test("byte-level STREAMING twins: encodeStream(byteLevel) over RAW " +
      "text equals the batch scaled apply over the byte corpus " +
      "row-for-row, and inferenceStream(byteLevel, unkFaithful) equals " +
      "batch inferencePrepByte on the enriched held split with ZERO " +
      "UNK ids anywhere in the tensors") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val pairs = graft.ops.TermStats
      .bpeLearnIter(graft.ops.TermStats.byteDocs(docs), 10)
      .map { case (a, b, _) => (a, b) }
    // encode twin: the STREAM takes raw text and does the remap itself
    val wantEnc = graft.ops.TermStats.bpeApplyScaled(docs, pairs, BpeMode.Byte)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSeq
    val rows = docs.select("doc_id", "text").as[(Long, String)]
      .collect().sortBy(_._1)
    val (h1, h2) = rows.splitAt(rows.length / 2)
    val mem = MemoryStream[(Long, String)]
    val q = Streams.encodeStream(
        mem.toDF().toDF("doc_id", "text"), pairs, BpeMode.Byte)
      .writeStream.outputMode(OutputMode.Append()).format("memory")
      .queryName("encode_byte_out").start()
    try {
      mem.addData(h1.toSeq: _*); q.processAllAvailable()
      mem.addData(h2.toSeq: _*); q.processAllAvailable()
    } finally q.stop()
    val gotEnc = spark.table("encode_byte_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3))).toSeq.sortBy(_._1)
    assert(gotEnc == wantEnc)
    // every streamed symbol lives in the remapped alphabet
    gotEnc.take(20).foreach { case (_, _, _, syms) =>
      assert(syms.replace(" ", "")
        .forall(c => c >= 0x100 && c <= 0x1ff), syms.take(40))
    }
    // inference twin: stream(byte, unkFaithful) ≡ batch
    // inferencePrepUnk(Byte) on the enriched held split — and the closed
    // vocabulary means the reserved UNK id (3) never appears
    val vocabDf = graft.ops.TermStats.bpeVocab(docs, pairs, BpeMode.Byte)
      .select("sym", "id")
    def arrs(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getSeq[Long](3),
        r.getSeq[Long](4), r.getSeq[Long](5), r.getSeq[Long](6),
        r.getSeq[Long](7))
    val wantU = graft.ops.TermStats
      .inferencePrepUnk(docs, pairs, vocabDf, BpeMode.Byte,
        graft.ops.TermStats.byteSuffix)
      .collect().map(arrs).toSeq
    val vocab = vocabDf.collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // r15: byte gates enrich with byteSuffix (whitespace runs +
    // punctuation) — the stream must carry the same content through
    // its GPT-2 pre-tokenizer
    val held = docs.filter(col("doc_id") % 7 === 0)
      .select(col("doc_id"),
        concat(col("text"), lit(graft.ops.TermStats.byteSuffix)).as("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val (c1, c2) = held.splitAt(held.length / 2)
    val memU = MemoryStream[(Long, String)]
    val qU = Streams.inferenceStream(
        memU.toDF().toDF("doc_id", "text"), pairs, vocab, BpeMode.Byte,
        unkFaithful = true)
      .writeStream.outputMode(OutputMode.Append()).format("memory")
      .queryName("inference_byte_out").start()
    try {
      memU.addData(c1.toSeq: _*); qU.processAllAvailable()
      memU.addData(c2.toSeq: _*); qU.processAllAvailable()
      memU.addData((-1L, "")); qU.processAllAvailable()
    } finally qU.stop()
    val gotU = spark.table("inference_byte_out").collect().map(arrs)
      .toSeq.sortBy(_._1)
    assert(gotU == wantU)
    assert(gotU.forall(!_._4.contains(3L)),
      "the closed byte vocabulary must make the UNK reserved id " +
        "unreachable, ø-enrichment included")
  }

  test("packStream ordering contract: docs pack in doc_id order WITHIN " +
      "a trigger and in ARRIVAL order ACROSS triggers (r12 what's-wrong " +
      "#3 — contract pinned, no behavior change)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(Long, Seq[Long])]
    val q = Streams.packStream(mem.toDF().toDF("doc_id", "ids"))
      .writeStream.outputMode(OutputMode.Append()).format("memory")
      .queryName("pack_order_out").start()
    try {
      // trigger 1 carries the HIGHER doc ids, trigger 2 the lower —
      // if arrival order leaked within a trigger, or id order leaked
      // across triggers, the flattened stream below changes
      mem.addData((5L, Seq(50L)), (2L, Seq(20L))); q.processAllAvailable()
      mem.addData((4L, Seq(40L)), (1L, Seq(10L))); q.processAllAvailable()
      mem.addData((-1L, Seq.empty[Long])); q.processAllAvailable()
    } finally q.stop()
    val flat = spark.table("pack_order_out")
      .orderBy("seq_id")
      .select(col("n_tokens"), col("ids"))
      .collect()
      .flatMap(r => r.getSeq[Long](1).take(r.getLong(0).toInt))
      .toSeq
    // per doc: BOS(1), raw id + 2, EOS(2) — doc order must be
    // (2, 5) from trigger 1, then (1, 4) from trigger 2
    assert(flat == Seq(1L, 22L, 2L, 1L, 52L, 2L, 1L, 12L, 2L, 1L, 42L, 2L),
      flat.toString)
  }

  test("streaming ANN takedowns: stream-deleted equals batch-deleted, " +
      "a redelivered tombstone batch is a no-op, and the delete-then-" +
      "ingest-same-id ordering is pinned (the tombstone wins until the " +
      "next compaction; re-ingest after it re-adds)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    import graft.ops.Similarity
    val d = TestSpark.sf0001
    val emb = Tables.embeddings(spark, d)
    val seeds = Similarity.ivfCentroids(emb, 16, 0)
    val dirS = Files.createTempDirectory("graft-tomb-s").toString
    val dirB = Files.createTempDirectory("graft-tomb-b").toString
    val ckpt = Files.createTempDirectory("graft-tomb-ck").toString
    try {
      Similarity.writeIvfPqIndex(emb, seeds, dirS, writeResiduals = false)
      Similarity.writeIvfPqIndex(emb, seeds, dirB, writeResiduals = false)
      val deadPred = Similarity.deletePred
      // batch truth: plain tombstone append
      Similarity.deleteFromIvfPqIndex(spark, dirB, emb.filter(deadPred))
      // the stream: the same takedown ids in two micro-batches
      val ids = emb.filter(deadPred).select("vec_id")
        .as[Long].collect().sorted
      val (t1, t2) = ids.splitAt(ids.length / 2)
      val mem = MemoryStream[Long]
      def run(): Unit = Streams.indexDeleteStream(
        mem.toDF().toDF("vec_id"), dirS, ckpt)
      mem.addData(t1.toSeq: _*); run()
      mem.addData(t2.toSeq: _*); run()
      def topk(dir: String) =
        Similarity.ivfPqTopKFromIndex(spark, dir, emb,
            col("vec_id") < 10 && !deadPred, 5)
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getDouble(3))).toSeq
      val want = topk(dirB)
      assert(topk(dirS) == want)
      topk(dirS).foreach { case (q, _, n, _) =>
        assert(q % 7 != 3 && n % 7 != 3, s"($q,$n)") }
      // redelivery: batchId 0 already carries its marker — no-op
      assert(!Similarity.deleteFromIvfPqIndexIdempotent(spark, dirS,
        emb.filter(deadPred).select("vec_id"), 0L))
      assert(topk(dirS) == want)
      // ORDERING: re-ingesting a tombstoned id while its tombstone is
      // live stays suppressed (the delete wins)...
      assert(Similarity.appendToIvfPqIndexIdempotent(spark, dirS,
        emb.filter(deadPred), 100L))
      assert(topk(dirS) == want)
      assert(Similarity.ivfPqTopKFromIndex(spark, dirS, emb,
          col("vec_id") < 10 && !deadPred, 5)
        .filter(col("n_id") % 7 === 3).count() == 0)
      // ...through the compaction that folds both (the re-ingested
      // rows are dropped with the tombstones)...
      Similarity.compactIvfPqIndexCodes(spark, dirS)
      assert(topk(dirS) == want)
      val liveN = emb.filter(!deadPred).count()
      assert(spark.read.parquet(
        Similarity.currentCodesPath(spark, dirS)).count() == liveN)
      // ...and an ingest AFTER the compaction genuinely re-adds
      assert(Similarity.appendToIvfPqIndexIdempotent(spark, dirS,
        emb.filter(deadPred), 101L))
      assert(spark.read.parquet(
        Similarity.currentCodesPath(spark, dirS)).count() == emb.count())
      assert(Similarity.ivfPqTopKFromIndex(spark, dirS, emb,
          col("vec_id") < 10, 5)
        .filter(col("n_id") % 7 === 3).count() > 0,
        "post-compaction re-ingest must surface the ids again")
    } finally {
      graft.ops.SessionCleanup.deleteRecursively(dirS)
      graft.ops.SessionCleanup.deleteRecursively(dirB)
      graft.ops.SessionCleanup.deleteRecursively(ckpt)
    }
  }

  test("streaming tumbling counts equal the batch (oracle-checked) query") {
    val stream = Streams.tumblingRate(Streams.eventsStream(spark, TestSpark.sf0001))
    runToMemory(stream, "tumbling_out")
    val got = spark.table("tumbling_out")
      .select(col("w_start").cast("long"), col("n")).as[(Long, Long)]
      .collect().toMap
    val want = EventWindows.tumbling(Tables.events(spark, TestSpark.sf0001))
      .select(col("w_start").cast("long"), col("n")).as[(Long, Long)]
      .collect().toMap
    // append mode emits a window only once the watermark passes it — the
    // final 10 minutes of data never finalize under AvailableNow. Every
    // emitted window must match the batch result exactly, and everything
    // except the watermark tail must have been emitted.
    assert(got.nonEmpty)
    assert(got.forall { case (w, n) => want.get(w).contains(n) })
    val maxTs = Tables.events(spark, TestSpark.sf0001)
      .agg(max(col("ts")).cast("long")).as[Long].collect().head
    val mustHave = want.keySet.filter(_ < maxTs - 600)
    assert(mustHave.subsetOf(got.keySet))
  }

  test("streaming sliding counts equal the batch (oracle-checked) query") {
    val stream = Streams.slidingRate(Streams.eventsStream(spark, TestSpark.sf0001))
    runToMemory(stream, "sliding_out")
    val got = spark.table("sliding_out")
      .select(col("w_start").cast("long"), col("n")).as[(Long, Long)]
      .collect().toMap
    val want = EventWindows.sliding(Tables.events(spark, TestSpark.sf0001))
      .select(col("w_start").cast("long"), col("n")).as[(Long, Long)]
      .collect().toMap
    // same append-mode contract as tumbling: every emitted window matches
    // batch exactly; all but the watermark tail (10 min) plus the last
    // window width (60 s) must have been emitted.
    assert(got.nonEmpty)
    assert(got.forall { case (w, n) => want.get(w).contains(n) })
    val maxTs = Tables.events(spark, TestSpark.sf0001)
      .agg(max(col("ts")).cast("long")).as[Long].collect().head
    val mustHave = want.keySet.filter(_ < maxTs - 600 - 60)
    assert(mustHave.subsetOf(got.keySet))
  }

  test("batch pre-aggregated sliding rate equals the single-aggregation stream form") {
    val ev = graft.model.Tables.events(spark, TestSpark.sf0001)
    val single = EventWindows.sliding(ev)
      .orderBy("w_start").collect().map(_.toString).toSeq
    val preAgg = EventWindows.slidingPreAgg(ev)
      .orderBy("w_start").collect().map(_.toString).toSeq
    assert(preAgg == single)
  }

  test("stream-stream interval join equals the batch (oracle-checked) twin") {
    val stream = Streams.intervalJoinStream(
      Streams.eventsStream(spark, TestSpark.sf0001))
    runToMemory(stream, "ivj_out")
    val got = spark.table("ivj_out")
      .select("p_id", "c_id").as[(Long, Long)].collect().toSet
    val want = EventWindows.intervalJoin(Tables.events(spark, TestSpark.sf0001))
      .select("p_id", "c_id").as[(Long, Long)].collect().toSet
    // inner interval join: every emitted pair is a batch pair, and all
    // pairs whose purchase is older than the watermark tail must have
    // been emitted (AvailableNow never finalizes the final lookback).
    assert(got.nonEmpty)
    assert(got.subsetOf(want))
    val maxTs = Tables.events(spark, TestSpark.sf0001)
      .agg(max(col("ts")).cast("long")).as[Long].collect().head
    val mustHave = EventWindows.intervalJoin(Tables.events(spark, TestSpark.sf0001))
      .filter(col("p_ts").cast("long") < maxTs - 2 * 6 * 3600)
      .select("p_id", "c_id").as[(Long, Long)].collect().toSet
    assert(mustHave.subsetOf(got))
  }

  test("left-outer stream-stream interval join: matched pairs are batch " +
      "pairs, and emitted NULL-click rows are exactly batch's unmatched " +
      "purchases (watermark-finalized outer results)") {
    val stream = Streams.intervalJoinLeftStream(
      Streams.eventsStream(spark, TestSpark.sf0001))
    runToMemory(stream, "ivjl_out")
    val got = spark.table("ivjl_out")
      .select(col("p_id"), col("c_id")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toSet
    val want = EventWindows.intervalJoinLeft(Tables.events(spark, TestSpark.sf0001))
      .select(col("p_id"), col("c_id")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toSet
    assert(got.nonEmpty)
    assert(got.subsetOf(want),
      "every emitted row (incl. NULL-click) must be a batch row")
    // completeness for the finalized prefix: purchases older than
    // 2x lookback + allowance must appear, matched or not
    val maxTs = Tables.events(spark, TestSpark.sf0001)
      .agg(max(col("ts")).cast("long")).as[Long].collect().head
    val mustHave = EventWindows.intervalJoinLeft(Tables.events(spark, TestSpark.sf0001))
      .filter(col("p_ts").cast("long") < maxTs - (2 * 6 + 1) * 3600)
      .select(col("p_id"), col("c_id")).collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) -1L else r.getLong(1)))
      .toSet
    assert(mustHave.subsetOf(got))
  }

  test("streaming daily funnel equals the batch (oracle-checked) twin on " +
      "every finalized day") {
    val stream = Streams.funnelDailyStream(
      Streams.eventsStream(spark, TestSpark.sf0001))
    runToMemory(stream, "funnel_out")
    val got = spark.table("funnel_out")
      .select(col("day").cast("string"), col("n_view"),
        col("n_click_after_view"), col("n_purchase_funnel"))
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    val want = EventWindows.funnelDaily(Tables.events(spark, TestSpark.sf0001))
      .select(col("day").cast("string"), col("n_view"),
        col("n_click_after_view"), col("n_purchase_funnel"))
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap
    // append mode: every emitted day matches batch exactly; every day
    // whose end precedes the final watermark (max ts - 1 h) must have
    // been emitted.
    assert(got.nonEmpty)
    assert(got.forall { case (d, v) => want.get(d).contains(v) })
    val maxDay = Tables.events(spark, TestSpark.sf0001)
      .agg(max(to_date(col("ts"))).cast("string")).as[String].collect().head
    val mustHave = want.keySet.filter(_ < maxDay) // closed strictly-prior days
    assert(mustHave.subsetOf(got.keySet),
      s"missing finalized days: ${mustHave -- got.keySet}")
  }

  test("batch pre-aggregated trending counts equal the single-aggregation " +
      "stream form") {
    val ev = graft.model.Tables.events(spark, TestSpark.sf0001)
    val single = EventWindows.trendingCounts(ev)
      .orderBy("w_start", "event_type").collect().map(_.toString).toSeq
    val preAgg = EventWindows.trendingCountsPreAgg(ev)
      .orderBy("w_start", "event_type").collect().map(_.toString).toSeq
    assert(preAgg == single)
  }

  test("streaming trending counts, ranked downstream, equal the batch " +
      "(oracle-checked) trendingTopK on every emitted window") {
    import org.apache.spark.sql.expressions.Window
    val stream = Streams.trendingStream(
      Streams.eventsStream(spark, TestSpark.sf0001))
    runToMemory(stream, "trending_out")
    val w = Window.partitionBy("w_start").orderBy(desc("n"),
      asc("event_type"))
    val got = spark.table("trending_out")
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select(col("w_start").cast("long"), col("event_type"), col("n"),
        col("rk"))
      .as[(Long, String, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3, t._4)).sortBy(_._3).toSeq)
      .toMap
    val want = EventWindows.trendingTopK(
        graft.model.Tables.events(spark, TestSpark.sf0001))
      .select(col("w_start").cast("long"), col("event_type"), col("n"),
        col("rk"))
      .as[(Long, String, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(t => (t._2, t._3, t._4)).sortBy(_._3).toSeq)
      .toMap
    // append-mode contract: every emitted window's top-3 matches batch
    // exactly; all windows fully closed before (max ts - watermark) must
    // have been emitted.
    assert(got.nonEmpty)
    got.foreach { case (ws, rows) =>
      assert(want.get(ws).contains(rows), s"window $ws") }
    val maxTs = graft.model.Tables.events(spark, TestSpark.sf0001)
      .agg(max(col("ts")).cast("long")).as[Long].collect().head
    val mustHave = want.keySet.filter(_ < maxTs - 1800 - 3600)
    assert(mustHave.subsetOf(got.keySet))
  }

  test("retentionCohorts: planted two-cohort activity yields the exact " +
      "(cohort, offset, count) matrix; repeat events within a day count " +
      "once") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // cohort A (day 1): users 1,2 — both active d1; user 1 returns d2
    // (twice) and d3. cohort B (day 2): user 3 active d2, returns d3.
    val events = Seq(
      (1L, ts("2024-03-01 10:00:00")), (2L, ts("2024-03-01 11:00:00")),
      (1L, ts("2024-03-02 09:00:00")), (1L, ts("2024-03-02 20:00:00")),
      (1L, ts("2024-03-03 09:00:00")),
      (3L, ts("2024-03-02 12:00:00")), (3L, ts("2024-03-03 12:00:00")))
      .toDF("user_id", "ts")
    val got = EventWindows.retentionCohorts(events)
      .select(col("cohort").cast("string"), col("day_offset"), col("n_users"))
      .as[(String, Long, Long)].collect().toSet
    assert(got == Set(
      ("2024-03-01", 0L, 2L), ("2024-03-01", 1L, 1L), ("2024-03-01", 2L, 1L),
      ("2024-03-02", 0L, 1L), ("2024-03-02", 1L, 1L)), got.toString)
  }

  test("activeUsers: planted activity yields exact DAU and trailing-7d " +
      "WAU; a user active twice in the window counts once") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // day 1: users 1,2. day 2: user 1 (twice). day 9: user 3 (outside
    // the 7-day window of days 1-2).
    val events = Seq(
      (1L, ts("2024-03-01 10:00:00")), (2L, ts("2024-03-01 11:00:00")),
      (1L, ts("2024-03-02 09:00:00")), (1L, ts("2024-03-02 18:00:00")),
      (3L, ts("2024-03-09 12:00:00")))
      .toDF("user_id", "ts")
    val got = EventWindows.activeUsers(events)
      .select(col("day").cast("string"), col("dau"), col("wau"))
      .as[(String, Long, Long)].collect()
      .map { case (d, dau, wau) => d -> ((dau, wau)) }.toMap
    // observed days only; WAU(3-01)={1,2}; WAU(3-02)={1,2} (trailing);
    // WAU(3-09)={3} — days 1-2 fell out of the window
    assert(got == Map(
      "2024-03-01" -> (2L, 2L), "2024-03-02" -> (1L, 2L),
      "2024-03-09" -> (1L, 1L)), got.toString)
  }

  test("sessionConcurrency: scatter covers the gap-padding end hour, " +
      "overlapping sessions stack, and same-user adjacent sessions " +
      "count once for n_users") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val events = Seq(
      // user 1, session [10:00, 11:30): hours 10, 11
      (1L, ts("2024-03-01 10:00:00")), (1L, ts("2024-03-01 10:20:00")),
      (1L, ts("2024-03-01 10:40:00")), (1L, ts("2024-03-01 11:00:00")),
      // user 2, session [10:30, 11:00): hour 10, plus 11 by the
      // closed-interval hour-of-end convention
      (2L, ts("2024-03-01 10:30:00")),
      // user 1 again, session [13:50, 14:20): hours 13, 14 — the end
      // hour is reached only by the +30min gap padding
      (1L, ts("2024-03-01 13:50:00")),
      // user 3: TWO sessions (45-min gap splits) both touching hour 9
      (3L, ts("2024-03-01 09:00:00")), (3L, ts("2024-03-01 09:45:00")))
      .toDF("user_id", "ts")
    val got = EventWindows.sessionConcurrency(events)
      .select(col("hour").cast("string"), col("n_sessions"), col("n_users"))
      .as[(String, Long, Long)].collect()
      .map { case (h, s, u) => h -> ((s, u)) }.toMap
    assert(got == Map(
      "2024-03-01 09:00:00" -> ((2L, 1L)),
      "2024-03-01 10:00:00" -> ((3L, 3L)),
      "2024-03-01 11:00:00" -> ((2L, 2L)),
      "2024-03-01 13:00:00" -> ((1L, 1L)),
      "2024-03-01 14:00:00" -> ((1L, 1L))), got.toString)
  }

  test("typeTransitions: planted a->b->a->c stream yields exact counts, " +
      "per-source rates sum to 1, and user boundaries break chains") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val events = Seq(
      // user 1: a b a c  → a->b, b->a, a->c
      (1L, 1L, ts("2024-03-01 10:00:00"), "a"),
      (2L, 1L, ts("2024-03-01 10:01:00"), "b"),
      (3L, 1L, ts("2024-03-01 10:02:00"), "a"),
      (4L, 1L, ts("2024-03-01 10:03:00"), "c"),
      // user 2: b a  → b->a only; the c(end of user1)->b join must NOT appear
      (5L, 2L, ts("2024-03-01 10:00:30"), "b"),
      (6L, 2L, ts("2024-03-01 10:01:30"), "a"))
      .toDF("event_id", "user_id", "ts", "event_type")
    val got = EventWindows.typeTransitions(events)
      .as[(String, String, Long, Double)].collect()
      .map(t => (t._1, t._2) -> (t._3, t._4)).toMap
    assert(got == Map(
      ("a", "b") -> (1L, 0.5), ("a", "c") -> (1L, 0.5),
      ("b", "a") -> (2L, 1.0)), got.toString)
  }

  test("winsorize on 1..100: exactly one value clips at each end and the " +
      "clipped average equals the raw (symmetric clip)") {
    def ts(i: Int) = java.sql.Timestamp.valueOf(f"2024-03-01 00:${i / 60}%02d:${i % 60}%02d")
    val events = (1 to 100).map(i => ("m", ts(i), i.toDouble))
      .toDF("event_type", "ts", "value")
    val bounds = events.groupBy(col("event_type"))
      .agg(percentile(col("value"), lit(0.01)).as("lo"),
           percentile(col("value"), lit(0.99)).as("hi"))
    val got = events.join(bounds, Seq("event_type"))
      .agg(
        sum(when(col("value") < col("lo"), 1L).otherwise(0L)).as("n_lo"),
        sum(when(col("value") > col("hi"), 1L).otherwise(0L)).as("n_hi"),
        avg(col("value")).as("avg_raw"),
        avg(least(greatest(col("value"), col("lo")), col("hi")))
          .as("avg_winsor"))
      .as[(Long, Long, Double, Double)].collect().head
    assert(got._1 == 1L && got._2 == 1L, got.toString)
    assert(got._3 == 50.5 && math.abs(got._4 - 50.5) < 1e-9, got.toString)
    // the registered query exposes the same arithmetic per event type
    assert(graft.ops.Relational.queries("events_value_winsorize")(
        spark, TestSpark.sf0001).columns.toSeq ==
      Seq("event_type", "n", "n_lo", "n_hi", "avg_raw", "avg_winsor"))
  }

  test("anomalyZscore flags a planted spike against its trailing baseline, " +
      "not a normal bucket; warm-up buckets are absent; repartition-stable") {
    // hourly counts for one type: [4,5,6,4,5,6] baseline, then a normal
    // hour (5) and a 50-event spike. Buckets 0-5 are warm-up (n_prev<6).
    val counts = Seq(4, 5, 6, 4, 5, 6, 5, 50)
    val rows = for {
      (c, h) <- counts.zipWithIndex
      i <- 0 until c
    } yield (s"evt_${h}_$i", java.sql.Timestamp.valueOf(
      f"2024-03-01 $h%02d:00:${i % 60}%02d"), "error")
    val events = rows.toDF("event_id", "ts", "event_type")
    val out = EventWindows.anomalyZscore(events).collect()
      .map(r => (r.getTimestamp(1), r.getLong(2), r.getBoolean(6)))
    // exactly the two post-warm-up buckets surface
    assert(out.length == 2, out.mkString(", "))
    val Seq(normal, spike) = out.sortBy(_._1.getTime).toSeq
    assert(normal._2 == 5 && !normal._3, s"normal bucket flagged: $normal")
    assert(spike._2 == 50 && spike._3, s"spike not flagged: $spike")
    val shuffled = EventWindows.anomalyZscore(events.repartition(5))
      .collect().map(r => (r.getTimestamp(1), r.getLong(2), r.getBoolean(6)))
    assert(shuffled.sortBy(_._1.getTime).toSeq == out.sortBy(_._1.getTime).toSeq)
  }

  test("streaming hourly counts, scored downstream by anomalyFromHourly, " +
      "equal the batch anomalyZscore on every emitted hour") {
    val stream = Streams.anomalyStream(
      Streams.eventsStream(spark, TestSpark.sf0001))
    runToMemory(stream, "anomaly_out")
    def keyed(df: org.apache.spark.sql.DataFrame) = df
      .select(col("event_type"), col("hour").cast("long"), col("n"),
        col("mean_n"), col("sd_n"), col("z"), col("is_anomaly"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getLong(2), r.get(3), r.get(4), r.get(5), r.getBoolean(6)))
      .toMap
    val got = keyed(EventWindows.anomalyFromHourly(spark.table("anomaly_out")))
    val want = keyed(EventWindows.anomalyZscore(
      Tables.events(spark, TestSpark.sf0001)))
    assert(got.nonEmpty)
    // every streamed-scored hour matches the batch detector exactly
    assert(got.forall { case (k, v) => want.get(k).contains(v) })
    // and everything except the watermark tail (30 min) plus the last
    // open hour must have finalized and been scored
    val maxTs = Tables.events(spark, TestSpark.sf0001)
      .agg(max(col("ts")).cast("long")).as[Long].collect().head
    val mustHave = want.keySet.filter(_._2 < maxTs - 1800 - 3600)
    assert(mustHave.subsetOf(got.keySet))
  }

  test("anomalyZscore: a constant baseline (stddev 0) yields NULL z and " +
      "no flag even for a large spike — the documented degenerate case") {
    val counts = Seq(5, 5, 5, 5, 5, 5, 50)
    val rows = for {
      (c, h) <- counts.zipWithIndex
      i <- 0 until c
    } yield (s"e_${h}_$i", java.sql.Timestamp.valueOf(
      f"2024-03-02 $h%02d:00:${i % 60}%02d"), "warn")
    val out = EventWindows.anomalyZscore(rows.toDF("event_id", "ts", "event_type"))
      .collect()
    assert(out.length == 1)
    assert(out.head.isNullAt(5) && !out.head.getBoolean(6))
  }

  test("dropDuplicatesWithinWatermark removes duplicate event_ids") {
    val events = Tables.events(spark, TestSpark.sf0001).limit(100)
    val dir = tempDir("graft-dup")
    events.union(events).write.parquet(s"$dir/events.parquet")
    // stream the doubled data back with the same schema convention
    val doubled = spark.readStream
      .schema(Tables.events(spark, TestSpark.sf0001).schema)
      .parquet(s"$dir/events.parquet")
    runToMemory(Streams.dedupEvents(doubled), "dedup_out")
    assert(spark.table("dedup_out").count() == 100)
  }

  test("mapGroupsWithState running user stats match batch counts") {
    runToMemory(Streams.runningUserStats(
      Streams.eventsStream(spark, TestSpark.sf0001)).toDF(), "userstats_out",
      OutputMode.Update())
    val got = spark.table("userstats_out")
      .groupBy("userId").agg(max("n").as("n"))
      .as[(Long, Long)].collect().toMap
    val want = Tables.events(spark, TestSpark.sf0001)
      .groupBy("user_id").count().as[(Long, Long)].collect().toMap
    assert(got == want)
  }

  test("stream-static enrichment: emitted (hour, segment) counts equal " +
      "the batch twin; finalized hours are complete") {
    runToMemory(Streams.enrichStaticStream(
      Streams.eventsStream(spark, TestSpark.sf0001),
      Tables.customer(spark, TestSpark.sf0001)), "enrich_out")
    val got = spark.table("enrich_out")
      .select(col("hour").cast("long"), col("c_mktsegment"), col("n"))
      .as[(Long, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    val want = EventWindows.queries("stream_enrich_static")(
      spark, TestSpark.sf0001)
      .select(col("hour").cast("long"), col("c_mktsegment"), col("n"))
      .as[(Long, String, Long)].collect()
      .map(r => (r._1, r._2) -> r._3).toMap
    assert(got.nonEmpty)
    // append mode: every emitted window must equal batch exactly
    got.foreach { case (k, n) => assert(want.get(k).contains(n), k) }
    // completeness: every hour fully before the final watermark
    // (max ts - 30 min) must have been emitted
    val maxTs = Tables.events(spark, TestSpark.sf0001)
      .agg(max(col("ts")).cast("long")).as[Long].collect().head
    want.foreach { case (k @ (h, _), n) =>
      if (h + 3600 < maxTs - 1800) assert(got.get(k).contains(n), k)
    }
  }

  test("streaming Welford bot scores: final per-user state equals the " +
      "batch bot detector (same users, same moments, same flags)") {
    runToMemory(Streams.botScoreStream(
      Streams.eventsStream(spark, TestSpark.sf0001)).toDF(), "bot_out",
      OutputMode.Update())
    // update mode: the final (largest-nGaps) row per user is the
    // full-stream state
    val got = spark.table("bot_out")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("userId")
          .orderBy(col("nGaps").desc)))
      .filter(col("rn") === 1 && col("nGaps") >= 2)
      .select("userId", "nGaps", "meanGap", "sdGap", "cv", "botLike")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getBoolean(5))).toMap
    val want = EventWindows.botScores(Tables.events(spark, TestSpark.sf0001))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2),
        r.getDouble(3), if (r.isNullAt(4)) Double.NaN else r.getDouble(4),
        r.getBoolean(5))).toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (uid, (n, mean, sd, cv, flag)) =>
      val (wn, wmean, wsd, wcv, wflag) = want(uid)
      assert(n == wn, s"user $uid gaps $n vs $wn")
      // batch rounds at 6 dp; Welford vs stddev_samp differ in fold
      // order only — compare within rounding + ulp tolerance
      assert(math.abs(mean - wmean) < 1e-5, s"user $uid mean")
      assert(math.abs(sd - wsd) < 1e-5, s"user $uid sd")
      if (!wcv.isNaN) assert(math.abs(cv - wcv) < 1e-5, s"user $uid cv")
      assert(flag == wflag, s"user $uid flag")
    }
  }

  test("botScoreStream drops + counts late cross-batch events instead of " +
      "corrupting the Welford moments") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val df = mem.toDF().toDF("user_id", "ts", "event_id")
    val q = Streams.botScoreStream(df).toDF()
      .writeStream.outputMode(OutputMode.Update()).format("memory")
      .queryName("bot_late_out").start()
    try {
      // batch 1 (in order): t = 0, 10, 20 — two gaps of 10 s
      mem.addData((1L, ts(0), 1L), (1L, ts(10), 2L), (1L, ts(20), 3L))
      q.processAllAvailable()
      // batch 2: t=5 arrives LATE (before the state's last second, 20);
      // sorting is batch-local so it cannot be reordered — it must be
      // dropped and counted, not folded in as a negative gap. t=30 is a
      // normal third 10 s gap.
      mem.addData((1L, ts(5), 4L), (1L, ts(30), 5L))
      q.processAllAvailable()
    } finally q.stop()
    val last = spark.table("bot_late_out")
      .orderBy(col("nGaps").desc).limit(1).collect().head
    assert(last.getAs[Long]("nGaps") == 3L)
    assert(math.abs(last.getAs[Double]("meanGap") - 10.0) < 1e-9)
    assert(math.abs(last.getAs[Double]("sdGap")) < 1e-9)
    assert(last.getAs[Long]("droppedLate") == 1L)
  }

  test("streaming session stats: final per-user state equals the batch " +
      "events_sessionize rollup (sessions, events, ratio, active " +
      "seconds, max)") {
    runToMemory(Streams.sessionStatsStream(
      Streams.eventsStream(spark, TestSpark.sf0001)).toDF(), "sess_out",
      OutputMode.Update())
    // update mode: the final (largest-nEvents) row per user is the
    // full-stream rollup — including the still-open last session
    val got = spark.table("sess_out")
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("userId")
          .orderBy(col("nEvents").desc)))
      .filter(col("rn") === 1)
      .select("userId", "nSessions", "nEvents", "eventsPerSession",
        "activeSecs", "maxSessionEvents")
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4), r.getLong(5))).toMap
    val want = EventWindows.sessionizeStats(
        Tables.events(spark, TestSpark.sf0001)).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getLong(4), r.getLong(5))).toMap
    assert(got.keySet == want.keySet)
    got.foreach { case (uid, (ns, ne, eps, act, mx)) =>
      val (wns, wne, weps, wact, wmx) = want(uid)
      assert(ns == wns, s"user $uid sessions $ns vs $wns")
      assert(ne == wne, s"user $uid events")
      assert(act == wact, s"user $uid active secs")
      assert(mx == wmx, s"user $uid max session")
      assert(math.abs(eps - weps) < 1e-9, s"user $uid ratio")
    }
  }

  test("sessionStatsStream drops + counts late cross-batch events " +
      "instead of absorbing them into the open session") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val df = mem.toDF().toDF("user_id", "ts", "event_id")
    val q = Streams.sessionStatsStream(df).toDF()
      .writeStream.outputMode(OutputMode.Update()).format("memory")
      .queryName("sess_late_out").start()
    try {
      // batch 1: one session of 3 events, 0..120 s
      mem.addData((1L, ts(0), 1L), (1L, ts(60), 2L), (1L, ts(120), 3L))
      q.processAllAvailable()
      // batch 2: t=30 is LATE (before the open session's last event,
      // 120) — must be dropped and counted, not absorbed; t=180 is a
      // normal 4th event of the same session
      mem.addData((1L, ts(30), 4L), (1L, ts(180), 5L))
      q.processAllAvailable()
    } finally q.stop()
    val last = spark.table("sess_late_out")
      .orderBy(col("nEvents").desc).limit(1).collect().head
    assert(last.getAs[Long]("nSessions") == 1L)
    assert(last.getAs[Long]("nEvents") == 4L)
    assert(last.getAs[Long]("activeSecs") == 180L)
    assert(last.getAs[Long]("droppedLate") == 1L)
  }

  test("flatMapGroupsWithState sessions agree with session_window on closed sessions") {
    runToMemory(Streams.sessionizeWithState(
      Streams.eventsStream(spark, TestSpark.sf0001)).toDF(), "fmgs_out")
    val got = spark.table("fmgs_out")
      .select(col("userId"), col("firstTs").cast("long"), col("nEvents"))
      .as[(Long, Long, Long)].collect().toSet
    val want = EventWindows.sessions(Tables.events(spark, TestSpark.sf0001))
      .select(col("user_id"), col("s_start").cast("long"), col("n"))
      .as[(Long, Long, Long)].collect().toSet
    // append-mode state emits only *closed* sessions (watermark tail stays
    // open) — every emitted session must match the batch result exactly.
    assert(got.nonEmpty)
    assert(got.subsetOf(want), (got -- want).take(3).toString)
  }

  test("RateMonitor captures processedRowsPerSecond like set_speed") {
    val mon = new Streams.RateMonitor
    spark.streams.addListener(mon)
    try {
      runToMemory(Streams.tumblingRate(
        Streams.eventsStream(spark, TestSpark.sf0001)), "rate_out")
      // listener events are delivered asynchronously
      val deadline = System.currentTimeMillis() + 10000
      while (mon.samples.isEmpty && System.currentTimeMillis() < deadline)
        Thread.sleep(100)
      assert(mon.samples.nonEmpty)
      assert(mon.samples.forall(_ >= 0.0))
    } finally spark.streams.removeListener(mon)
  }

  test("foreachBatch micro-batch upload marks the manifest transactionally") {
    import graft.ops.Manifest
    import graft.sink.{LocalFsStore, ManifestStore, Uploader}
    val manifestRoot = tempDir("graft-mstream")
    val storeRoot = tempDir("graft-sstream")
    val checkpoint = tempDir("graft-ckpt")

    val m = Manifest.fromDocuments(spark, TestSpark.sf0001)
    ManifestStore.swap(m, manifestRoot)
    val docs = Tables.documents(spark, TestSpark.sf0001)
      .select(concat(col("source"), lit("/doc_"), col("doc_id"), lit(".txt"))
        .as("path"), col("text"))

    val pendingStream = spark.readStream
      .schema(ManifestStore.read(spark, manifestRoot).schema)
      .parquet(ManifestStore.currentPath(manifestRoot))
      .filter(!col("uploaded"))

    Streams.runMicroBatchUpload(pendingStream, checkpoint, (batch, _) => {
      val withContent = batch.join(docs, Seq("path"))
        .select(col("id"), col("path"), col("text"))
        .as[(Long, String, String)]
        .map { case (id, p, t) => (id, p, t.getBytes("UTF-8")) }
      val results = Uploader.upload(withContent,
        () => new LocalFsStore(storeRoot), 4)
      val current = ManifestStore.read(spark, manifestRoot)
      val marked = Manifest.markUploaded(current,
        results.filter(col("ok")).toDF()).cache()
      marked.count()
      ManifestStore.swap(marked, manifestRoot)
    })

    val after = ManifestStore.read(spark, manifestRoot)
    assert(after.filter(!col("uploaded")).count() == 0)
    assert(after.count() == m.count())
  }

  test("the batch watermark twin BRACKETS the real engine on the same " +
      "disordered replay: twin <= live <= raw per emitted window") {
    import org.apache.spark.sql.types._
    // sf0.01: the twin drops 3,452 of 10,000 rows on this replay, so many
    // drop pairs straddle chunk (micro-batch) boundaries and the LIVE
    // engine's batch-granularity watermark drops a real subset of them
    // (at sf0.001 nearly all disorder is within one chunk and the live
    // side would drop ~nothing — a vacuous bracket)
    val sfDir = "/root/testdata/sf0.01"
    val ev = Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"))
    // Same twin machinery, arrival bucket wider than the whole month: ab
    // is then constant and the order degenerates to (event_id % 7,
    // event_id) — a per-SOURCE backfill replay where each of 7 sources
    // re-streams the full month in order. Bounded bucket-major disorder
    // (the registered key's 30-min form) is invisible to the engine's
    // batch-lagged watermark — measured: zero live drops — so the
    // bracket would be vacuous; the backfill replay makes the engine
    // drop most of residues 1-6 (measured: 500/500 in later batches).
    val bucketSec = 8640000L
    val arrival = ev
      .withColumn("ab", expr(s"unix_micros(ts) div ${bucketSec * 1000000L}"))
      .withColumn("r", pmod(col("event_id"), lit(7)))
      .orderBy("ab", "r", "event_id")
      .select("event_id", "ts")
      .as[(Long, java.sql.Timestamp)].collect()
    // replay it through the REAL file stream source: 10 sequential chunk
    // files, one micro-batch each (maxFilesPerTrigger=1), so Spark's
    // actual watermark machinery sees the same disorder the twin models
    val streamDir = java.nio.file.Paths.get(tempDir("graft-wm-replay"))
    val chunk = math.max(1, (arrival.length + 19) / 20)
    arrival.grouped(chunk).zipWithIndex.foreach { case (rows, i) =>
      val tmp = java.nio.file.Paths.get(tempDir("graft-wm-chunk"))
      rows.toSeq.toDF("event_id", "ts").coalesce(1)
        .write.mode("overwrite").parquet(tmp.toString)
      val part = java.nio.file.Files.list(tmp).toArray.map(_.toString)
        .filter(_.endsWith(".parquet")).head
      val dst = streamDir.resolve(f"chunk-$i%05d.parquet")
      java.nio.file.Files.copy(java.nio.file.Paths.get(part), dst)
      dst.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    val schema = StructType(Seq(StructField("event_id", LongType),
      StructField("ts", TimestampType)))
    val live = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(streamDir.toString)
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 seconds"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("n"))
    runToMemory(live, "wm_replay_out")
    val liveCounts = spark.table("wm_replay_out")
      .select(col("w_start").cast("long"), col("n")).as[(Long, Long)]
      .collect().toMap
    val twin = EventWindows.watermarkLateSurvivors(Tables.events(spark, sfDir),
        arrivalBucketSec = bucketSec)
      .select(col("w_start").cast("long"), col("n")).as[(Long, Long)]
      .collect().toMap
    val raw = EventWindows.tumbling(Tables.events(spark, sfDir))
      .select(col("w_start").cast("long"), col("n")).as[(Long, Long)]
      .collect().toMap
    // Spark's watermark advances per BATCH (max ts of earlier batches);
    // the twin advances per ROW (max ts of strictly-earlier arrivals).
    // A live drop implies window_end <= batch watermark <= row watermark
    // implies a twin drop — so per emitted window: twin <= live <= raw.
    assert(liveCounts.nonEmpty)
    liveCounts.foreach { case (w, n) =>
      assert(twin.getOrElse(w, 0L) <= n, s"window $w: twin ${twin.get(w)} > live $n")
      assert(n <= raw(w), s"window $w: live $n > raw ${raw(w)}")
    }
    // and the live engine must have genuinely dropped something on this
    // replay (else the bracket is vacuous)
    val liveTotal = liveCounts.values.sum
    val rawTotal = liveCounts.keys.toSeq.map(raw).sum
    val twinTotal = liveCounts.keys.toSeq.map(twin.getOrElse(_, 0L)).sum
    assert(liveTotal < rawTotal,
      s"no live drops: live=$liveTotal raw-on-emitted=$rawTotal twin=$twinTotal")
  }

  test("blocked watermark-late survivors equal the single-global-window form " +
      "and actually drop late events") {
    val ev = Tables.events(spark, TestSpark.sf0001)
    // the 30-min arrival buckets give ~1,400 blocks over the month of
    // events, exercising the two-level scan's cross-block prefix handoff
    val blocked = EventWindows.watermarkLateSurvivors(ev)
      .orderBy("w_start").as[(java.sql.Timestamp, Long)].collect().toSeq
    val global = EventWindows.watermarkLateGlobalWindow(ev)
      .orderBy("w_start").as[(java.sql.Timestamp, Long)].collect().toSeq
    assert(blocked == global)
    val total = ev.count()
    val kept = blocked.map(_._2).sum
    assert(kept < total, s"no late events dropped (kept=$kept of $total)")
    assert(kept > 0)
  }
}
