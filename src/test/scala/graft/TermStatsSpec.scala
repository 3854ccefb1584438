package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.TermStats
import graft.ops.TermStats.BpeMode
import graft.model.Tables

class TermStatsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("tfidf on a hand-built corpus: shared word scores 0, rare word wins") {
    // 4 docs; "common" appears in all (idf = ln(1) = 0), "rare" in one.
    val docs = Seq(
      (1L, "common rare rare alpha"),
      (2L, "common alpha beta"),
      (3L, "common beta beta gamma"),
      (4L, "common gamma")).toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))
    val top = TermStats.tfidfTop(docs, 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> (r.getString(2), r.getDouble(5)))
      .toMap
    // doc 1's winner is "rare": tf=2, df=1, score = 2·ln(4)
    assert(top((1L, 1L))._1 == "rare")
    assert(math.abs(top((1L, 1L))._2 - 2 * math.log(4.0)) < 1e-6)
    // "common" scores exactly 0 everywhere it appears in the output
    top.values.filter(_._1 == "common").foreach(v => assert(v._2 == 0.0))
    // every doc got at most k=2 rows, ranks are 1-based and contiguous
    top.keys.groupBy(_._1).values.foreach { ks =>
      assert(ks.map(_._2).toSeq.sorted == (1L to ks.size).toSeq)
    }
  }

  test("unigram logprob on a hand-built corpus matches the closed form " +
      "and orders uniform text above rare text") {
    // vocab: a ×6, b ×2 over 8 tokens → p(a)=3/4, p(b)=1/4
    val docs = Seq(
      (1L, "a a a a"),   // avg lp = ln(3/4)
      (2L, "a a b b")    // avg lp = (2·ln(3/4) + 2·ln(1/4)) / 4
    ).toDF("doc_id", "text").withColumn("n_chars", length(col("text")))
    val got = TermStats.unigramLogprob(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(got(1L)._1 == 4L && got(2L)._1 == 4L)
    assert(math.abs(got(1L)._2 - math.log(0.75)) < 1e-6)
    assert(math.abs(got(2L)._2 - (2 * math.log(0.75) + 2 * math.log(0.25)) / 4) < 1e-6)
    assert(got(1L)._2 > got(2L)._2) // common-word text scores higher
  }

  test("bigram logprob: closed form on a hand corpus, filtered adjacency " +
      "over empty tokens, one-word docs emit no row") {
    val docs = Seq(
      (1L, "a b a b"),  // bigrams (a,b)(b,a)(a,b)
      (2L, "b b a a"),  // bigrams (b,b)(b,a)(a,a)
      (3L, "a  b"),     // double space: filtered adjacency -> (a,b)
      (4L, "solo")      // no bigrams -> absent (but counts toward V)
    ).toDF("doc_id", "text").withColumn("n_chars", length(col("text")))
    val got = TermStats.bigramLogprob(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    // corpus: c(a,b)=3 c(b,a)=2 c(b,b)=1 c(a,a)=1; c(a,.)=4 c(b,.)=3; V=3
    val lpAB = math.log(4.0 / 7); val lpBA = math.log(3.0 / 6)
    val lpBB = math.log(2.0 / 6); val lpAA = math.log(2.0 / 7)
    assert(got.keySet == Set(1L, 2L, 3L))
    assert(got(3L)._1 == 1L && math.abs(got(3L)._2 - lpAB) < 1e-6)
    assert(math.abs(got(1L)._2 - (2 * lpAB + lpBA) / 3) < 1e-6)
    assert(math.abs(got(2L)._2 - (lpBB + lpBA + lpAA) / 3) < 1e-6)
    // same unigram profile, different ORDER: doc 1's frequent bigrams
    // outscore doc 2's rare ones — the signal unigram scoring misses.
    assert(got(1L)._2 > got(2L)._2)
  }

  test("tokenize_vocab_ids assigns alphabetic ids and preserves token order") {
    val docs = Seq(
      (1L, "b a c a"),
      (2L, "c b")).toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))
    // vocab sorted: a=1, b=2, c=3
    val got = TermStats.tokenizeVocabIds(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(got(1L) == ((4L, "2 1 3 1")))
    assert(got(2L) == ((2L, "3 2")))
  }

  test("bm25 on a hand-built corpus matches the closed form; shorter " +
      "docs outrank longer ones at equal tf; non-matching docs are out") {
    val docs = Seq(
      (1L, "q q a b"),
      (2L, "q a"),
      (3L, "a b c"),
      (4L, "q q q a b c d e")).toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))
    val out = TermStats.bm25Rank(docs, Seq("q"), k = 10)
      .collect().map(r => (r.getLong(1), r.getLong(0), r.getDouble(3)))
    // doc 3 has no query term: 3 scored docs only
    assert(out.map(_._1).toSet == Set(1L, 2L, 4L))
    val avgdl = 17.0 / 4
    val idf = math.log((4 - 3 + 0.5) / (3 + 0.5) + 1.0)
    def bm25(tf: Long, dl: Long): Double =
      idf * (tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl))))
    val expect = Map(1L -> bm25(2, 4), 2L -> bm25(1, 2), 4L -> bm25(3, 8))
    out.foreach { case (id, _, s) =>
      assert(math.abs(s - expect(id)) < 1e-6, s"doc $id: $s vs ${expect(id)}")
    }
    // ranks follow the expected scores descending
    val byRank = out.sortBy(_._2).map(_._1).toSeq
    assert(byRank == expect.toSeq.sortBy(-_._2).map(_._1))
  }

  test("bpeTopMerges counts corpus-weighted char bigrams: the hand-built " +
      "winner and its exact count; single-char words contribute nothing") {
    // "abab" ×3 → pairs ab,ba,ab each occurrence: ab=2/word, ba=1/word.
    // "zq" ×1 → zq=1.  "x" is length-1: no pairs.
    val docs = Seq(
      (1L, "abab abab x"),
      (2L, "abab zq x")).toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))
    val got = TermStats.bpeTopMerges(docs, 5).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // counts: ab = 2 per "abab" × 3 occurrences = 6; ba = 3; zq = 1
    assert(got.toList == List((1L, "ab", 6L), (2L, "ba", 3L), (3L, "zq", 1L)),
      got.toList.toString)
    // k caps the output
    assert(TermStats.bpeTopMerges(docs, 2).count() == 2L)
  }

  test("bpeApply consumes every learned merge (pair counts as adjacent " +
      "single-char symbols go to zero) and is lossless (sf0.001)") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val merges = TermStats.bpeMerges(docs, 10)
    assert(merges.size == 10 && merges.forall(_.length == 2))
    val encode = TermStats.greedyEncoder(
      TermStats.charPairs(merges).toArray, BpeMode.Char)
    val enc = corpusWords(docs).map(w => (w, encode(w)))
    // lossless: concatenating a word's symbols reproduces the word
    enc.foreach { case (w, e) => assert(e.replace(" ", "") == w, w) }
    // the defining property of a completed merge round: after applying
    // the table, NO adjacent pair of single-char symbols equals any
    // merged pair — greedy replace consumed every occurrence, and later
    // rounds only create longer symbols, never new single-char
    // adjacencies.
    val leftover = enc.toSeq.flatMap { case (_, e) =>
      e.split(" ").sliding(2).collect {
        case Array(a, b) if a.length == 1 && b.length == 1 => a + b
      }
    }.filter(merges.toSet)
    assert(leftover.isEmpty, s"unconsumed merge-pair adjacencies: $leftover")
    // and the registered key's totals are consistent: symbols never
    // exceed tokens' character count, never undercut token count
    val out = TermStats.bpeApply(docs).collect()
    out.foreach { r =>
      assert(r.getLong(2) <= r.getString(3).length)
      assert(r.getLong(2) >= r.getLong(1))
    }
  }

  test("bpeIds round-trips: symbol ids decode to the merged symbols and " +
      "concatenate back to the filtered word stream (sf0.001)") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val merges = TermStats.bpeMerges(docs, 10)
    // rebuild the id→symbol map exactly as the operator builds sym→id
    val encode = TermStats.greedyEncoder(
      TermStats.charPairs(merges).toArray, BpeMode.Char)
    val symVocab = corpusWords(docs).flatMap(w => encode(w).split(" "))
      .distinct.sorted
    val out = TermStats.bpeIds(docs).collect()
    val decoded = out.map { r =>
      r.getLong(0) -> r.getString(2).split(" ")
        .map(i => symVocab(i.toInt - 1)).mkString
    }.toMap
    val want = docs.select(col("doc_id"),
        concat_ws("", filter(split(col("text"), " "), w => length(w) > 0)))
      .collect().map(r => r.getLong(0) -> r.getString(1))
      .filter(_._2.nonEmpty).toMap
    assert(decoded == want)
    // and the id count equals bpeApply's symbol count per doc
    val nsym = TermStats.bpeApply(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    out.foreach(r => assert(r.getLong(1) == nsym(r.getLong(0))))
  }

  test("bpeLearnIter recounts after every merge: each round's winner is " +
      "the argmax over the PREVIOUS round's merged stream, and a learned " +
      "multi-char symbol itself merges") {
    // crafted corpus: "the" dominates. Round 1 ties (t,h)=(h,e)=3 break
    // lexicographically to (h,e); round 2's winner (t,"he") pairs the
    // LEARNED symbol — structurally inexpressible in the r8
    // single-char-only encoder, the exact gap this closes.
    val tiny = Seq((1L, "the the the")).toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))
    assert(TermStats.bpeLearnIter(tiny, 2) ==
      Seq(("h", "e", 3L), ("t", "he", 3L)))
    // real corpus: re-derive every round's argmax INDEPENDENTLY — apply
    // the first r merges with the greedy encoder (a different code
    // path from the training loop's double-space accumulator), recount
    // adjacent pairs, and the argmax must be exactly the recorded
    // (lhs, rhs, n).
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val learned = TermStats.bpeLearnIter(docs, 4)
    assert(learned.size == 4)
    val freq = docs.select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    for (r <- 0 until 4) {
      val prefix = learned.take(r).map { case (a, b, _) => (a, b) }
      val encode = TermStats.greedyEncoder(prefix.toArray, BpeMode.Char)
      val top = freq.toSeq.map { case (w, c) => (c, encode(w)) }
        .toDF("cnt", "enc")
        .select(col("cnt"), split(col("enc"), " ").as("s"))
        .filter(size(col("s")) >= 2)
        .select(col("cnt"), explode(transform(
          sequence(lit(1), size(col("s")) - 1),
          i => struct(element_at(col("s"), i).as("a"),
            element_at(col("s"), i + 1).as("b")))).as("p"))
        .groupBy(col("p.a").as("lhs"), col("p.b").as("rhs"))
        .agg(sum(col("cnt")).as("n"))
        .orderBy(col("n").desc, col("lhs"), col("rhs"))
        .limit(1).collect().head
      assert((top.getString(0), top.getString(1), top.getLong(2))
        == learned(r), s"round ${r + 1}")
    }
    // lossless at full depth: applying all learned merges and deleting
    // spaces reproduces every word
    val encode = TermStats.greedyEncoder(
      learned.map { case (a, b, _) => (a, b) }.toArray, BpeMode.Char)
    corpusWords(docs).foreach(w => assert(encode(w).replace(" ", "") == w, w))
  }

  test("bpeGreedyEncode equals the literal-replace reference on the " +
      "learned table, the apply reassembles it per doc, and both " +
      "bpeLearnAuto routes are bit-identical to the sequential loop") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    // both routes match the recount at production settings (rounds=10):
    // the distributed incremental loop (dial forced to 1) — its
    // maintained P frame never drifts from the recount it replaces —
    // and the driver-local loop (dial forced open), which the default
    // dial also picks on this model-sized vocab
    val seqM = TermStats.bpeLearnIter(docs, 10)
    assert(TermStats.bpeLearnAuto(docs, 10, driverMaxWords = 1L) == seqM)
    assert(TermStats.bpeLearnAuto(docs, 10,
      driverMaxWords = Long.MaxValue) == seqM)
    assert(TermStats.bpeLearnAuto(docs, 10) == seqM)
    // the kernel equals the literal-replace reference on every corpus
    // word, and the apply reassembles those encodings per doc in token
    // order (empty docs emit no row)
    val pairs = seqM.map { case (a, b, _) => (a, b) }
    val encode = TermStats.greedyEncoder(pairs.toArray, BpeMode.Char)
    corpusWords(docs).foreach(w =>
      assert(encode(w) == refStringEncode(w, pairs), w))
    val want = docs.select("doc_id", "text").collect().toSeq.flatMap { r =>
      val ws = r.getString(1).split(" ").filter(_.nonEmpty)
      val es = ws.map(refStringEncode(_, pairs))
      if (ws.isEmpty) None
      else Some((r.getLong(0), ws.length.toLong,
        es.map(_.split(" ").length.toLong).sum, es.mkString(" ")))
    }.sortBy(_._1)
    val got = TermStats.bpeApplyPairs(docs, pairs, BpeMode.Char).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSeq
    assert(got == want)
    // supplementary chars: initial symbols are CODE POINTS (the
    // trainers' regexp_replace("(.)") consumes a surrogate pair whole)
    // — a code-UNIT split would emit 4 symbols here
    assert(TermStats.bpeGreedyEncode("a😀b", Array.empty, 0) == "a 😀 b")
  }

  test("ids_unk: every enriched doc counts at least one UNK, the id " +
      "stream marks exactly n_unk zeros, and an unenriched batch has " +
      "zero UNKs (held-out words were in the shipped vocabulary)") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val pairs = TermStats.bpeLearnIter(docs, 10)
      .map { case (a, b, _) => (a, b) }
    // the frozen vocabulary half, exactly as the artifact persists it
    val vocab = TermStats.bpeVocab(docs, pairs, BpeMode.Char)
      .select("sym", "id")
    val out = TermStats.bpeIdsUnk(docs, pairs, vocab).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.nonEmpty && out.forall(_._1 % 7 == 0))
    out.foreach { case (id, nSym, nUnk, ids) =>
      val toks = ids.split(" ")
      assert(toks.length == nSym, s"doc $id symbol count")
      // the ø-bearing token guarantees at least one OOV symbol, and
      // the zeros in the stream are exactly the counted UNKs
      assert(nUnk >= 1, s"doc $id must hit the unseen token")
      assert(toks.count(_ == "0") == nUnk, s"doc $id unk marks")
      // real ids stay 1-based so 0 is unambiguous
      assert(toks.forall(t => t.toLong >= 0L), s"doc $id id range")
    }
    // no enrichment → the batch's words all appeared in the original
    // corpus, so every symbol resolves and nothing maps to UNK
    val clean = TermStats.bpeIdsUnk(docs, pairs, vocab, suffix = "")
      .collect()
    assert(clean.nonEmpty && clean.forall(_.getLong(2) == 0L))
  }

  test("bpeDecode: decode ∘ encode is the identity on the unenriched " +
      "held split; the enriched batch surfaces U+FFFD at exactly the " +
      "OOV symbols and n_unk matches bpeIdsUnk per doc") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val pairs = TermStats.bpeLearnIter(docs, 10)
      .map { case (a, b, _) => (a, b) }
    val vocabDf = TermStats.bpeVocab(docs, pairs, BpeMode.Char)
      .select("sym", "id")
    val vocabSet = vocabDf.collect().map(_.getString(0)).toSet
    val src = docs.filter(col("doc_id") % 7 === 0)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    // identity: in-vocab ids decode back to the source text verbatim
    val dec = TermStats.bpeDecode(docs, pairs, vocabDf, BpeMode.Char, "")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(dec.nonEmpty && dec.map(_._1).toSet == src.keySet)
    dec.foreach { case (id, nUnk, text) =>
      assert(nUnk == 0L, s"doc $id must be fully in-vocab")
      assert(text == src(id), s"doc $id decode identity")
    }
    // enriched: expected decode replays the greedy encode driver-side
    // and replaces exactly the out-of-vocabulary symbols with U+FFFD
    val fused = pairs.map { case (a, b) => (a, b, a + b) }.toArray
    val maxSymLen = fused.foldLeft(0)((m, f) => math.max(m, f._3.length))
    def decodeWord(w: String): (Long, String) = {
      val syms = TermStats.bpeGreedyEncode(w, fused, maxSymLen).split(" ")
      (syms.count(s => !vocabSet(s)).toLong,
        syms.map(s => if (vocabSet(s)) s else "\uFFFD").mkString(""))
    }
    val unkCounts = TermStats.bpeIdsUnk(docs, pairs, vocabDf).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val decU = TermStats.bpeDecode(docs, pairs, vocabDf, BpeMode.Char,
        TermStats.unkSuffix).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(decU.nonEmpty)
    decU.foreach { case (id, nUnk, text) =>
      val enriched = src(id) + TermStats.unkSuffix
      val (wantUnks, wantText) = enriched.split(" ")
        .filter(_.nonEmpty).map(decodeWord)
        .foldLeft((0L, Vector.empty[String])) {
          case ((n, ws), (nu, dw)) => (n + nu, ws :+ dw)
        } match { case (n, ws) => (n, ws.mkString(" ")) }
      assert(nUnk == wantUnks && nUnk >= 1L, s"doc $id unk count")
      assert(nUnk == unkCounts(id), s"doc $id vs bpeIdsUnk")
      assert(text == wantText, s"doc $id enriched decode")
      assert(text.contains("\uFFFD"), s"doc $id must surface the UNK")
    }
  }

  test("end-of-word-marker mode (</w>): trainers bit-identical across " +
      "the family, every encoded word is marker-terminated exactly " +
      "once (losslessly), the scaled greedy encoder agrees, and decode " +
      "reconstructs the EXACT text — spaces included — from the flat " +
      "symbol stream alone, through the packed tensors") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val seqM = TermStats.bpeLearnIter(docs, 10, eow = true)
    assert(TermStats.bpeLearnAuto(docs, 10, driverMaxWords = 1L,
      eow = true) == seqM)
    assert(TermStats.bpeLearnAuto(docs, 10, driverMaxWords = Long.MaxValue,
      eow = true) == seqM)
    assert(TermStats.bpeLearnAuto(docs, 10, eow = true) == seqM)
    // marker mode must actually CHANGE the model — guards against the
    // flag being a silent no-op (the non-marker family's own equality
    // suite is unchanged above)
    assert(seqM != TermStats.bpeLearnIter(docs, 10))
    val pairs = seqM.map { case (a, b, _) => (a, b) }
    // encode property: exactly the final symbol carries the marker,
    // and the symbol concatenation is word + marker (lossless)
    val enc = corpusWords(docs).take(200)
      .map(w => (w, refStringEncode(w, pairs, TermStats.EowMarker)))
    assert(enc.nonEmpty)
    enc.foreach { case (w, e) =>
      val syms = e.split(" ")
      assert(syms.last.endsWith(TermStats.EowMarker), s"$w: $e")
      assert(syms.init.forall(!_.contains(TermStats.EowMarker)), s"$w: $e")
      assert(syms.mkString("") == w + TermStats.EowMarker, s"$w: $e")
    }
    // the greedy encoder in marker mode == the marker-mode reference
    val fused = pairs.map { case (a, b) => (a, b, a + b) }.toArray
    val maxLen = fused.foldLeft(0)((m, f) => math.max(m, f._3.length))
    enc.foreach { case (w, e) =>
      assert(TermStats.bpeGreedyEncode(w, fused, maxLen,
        eowMarker = TermStats.EowMarker) == e, w)
    }
    // decode with IN-BAND boundaries is the exact text, spaces included
    val vocabDf = TermStats.bpeVocab(docs, pairs, BpeMode.Eow)
      .select("sym", "id")
    val src = docs.filter(col("doc_id") % 7 === 0)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    val dec = TermStats.bpeDecode(docs, pairs, vocabDf, BpeMode.Eow, "")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(dec.nonEmpty && dec.length == src.size)
    dec.foreach { case (id, nUnk, text) =>
      assert(nUnk == 0L, s"doc $id")
      assert(text == src(id), s"doc $id")
    }
    // ...and through the packed tensors: the full circle closes on the
    // exact source text
    val rt = TermStats.decodeRoundtrip(docs, pairs, vocabDf, BpeMode.Eow, "")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
    assert(rt.map(_._3).toSeq == src.toSeq.sortBy(_._1).map(_._2))
    assert(rt.forall(_._2 == 0L))
    // enriched batch: OOV symbols surface as U+FFFD (the OOV word's
    // boundary is genuinely unknowable — its marker rides the lost
    // symbol), the known prefix survives intact, and every enriched
    // doc counts at least one UNK
    val decU = TermStats.bpeDecode(docs, pairs, vocabDf, BpeMode.Eow,
      TermStats.unkSuffix).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(decU.nonEmpty && decU.forall(_._2 >= 1L))
    decU.foreach { case (id, _, text) =>
      assert(text.startsWith(src(id)), s"doc $id")
      assert(text.contains("\uFFFD"), s"doc $id")
    }
  }

  test("byte-level mode (GPT-2 form): trainers bit-identical across " +
      "the family over the byte corpus, encode is lossless in " +
      "byte-char space, the scaled greedy encoder agrees, the " +
      "vocabulary is the closed 256+merges set, and decode round-trips " +
      "the ENRICHED text — the ø char-level mode can only UNK — " +
      "verbatim with zero UNKs, through the packed tensors too") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val bdocs = TermStats.byteDocs(docs)
    // trainer bit-identity in byte mode: byte mode is a corpus
    // transform, so the reference and both routes take the SAME frame
    val seqM = TermStats.bpeLearnIter(bdocs, 10)
    assert(TermStats.bpeLearnAuto(bdocs, 10, driverMaxWords = 1L) == seqM)
    assert(TermStats.bpeLearnAuto(bdocs, 10,
      driverMaxWords = Long.MaxValue) == seqM)
    assert(TermStats.bpeLearnAuto(bdocs, 10) == seqM)
    // byte mode genuinely changes the model (operands live in the
    // remapped alphabet, disjoint from the char-mode operands)
    val baseM = TermStats.bpeLearnIter(docs, 10)
    assert(seqM != baseM)
    assert(seqM.forall { case (a, b, _) =>
      (a + b).forall(c => c >= 0x100 && c <= 0x1ff) })
    val pairs = seqM.map { case (a, b, _) => (a, b) }
    // encode property over byte words: lossless in byte-char space,
    // and the greedy encoder is bit-identical to the reference
    val enc = corpusWords(bdocs).take(200)
      .map(w => (w, refStringEncode(w, pairs)))
    assert(enc.nonEmpty)
    val fused = pairs.map { case (a, b) => (a, b, a + b) }.toArray
    val maxLen = fused.foldLeft(0)((m, f) => math.max(m, f._3.length))
    enc.foreach { case (w, e) =>
      assert(e.split(" ").mkString("") == w, s"$w: $e")
      assert(TermStats.bpeGreedyEncode(w, fused, maxLen) == e, w)
    }
    // the CLOSED vocabulary: exactly 256 base byte-chars plus one row
    // per distinct fused symbol, and every emitted symbol is a member
    val vocab = TermStats.bpeVocab(docs, pairs, BpeMode.Byte)
    val vrows = vocab.collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2)))
    val fusedSet = pairs.map { case (a, b) => a + b }.distinct
    assert(vrows.length == 256 + fusedSet.size)
    assert(vrows.map(_._1).toSeq == (1L to vrows.length).toSeq,
      "dense 1-based ids")
    val vset = vrows.map(_._2).toSet
    enc.foreach { case (w, e) =>
      e.split(" ").foreach(s => assert(vset.contains(s), s"$w: $s")) }
    // decode round-trips the ENRICHED held split verbatim: the ø in
    // the suffix — guaranteed-OOV for char mode — decomposes into
    // base byte tokens here, so n_unk == 0 and the text is EXACT.
    // r15: the byte suffix also carries a double space, a tab, fused
    // punctuation, and a newline — the whitespace-run content the
    // GPT-2 pre-tokenizer must round-trip that the r14 single-space
    // convention could not.
    val vocabDf = vocab.select("sym", "id")
    val src = docs.filter(col("doc_id") % 7 === 0)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1) + TermStats.byteSuffix))
      .toMap
    val dec = TermStats.bpeDecode(docs, pairs, vocabDf, BpeMode.Byte,
      TermStats.byteSuffix).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(dec.nonEmpty && dec.length == src.size)
    dec.foreach { case (id, nUnk, text) =>
      assert(nUnk == 0L, s"doc $id")
      assert(text == src(id), s"doc $id")
    }
    // ...and the full circle through the packed tensors
    val rt = TermStats.decodeRoundtrip(docs, pairs, vocabDf, BpeMode.Byte,
        TermStats.byteSuffix)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
    assert(rt.map(_._3).toSeq == src.toSeq.sortBy(_._1).map(_._2))
    assert(rt.forall(_._2 == 0L))
  }

  test("byte mode on arbitrary multilingual text: emoji (non-BMP), " +
      "CJK, combining marks, and mixed scripts — text the char-level " +
      "mode would shred into UNKs — round-trip VERBATIM through a " +
      "tokenizer trained on plain ASCII, because every byte decomposes " +
      "into always-in-vocabulary base tokens") {
    // train on ASCII-only docs; decode a held doc (doc_id % 7 == 0)
    // full of text the training corpus never saw
    val wild = "café élève 🦜 parrot " +
      "中文分词 🚀🔥 " +
      "Å ring naïve øre"
    val docs = Seq(
      (0L, wild),
      (1L, "the quick brown fox jumps over the lazy dog the the"),
      (2L, "pack my box with five dozen liquor jugs and the fox"))
      .toDF("doc_id", "text")
    val train = docs.filter(col("doc_id") > 0)
    // the executor-side remap (the streaming encoder's) is
    // bit-identical to the expression form on exactly this wild text
    docs.select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0).distinct()
      .select(col("word"), TermStats.toByteChars(col("word")).as("b"))
      .collect().foreach(r =>
        assert(TermStats.toByteCharsLocal(r.getString(0))
          == r.getString(1), r.getString(0)))
    val merges = TermStats.bpeLearnIter(TermStats.byteDocs(train), 10)
      .map { case (a, b, _) => (a, b) }
    assert(merges.nonEmpty)
    val vocabDf = TermStats.bpeVocab(train, merges, BpeMode.Byte)
      .select("sym", "id")
    // suffix = "" — the wild doc is enrichment enough
    val dec = TermStats.bpeDecode(docs, merges, vocabDf, BpeMode.Byte, "")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(dec.toSeq == Seq((0L, 0L, wild)))
    val rt = TermStats.decodeRoundtrip(docs, merges, vocabDf,
      BpeMode.Byte, "").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
    assert(rt.toSeq == Seq((1L, 0L, wild)))
  }

  test("GPT-2 pre-tokenizer (r15; contractions r16): whitespace RUNS, " +
      "tabs, newlines, punctuation, and contractions round-trip " +
      "VERBATIM through the byte circle — and the local pre-tokenizer " +
      "is bit-identical to the expression split, tiling every input " +
      "gap-free, with the contraction branch splitting don't/we're/" +
      "I'll the published way (and NOT after a space or in uppercase)") {
    val nasty = "  leading double\tspace,runs!!  and\n\nnewlines; " +
      "x=1+2 (параграф)…  \t trailing  don't we're I'll it's DON'T 'd "
    // the contraction branch fires exactly as published: bare literal,
    // leftmost-first ahead of the runs; no attached leading space
    // (the apostrophe after a space rides the punctuation branch) and
    // lowercase-only (DON'T splits as runs + punctuation)
    assert(TermStats.preTokensLocal("don't").toList ==
      List("don", "'t"))
    assert(TermStats.preTokensLocal("we're I'll it's").toList ==
      List("we", "'re", " I", "'ll", " it", "'s"))
    assert(TermStats.preTokensLocal("a 's").toList ==
      List("a", " '", "s"), "space+apostrophe takes the punct branch")
    assert(TermStats.preTokensLocal("DON'T").toList ==
      List("DON", "'", "T"), "uppercase stays out, the GPT-2 quirk")
    assert(TermStats.preTokensLocal("don'tville").toList ==
      List("don", "'t", "ville"),
      "the literal wins even mid-word, as published")
    val docs = Seq(
      (0L, nasty),
      (1L, "the quick brown fox jumps over the lazy dog the the"),
      (2L, "pack my box with five dozen liquor jugs and the fox"))
      .toDF("doc_id", "text")
    // local pre-tokenizer ≡ expression pre-tokenizer, and the tiles
    // concatenate back to the exact input (gap-free property)
    val exprToks = docs.select(col("doc_id"),
        regexp_extract_all(col("text"), lit(TermStats.PreTokPattern),
          lit(0)).as("ws"))
      .collect().map(r => (r.getLong(0), r.getSeq[String](1).toList))
      .toMap
    for ((id, text) <- Seq((0L, nasty)) ++ docs.collect().map(r =>
        (r.getLong(0), r.getString(1)))) {
      val local = TermStats.preTokensLocal(text).toList
      assert(local == exprToks(id), s"doc $id")
      assert(local.mkString("") == text, s"doc $id tiles gap-free")
    }
    // train on the plain docs only; the nasty doc is held out and
    // must come back exactly — every run of spaces included
    val train = docs.filter(col("doc_id") > 0)
    val merges = TermStats.bpeLearnIter(TermStats.byteDocs(train), 10)
      .map { case (a, b, _) => (a, b) }
    val vocabDf = TermStats.bpeVocab(train, merges, BpeMode.Byte)
      .select("sym", "id")
    val dec = TermStats.bpeDecode(docs, merges, vocabDf, BpeMode.Byte, "")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(dec.toSeq == Seq((0L, 0L, nasty)))
    val rt = TermStats.decodeRoundtrip(docs, merges, vocabDf,
      BpeMode.Byte, "").collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getString(3)))
    assert(rt.toSeq == Seq((1L, 0L, nasty)))
  }

  test("tokenizer interchange (r15): the GPT-2 file pair (merges.txt " +
      "+ encoder.json) round-trips bit-identically — loaded merges " +
      "and vocab equal the source, and the decode circle through the " +
      "EXTERNAL format alone reconstructs the text") {
    val docs = Seq(
      (0L, "weird  spacing\tand ø tokens — held out"),
      (1L, "the quick brown fox jumps over the lazy dog the the"),
      (2L, "pack my box with five dozen liquor jugs and the fox"))
      .toDF("doc_id", "text")
    val train = docs.filter(col("doc_id") > 0)
    val merges = TermStats.bpeLearnIter(TermStats.byteDocs(train), 10)
      .map { case (a, b, _) => (a, b) }
    val vocabDf = TermStats.bpeVocab(train, merges, BpeMode.Byte)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-interchange-spec").toString
    try {
      TermStats.writeTokenizerInterchange(spark, merges,
        vocabDf.select("sym", "id"), dir, BpeMode.Byte)
      // identity: parsed files == source model, ranks and ids intact
      assert(TermStats.loadInterchangeMerges(spark, dir, BpeMode.Byte)
        == merges)
      val v0 = vocabDf.select("sym", "id").collect()
        .map(r => (r.getString(0), r.getLong(1))).sortBy(_._2)
      val v1 = TermStats.loadInterchangeVocab(spark, dir, BpeMode.Byte)
        .collect()
        .map(r => (r.getString(0), r.getLong(1))).sortBy(_._2)
      assert(v1.toSeq == v0.toSeq)
      // the circle through the external format alone
      val dec = TermStats.bpeDecode(docs,
        TermStats.loadInterchangeMerges(spark, dir, BpeMode.Byte),
        TermStats.loadInterchangeVocab(spark, dir, BpeMode.Byte),
        BpeMode.Byte, "")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      assert(dec.toSeq ==
        Seq((0L, 0L, "weird  spacing\tand ø tokens — held out")))
      // r16 ALPHABET compatibility (ADVICE r15 #4): the files spell
      // symbols in GPT-2's own bytes_to_unicode image, so a stock
      // external loader can invert every symbol to bytes — printable
      // bytes are themselves ("e" is `e`), the space device is Ġ.
      // (read identity-mapped: the char mode's spelling is the raw file)
      val rawVocab = TermStats
        .loadInterchangeVocab(spark, dir, BpeMode.Char)
        .collect().map(_.getString(0))
      assert(rawVocab.forall(_.forall(TermStats.Gpt2CharToByte.contains)),
        "every exported symbol char must sit in the bytes_to_unicode image")
      assert(rawVocab.contains("e") && rawVocab.contains("Ġ"),
        "printable bytes spell as themselves; space spells as Ġ")
    } finally graft.ops.SessionCleanup.deleteRecursively(dir)
  }

  test("eow tokenizer interchange (r16, VERDICT r15 #4): the `</w>` " +
      "artifact exports/loads through the same file pair identity-" +
      "mapped — merges, vocab, and the decode circle all match the " +
      "in-session model; '#'-initial DATA lines survive (only the " +
      "#version header is skipped); a symbol carrying a space is " +
      "rejected at the write boundary; a missing header is rejected " +
      "at the read boundary") {
    val docs = Seq(
      (0L, "held out words entirely"),
      (1L, "the quick brown fox jumps over the lazy dog the the"),
      (2L, "pack my box with five dozen liquor jugs and the fox"))
      .toDF("doc_id", "text")
    val train = docs.filter(col("doc_id") > 0)
    val merges = TermStats.bpeLearnIter(train, 10, eow = true)
      .map { case (a, b, _) => (a, b) }
    val vocabDf = TermStats.bpeVocab(train, merges, BpeMode.Eow)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-interchange-eow").toString
    try {
      // `</w>`-suffixed symbols contain no space/newline BY
      // CONSTRUCTION (words are space-split before the marker is
      // appended) — and the writer now ASSERTS it at the boundary
      TermStats.writeTokenizerInterchange(spark, merges,
        vocabDf.select("sym", "id"), dir, BpeMode.Eow)
      assert(TermStats.loadInterchangeMerges(spark, dir,
        BpeMode.Eow) == merges)
      val v0 = vocabDf.select("sym", "id").collect()
        .map(r => (r.getString(0), r.getLong(1))).sortBy(_._2)
      val v1 = TermStats.loadInterchangeVocab(spark, dir,
          BpeMode.Eow).collect()
        .map(r => (r.getString(0), r.getLong(1))).sortBy(_._2)
      assert(v1.toSeq == v0.toSeq)
      assert(v1.exists(_._1.endsWith("</w>")),
        "the marker shape must survive the file pair")
      // the decode circle through the EXTERNAL format equals the
      // in-session artifacts' decode
      val viaFiles = TermStats.bpeDecode(docs,
        TermStats.loadInterchangeMerges(spark, dir, BpeMode.Eow),
        TermStats.loadInterchangeVocab(spark, dir, BpeMode.Eow),
        BpeMode.Eow, "")
        .collect().map(_.toString).toSeq
      val inSession = TermStats.bpeDecode(docs, merges,
        vocabDf.select("sym", "id"), BpeMode.Eow, "")
        .collect().map(_.toString).toSeq
      assert(viaFiles.nonEmpty && viaFiles == inSession)
      // '#'-initial data lines parse (only the header is skipped)
      val dir2 = java.nio.file.Files
        .createTempDirectory("graft-interchange-hash").toString
      try {
        val hashMerges = Seq(("#", "!!"), ("a", "b"))
        TermStats.writeTokenizerInterchange(spark, hashMerges,
          Seq(("#!!", 0L), ("ab", 1L)).toDF("sym", "id"), dir2,
          BpeMode.Eow)
        assert(TermStats.loadInterchangeMerges(spark, dir2,
          BpeMode.Eow) == hashMerges)
        // a space inside a symbol would break the line format — loud
        intercept[IllegalArgumentException] {
          TermStats.writeTokenizerInterchange(spark, Seq(("a b", "c")),
            Seq(("a bc", 0L)).toDF("sym", "id"), dir2, BpeMode.Eow)
        }
        // a merges.txt without the #version header is rejected
        java.nio.file.Files.deleteIfExists(
          java.nio.file.Paths.get(s"$dir2/.merges.txt.crc"))
        java.nio.file.Files.write(
          java.nio.file.Paths.get(s"$dir2/merges.txt"),
          "a b\n".getBytes("UTF-8"))
        val e = intercept[IllegalArgumentException] {
          TermStats.loadInterchangeMerges(spark, dir2, BpeMode.Eow)
        }
        assert(e.getMessage.contains("#version"))
      } finally graft.ops.SessionCleanup.deleteRecursively(dir2)
    } finally graft.ops.SessionCleanup.deleteRecursively(dir)
  }

  test("loadInterchangeVocab (r16, VERDICT r15 #2): every corruption " +
      "shape fails with a NAMED error — EVERY strict prefix of a valid " +
      "file (truncation anywhere: mid-string, mid-escape, missing id, " +
      "missing brace), non-numeric ids, a missing colon, trailing " +
      "garbage, unsupported escapes, the empty object — never a bare " +
      "index/number exception; the intact file still loads") {
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    val merges = TermStats.bpeLearnIter(TermStats.byteDocs(docs), 6)
      .map { case (a, b, _) => (a, b) }
    val vocabDf = TermStats.bpeVocab(docs, merges, BpeMode.Byte)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-interchange-corrupt").toString
    try {
      TermStats.writeTokenizerInterchange(spark, merges,
        vocabDf.select("sym", "id"), dir, BpeMode.Byte)
      val enc = java.nio.file.Paths.get(s"$dir/encoder.json")
      val valid = new String(java.nio.file.Files.readAllBytes(enc), "UTF-8")
      def put(content: String): Unit = {
        // drop the Hadoop LocalFileSystem checksum sidecar: the loader
        // reads through the FS API, and a direct rewrite would
        // otherwise fail the stale .crc instead of the scanner
        java.nio.file.Files.deleteIfExists(
          java.nio.file.Paths.get(s"$dir/.encoder.json.crc"))
        java.nio.file.Files.write(enc, content.getBytes("UTF-8"))
      }
      def mustFail(content: String, clue: String): Unit = {
        put(content)
        val e = intercept[IllegalArgumentException] {
          TermStats.loadInterchangeVocab(spark, dir, BpeMode.Byte)
        }
        assert(e.getMessage.contains("encoder.json malformed"),
          s"$clue: got '${e.getMessage}'")
      }
      val t = valid.trim
      assert(t.nonEmpty && t.last == '}')
      // truncation PROPERTY: a strict prefix is never a complete flat
      // object — the object-level '}' is the final char (a '}' can
      // appear INSIDE a quoted GPT-2 spelling, but the scanner is in
      // string context there), so EVERY cut point must fail loudly,
      // whatever token it lands inside.
      for (k <- 0 until t.length)
        mustFail(t.substring(0, k), s"prefix of length $k")
      mustFail(t.replaceFirst(""":\s*\d+""", ": abc"), "non-numeric id")
      mustFail(t.replaceFirst(""": """, " "), "missing colon")
      mustFail(t + " x", "trailing garbage")
      mustFail(t.replaceFirst("""\\u""", """\\x"""), "unsupported escape")
      mustFail("{}", "empty vocabulary object")
      put(valid)
      assert(TermStats.loadInterchangeVocab(spark, dir, BpeMode.Byte)
        .count() ==
        vocabDf.count())
    } finally graft.ops.SessionCleanup.deleteRecursively(dir)
  }

  test("inferencePrep: packed sequences carry exactly the bpeIdsUnk " +
      "symbol stream in doc order (UNK zeros included), fixed-64 " +
      "arrays, only the final sequence pads") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val pairs = TermStats.bpeLearnIter(docs, 10)
      .map { case (a, b, _) => (a, b) }
    val vocab = TermStats.bpeVocab(docs, pairs, BpeMode.Char)
      .select("sym", "id")
    // the flat reference stream: per-doc UNK-resolved ids in doc
    // order, each doc wrapped in the r11 special-token contract (BOS
    // prepended, EOS appended, vocab ids shifted past the reserved
    // range, UNK 0 NOT shifted — it stays the pad/ignore sentinel)
    val flat = TermStats.bpeIdsUnk(docs, pairs, vocab).collect()
      .sortBy(_.getLong(0))
      .flatMap(r => 1L +: r.getString(3).split(" ")
        .map(_.toLong).map(x => if (x == 0L) 0L else x + 2L) :+ 2L)
      .toSeq
    val nUnkTotal = TermStats.bpeIdsUnk(docs, pairs, vocab).collect()
      .map(_.getLong(2)).sum
    val seqs = TermStats.inferencePrep(docs, pairs, vocab).collect()
      .sortBy(_.getLong(0))
      .map(r => (r.getLong(2), r.getSeq[Long](3), r.getSeq[Long](5)))
    seqs.foreach { case (_, ids, mask) =>
      assert(ids.size == 64 && mask.size == 64)
    }
    // real positions re-concatenate to the reference stream exactly
    val packed = seqs.flatMap { case (n, ids, _) => ids.take(n.toInt) }
    assert(packed.toSeq == flat)
    // the batch's UNKs all survive packing as in-stream zeros
    assert(packed.count(_ == 0L).toLong == nUnkTotal && nUnkTotal >= 1)
    // only the final sequence pads
    seqs.dropRight(1).foreach { case (n, _, _) => assert(n == 64L) }
  }

  test("UNK-faithful pack (r12): 0 appears only as tail padding, UNKs " +
      "keep the reserved id 3 in-window, labels carry UNK targets but " +
      "the loss mask excludes them, and unpack reproduces the UNK-" +
      "resolved stream zeros-in-place (which the base unpack drops)") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val pairs = TermStats.bpeLearnIter(docs, 10)
      .map { case (a, b, _) => (a, b) }
    val vocabDf = TermStats.bpeVocab(docs, pairs, BpeMode.Char)
      .select("sym", "id")
    // the reference stream: per-doc UNK-resolved raw ids (0 at OOV)
    val flat = TermStats.bpeIdsUnk(docs, pairs, vocabDf).collect()
      .sortBy(_.getLong(0))
      .map(r => (r.getLong(0), r.getString(3).split(" ").map(_.toLong).toSeq))
    val nUnkTotal = flat.map(_._2.count(_ == 0L)).sum
    assert(nUnkTotal >= 1)
    val seqs = TermStats.inferencePrepUnk(docs, pairs, vocabDf,
        BpeMode.Char, TermStats.unkSuffix).collect()
      .sortBy(_.getLong(0))
      .map(r => (r.getLong(2), r.getSeq[Long](3), r.getSeq[Long](5),
        r.getSeq[Long](7)))
    // layout: in-window positions are never 0 (padding is tail-only,
    // UNK is 3); the packed stream re-concatenates to BOS ++ (0→3,
    // x→x+3) ++ EOS of the reference stream
    val packed = seqs.flatMap { case (n, ids, _, _) => ids.take(n.toInt) }
    assert(!packed.contains(0L), "no in-window zeros under UNK-faithful")
    val wantPacked = flat.flatMap { case (_, ids) =>
      1L +: ids.map(x => if (x == 0L) 3L else x + 3L) :+ 2L }.toSeq
    assert(packed.toSeq == wantPacked)
    assert(packed.count(_ == 3L).toLong == nUnkTotal)
    // tail padding is zeros on the final sequence only
    seqs.dropRight(1).foreach { case (n, _, _, _) => assert(n == 64L) }
    val (lastN, lastIds, _, _) = seqs.last
    assert(lastIds.drop(lastN.toInt).forall(_ == 0L))
    // supervision: mask is 1 exactly where the label is a real target
    // (not 0 = pad/tail/BOS-target, not 3 = UNK target) — and UNK
    // targets DO occur, so the exclusion is load-bearing
    var unkTargets = 0
    seqs.foreach { case (_, _, mask, labels) =>
      labels.zip(mask).foreach { case (l, m) =>
        assert(m == (if (l != 0L && l != 3L) 1L else 0L), s"label $l mask $m")
        if (l == 3L) unkTargets += 1
      }
    }
    assert(unkTargets >= 1, "fixture must exercise an UNK target")
    // unpack: the tensors alone reproduce the reference stream with
    // its zeros IN PLACE — and the base-contract unpack of the SAME
    // data (packed without the reserved id) would lose exactly the
    // UNK positions, which is the gap this layout closes
    val unpacked = graft.ops.Sampling.unpackSequences(
        TermStats.inferencePrepUnk(docs, pairs, vocabDf, BpeMode.Char,
          TermStats.unkSuffix),
        unkFaithful = true)
      .collect().map(r => (r.getLong(0),
        r.getString(2).split(" ").map(_.toLong).toSeq))
    assert(unpacked.map(_._2).toSeq == flat.map(_._2).toSeq)
    assert(unpacked.flatMap(_._2).count(_ == 0L).toLong == nUnkTotal)
    val baseUnpacked = graft.ops.Sampling.unpackSequences(
        TermStats.inferencePrep(docs, pairs, vocabDf))
      .collect().flatMap(r => r.getString(2).split(" ").map(_.toLong))
    assert(baseUnpacked.length.toLong ==
      flat.map(_._2.size).sum - nUnkTotal,
      "base contract drops exactly the UNK positions")
  }

  test("trainer exhaustion: both bpeLearnAuto routes stop at the same " +
      "merge as the sequential loop, with the same table") {
    // tiny corpus exhausts after 2 merges: he, t+he (space-free "the"
    // fully fused), then cross-word pairs can't exist — requesting 8
    // rounds must stop where the sequential loop stops
    val tiny = Seq((1L, "the the the"), (2L, "he he"))
      .toDF("doc_id", "text")
      .withColumn("n_chars", length(col("text")))
    val seqM = TermStats.bpeLearnIter(tiny, 8)
    assert(seqM.size < 8, "fixture must exhaust before 8 rounds")
    // incremental maintenance exhausts identically: P runs dry at the
    // same round the recount does (two distinct words > the dial of 1)
    assert(TermStats.bpeLearnAuto(tiny, 8, driverMaxWords = 1L) == seqM,
      "distributed route")
    // the driver-local loop exhausts at the same merge with the same
    // table: its heap running dry IS the recount's empty argmax
    assert(TermStats.bpeLearnAuto(tiny, 8,
      driverMaxWords = Long.MaxValue) == seqM, "driver-local route")
  }

  /** Independent full-RECOUNT reference trainer, entirely in-memory:
    * recounts every adjacent pair of every word each round (no
    * maintained state, no heap, no index — nothing shared with
    * [[TermStats.bpeLearnInMemory]]'s delta/lazy-heap machinery except
    * the problem statement), argmax pinned (n DESC, lhs, rhs). The
    * corpus it runs on is pure ASCII, where Java String ordering and
    * Spark's UTF-8 binary ordering coincide, so compareTo is the same
    * tie-break the engines use. */
  private def refRecountTrain(words: Seq[(Seq[String], Long)],
      rounds: Int): Seq[(String, String, Long)] = {
    var ws = words
    val learned = scala.collection.mutable.Buffer[(String, String, Long)]()
    var r = 0
    var done = false
    while (r < rounds && !done) {
      val pc = scala.collection.mutable.HashMap[(String, String), Long]()
      ws.foreach { case (s, c) =>
        (0 until s.length - 1).foreach { i =>
          val p = (s(i), s(i + 1))
          pc.update(p, pc.getOrElse(p, 0L) + c)
        }
      }
      if (pc.isEmpty) done = true
      else {
        val ((a, b), n) = pc.minBy { case ((l, rh), v) => (-v, l, rh) }
        learned += ((a, b, n))
        ws = ws.map { case (s, c) =>
          val out = scala.collection.mutable.ArrayBuffer[String]()
          var i = 0
          while (i < s.length) {
            if (i + 1 < s.length && s(i) == a && s(i + 1) == b) {
              out += (a + b); i += 2
            } else { out += s(i); i += 1 }
          }
          (out.toSeq, c)
        }
      }
      r += 1
    }
    learned.toSeq
  }

  test("driver-local trainer: randomized corpora are bit-identical to " +
      "the full-recount reference, and on a crafted non-BMP tie the " +
      "UTF-8-byte tie-break matches the ENGINE where UTF-16 ordering " +
      "would disagree") {
    // 30 seeded corpora: random words over a small alphabet (high pair
    // collision rate — ties and deep merge chains), trained to
    // exhaustion depth, in-memory maintenance vs the independent
    // recount
    val alpha = "abcd"
    for (seed <- 1 to 30) {
      val rnd = new scala.util.Random(seed * 7919L)
      val words = (1 to 40).map { _ =>
        val w = (1 to (2 + rnd.nextInt(6)))
          .map(_ => alpha(rnd.nextInt(alpha.length))).mkString
        (w, 1L + rnd.nextInt(5))
      }.groupBy(_._1).map { case (w, g) => (w, g.map(_._2).sum) }.toArray
      val refWords = words.toSeq.sortBy(_._1).map { case (w, c) =>
        (w.map(_.toString): Seq[String], c) }
      assert(TermStats.bpeLearnInMemory(words, 200)
        == refRecountTrain(refWords, 200), s"seed $seed")
    }
    // the ordering trap: U+FF61 (halfwidth ideographic full stop) vs
    // U+10000 (non-BMP). Java String.compareTo puts the SURROGATE pair
    // first (\uD800 < ｡); UTF-8 binary order — what Spark's
    // UTF8String argmax tie-break uses — puts U+FF61 first (EF BD A1 <
    // F0 90 80 80). Both pairs tie at n = 2, so the FIRST merge is
    // decided purely by the lhs tie-break, and the in-memory trainer
    // must side with the engine, not with compareTo.
    val bmp = "｡"
    val supp = new String(Character.toChars(0x10000))
    val docs = Seq((1L, s"${bmp}a ${supp}a"), (2L, s"${bmp}a ${supp}a"))
      .toDF("doc_id", "text").withColumn("n_chars", length(col("text")))
    val engine = TermStats.bpeLearnIter(docs, 2)
    assert(engine.head._1 == bmp && engine.head._3 == 2L,
      "fixture: the engine itself must pick the UTF-8-smaller lhs")
    assert(TermStats.bpeLearnAuto(docs, 2,
      driverMaxWords = Long.MaxValue) == engine)
    // and compareTo really would have chosen the other side — the
    // comparator is load-bearing, not decorative
    assert(supp.compareTo(bmp) < 0 && bmp.compareTo(supp) > 0)
  }

  test("bpeLearnAuto on a wide-vocabulary corpus: the default dial " +
      "routes to the driver loop, the forced distributed route stays " +
      "merge-identical on the shared prefix (r13 dial evidence)") {
    val docs = SynthCorpus.wideVocabDocs(spark, 30000, 2000L, 60)
    val auto = TermStats.bpeLearnAuto(docs, 12)
    assert(auto.size == 12)
    assert(auto == TermStats.bpeLearnAuto(docs, 12,
      driverMaxWords = Long.MaxValue))
    // shared-prefix identity against the distributed incremental loop
    // (the big-corpus route), reached by forcing the dial over
    assert(TermStats.bpeLearnAuto(docs, 6, driverMaxWords = 1L)
      == auto.take(6))
  }

  test("driver-local trainer at depth: 1,000 real merges on the " +
      "20k-word wide-vocabulary corpus are bit-identical to an " +
      "independent full-recount reference, and to the distributed " +
      "incremental loop at the depth it can afford in a spec") {
    // the wide-vocabulary corpus of the 1,000- and 30,000-merge runs in
    // SCALE_r12 §3a; the driver corpus exhausts at 89 merges,
    // so depth evidence needs this one's pair diversity
    val docs = SynthCorpus.wideVocabDocs(spark, 20000, 5000L, 60)
    // word counts recomputed INDEPENDENTLY from the collected text —
    // the reference shares no Spark plan with the trainer under test
    val freq = scala.collection.mutable.HashMap[String, Long]()
    docs.collect().foreach(_.getString(1).split(" ")
      .filter(_.length >= 2)
      .foreach(w => freq.update(w, freq.getOrElse(w, 0L) + 1L)))
    val refWords = freq.toSeq.sortBy(_._1).map { case (w, c) =>
      (w.map(_.toString): Seq[String], c) }
    val want = refRecountTrain(refWords, 1000)
    assert(want.size == 1000, s"corpus must sustain 1,000 real merges " +
      s"(got ${want.size})")
    val local = TermStats.bpeLearnAuto(docs, 1000,
      driverMaxWords = Long.MaxValue)
    assert(local == want,
      "delta/lazy-heap maintenance drifted from the full recount")
    // distributed incremental ≡ local at 40 rounds (0.4 s/round of
    // scheduler latency bounds what a spec should spend; SCALE_r12 §3a
    // records the distributed equality at 1,000 merges)
    assert(TermStats.bpeLearnAuto(docs, 40, driverMaxWords = 1L)
      == want.take(40))
  }

  /** BPE apply's literal string-replace definition — the semantics the
    * DuckDB oracles replay: the word's CODE POINTS (the marker glued to
    * the last) as a DOUBLE-space-joined string, each merge one
    * left-to-right non-overlapping literal replace, scan resuming after
    * each replacement. Evaluated driver-side, so it exists at any merge
    * count; [[TermStats.bpeGreedyEncode]] must equal it. */
  private def refStringEncode(word: String,
      merges: Seq[(String, String)], marker: String = ""): String = {
    var s = word.codePoints().toArray
      .map(cp => "  " + new String(Character.toChars(cp))).mkString +
      marker + "  "
    merges.foreach { case (a, b) =>
      s = s.replace(" " + a + "  " + b + " ", " " + a + b + " ")
    }
    s.replace("  ", " ").trim
  }

  /** The distinct non-empty space-split words of `docs`' text, sorted. */
  private def corpusWords(docs: org.apache.spark.sql.DataFrame): Array[String] =
    docs.select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0).distinct()
      .collect().map(_.getString(0)).sorted

  test("scaled encoder at production merge counts: equality with the " +
      "string-replace reference at 1,000 and 5,000 merges, bounded-" +
      "plan completion, losslessness, determinism") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    // 1,000 and 5,000 merges: a chain of one Catalyst replace per merge
    // stack-overflows near 1,000 — the greedy encoder matches the
    // reference symbol-for-symbol at both depths.
    val words = corpusWords(docs)
    for (n <- Seq(1000, 5000)) {
      val m = SynthCorpus.syntheticMerges(n)
      val fused = m.map { case (a, b) => (a, b, a + b) }.toArray
      val maxLen = fused.foldLeft(0)((x, f) => math.max(x, f._3.length))
      words.foreach { w =>
        assert(TermStats.bpeGreedyEncode(w, fused, maxLen)
          == refStringEncode(w, m), s"$n merges: $w")
      }
    }
    // every DISTRIBUTED stage at 5,000 merges: one mapPartitions encode
    // node regardless of merge count — completes, deterministic,
    // lossless.
    val m5k = SynthCorpus.syntheticMerges(5000)
    val rows = TermStats.bpeApplyPairs(docs, m5k, BpeMode.Char).collect()
    assert(rows.nonEmpty)
    val again = TermStats.bpeApplyPairs(docs, m5k, BpeMode.Char).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq)
    val docText = docs.collect().map(r =>
      r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
    rows.foreach { r =>
      val want = docText(r.getLong(0)).split(" ").filter(_.nonEmpty)
        .mkString("")
      assert(r.getString(3).replace(" ", "") == want, r.getLong(0))
    }
    // the vocabulary: every applied symbol once, alphabetic dense ids,
    // corpus counts
    val symCount = rows.toSeq.flatMap(_.getString(3).split(" "))
      .groupBy(identity).map { case (s, xs) => s -> xs.length.toLong }
    val vocab = TermStats.bpeVocab(docs, m5k, BpeMode.Char).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(vocab.map(_._1).toSeq == (1L to vocab.length).toSeq)
    assert(vocab.map(_._2).toSeq == symCount.keys.toSeq.sorted)
    assert(vocab.map(v => v._2 -> v._3).toMap == symCount)
    // the ids decode through that vocabulary to the applied symbols
    val applied = rows.map(r => r.getLong(0) -> r.getString(3)).toMap
    val ids = TermStats.bpeIdsTensor(docs, m5k).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](2)).toMap
    assert(ids.keySet == applied.keySet)
    ids.foreach { case (d, xs) =>
      assert(xs.map(i => vocab(i.toInt - 1)._2).mkString(" ") == applied(d), d)
    }
  }

  test("scaled encoder at production depth in EOW mode (VERDICT r13 " +
      "#4): equality with the marker-mode string-replace reference at " +
      "1,000 and 5,000 synthetic merges — half of them marker-" +
      "terminated, so word-final fusions are genuinely exercised") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val words = docs.select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0).distinct()
      .collect().map(_.getString(0))
    assert(words.nonEmpty)
    for (n <- Seq(1000, 5000)) {
      // odd-indexed synthetic merges take the marker on their right
      // operand: (a, b</w>) can only fuse at a word's end, (ab, c</w>)
      // chains a plain fusion into a marker-terminated one — the two
      // shapes a learned eow table is made of
      val m = SynthCorpus.syntheticMerges(n).zipWithIndex.map {
        case ((a, b), i) =>
          if (i % 2 == 1) (a, b + TermStats.EowMarker) else (a, b)
      }
      val fused = m.map { case (a, b) => (a, b, a + b) }.toArray
      val maxLen = fused.foldLeft(0)((x, f) => math.max(x, f._3.length))
      words.foreach { w =>
        assert(TermStats.bpeGreedyEncode(w, fused, maxLen,
          eowMarker = TermStats.EowMarker) ==
          refStringEncode(w, m, TermStats.EowMarker),
          s"$n merges: $w")
      }
    }
  }

  test("bpeIdsTensor: ArrayType(LongType) schema and the array zips " +
      "exactly to the gated string form (sf0.001)") {
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val merges = TermStats.bpeMerges(docs, 10)
      .map(p => (p.substring(0, 1), p.substring(1, 2)))
    val tens = TermStats.bpeIdsTensor(docs, merges)
    // the trainer contract: a real array column, not a joined string
    assert(tens.schema("ids").dataType == ArrayType(LongType, false) ||
      tens.schema("ids").dataType == ArrayType(LongType, true),
      tens.schema("ids").dataType.toString)
    val arr = tens.collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getSeq[Long](2))).toMap
    val str = TermStats.bpeIds(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(arr.keySet == str.keySet)
    arr.foreach { case (doc, (n, ids)) =>
      val (wn, wids) = str(doc)
      assert(n == wn && ids.size == n.toInt, s"doc $doc count")
      assert(ids.mkString(" ") == wids, s"doc $doc zip")
    }
  }

  test("persisted tokenizer: a FRESH session re-encodes identically " +
      "from the parquet artifact, and the vocab table covers exactly " +
      "the encoded symbols") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    for (mode <- Seq(BpeMode.Char, BpeMode.Eow, BpeMode.Byte)) {
      val learned = TermStats.bpeLearnIter(mode.corpus(docs), 4, mode.eow)
      val pairs = learned.map { case (a, b, _) => (a, b) }
      val dir = java.nio.file.Files
        .createTempDirectory("graft-tok-spec").toString
      try {
        TermStats.writeTokenizer(docs, learned, dir, mode)
        val s2 = spark.newSession()
        // merges reload in rank order and a fresh session's re-encode
        // equals the in-session apply row-for-row
        val loaded = TermStats.loadTokenizerMerges(s2, dir)
        assert(loaded == pairs, s"$mode")
        val want = TermStats.bpeApplyPairs(docs, pairs, mode).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getString(3))).toSeq
        val got = TermStats.bpeApplyPairs(
            Tables.documents(s2, TestSpark.sf0001), loaded, mode).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
            r.getString(3))).toSeq
        assert(got == want, s"$mode")
        // the vocab artifact: ids dense alphabetic, counts = corpus
        // symbol occurrences; char and eow cover exactly the encoded
        // symbol set, byte the CLOSED 256 + merges alphabet (members
        // the corpus never emits count 0)
        val vocab = s2.read.parquet(s"$dir/vocab").orderBy("id").collect()
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
        assert(vocab.map(_._1).toSeq == (1L to vocab.length).toSeq, s"$mode")
        assert(vocab.map(_._2).toSeq == vocab.map(_._2).sorted.toSeq,
          s"$mode")
        val symCount = want.flatMap(_._4.split(" "))
          .groupBy(identity).map { case (s, xs) => s -> xs.length.toLong }
        if (mode == BpeMode.Byte) {
          val closed = (TermStats.ByteAlphabet.map(_.toString) ++
            pairs.map { case (a, b) => a + b }).toSet
          assert(vocab.map(_._2).toSeq == closed.toSeq.sorted)
          assert(vocab.filter(_._3 > 0L).map(v => v._2 -> v._3).toMap
            == symCount)
        } else assert(vocab.map(v => v._2 -> v._3).toMap == symCount,
          s"$mode")
      } finally graft.ops.SessionCleanup.deleteRecursively(dir)
    }
  }

  test("tensorPrep packs the BPE symbol stream: fixed-64 arrays, mask " +
      "algebra coherent, symbol totals conserved, one doc_start per doc") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val merges = TermStats.bpeLearnIter(docs, 4)
      .map { case (a, b, _) => (a, b) }
    val out = TermStats.tensorPrep(docs, merges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getSeq[Long](3), r.getSeq[Long](4), r.getSeq[Long](5)))
    // dense sequence grid; fixed window; supervision-mask algebra
    assert(out.map(_._1).toSeq == out.indices.map(_.toLong))
    out.foreach { case (seq, nDocs, nToks, ids, bnd, mask) =>
      assert(ids.size == 64 && bnd.size == 64 && mask.size == 64, seq)
      // mask is the r11 supervision mask: a subset of real positions,
      // zero over padding; real ids nonzero (1=BOS, 2=EOS, vocab >= 3)
      assert(mask.drop(nToks.toInt).forall(_ == 0L) &&
        mask.forall(m => m == 0L || m == 1L), seq)
      assert(ids.take(nToks.toInt).forall(_ >= 1L)
        && ids.drop(nToks.toInt).forall(_ == 0L), seq)
      // BOS sits exactly at the boundary marks
      ids.take(nToks.toInt).zip(bnd).foreach { case (id, b) =>
        assert((id == 1L) == (b == 1L), s"seq $seq BOS/bnd")
      }
      assert(nDocs >= 1L && bnd.sum <= nDocs, seq)
    }
    // every sequence but the tail is full, and the EXTENDED symbol
    // total (symbols + BOS + EOS per doc, r11) is conserved — the
    // stream being packed is the tokenizer's actual output wrapped in
    // the special-token contract
    out.dropRight(1).foreach(s => assert(s._3 == 64L, s._1))
    val totalSyms = TermStats.bpeIdsTensor(docs, merges)
      .agg(sum(col("n_symbols"))).head().getLong(0)
    val nDocsWithTokens = docs.select(col("doc_id"))
      .where(length(col("text")) > 0).count()
    assert(out.map(_._3).sum == totalSyms + 2 * nDocsWithTokens)
    // one doc_start (= one BOS) and one EOS per packed document
    assert(out.map(_._5.sum).sum == nDocsWithTokens)
    assert(out.flatMap(_._4).count(_ == 1L).toLong == nDocsWithTokens)
    assert(out.flatMap(_._4).count(_ == 2L).toLong == nDocsWithTokens)
  }

  test("tokenize_vocab_ids round-trips: ids decode back to the original " +
      "token stream (sf0.001)") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val out = TermStats.tokenizeVocabIds(docs)
    // rebuild the id→word map exactly as the operator builds word→id
    val vocab = docs
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0).distinct()
      .orderBy("word").collect().map(_.getString(0))
    val decoded = out.collect().map { r =>
      r.getLong(0) -> r.getString(2).split(" ")
        .map(i => vocab(i.toInt - 1)).mkString(" ")
    }.toMap
    val want = docs.select(col("doc_id"),
        concat_ws(" ", filter(split(col("text"), " "), w => length(w) > 0)))
      .collect().map(r => r.getLong(0) -> r.getString(1))
      .filter(_._2.nonEmpty).toMap
    assert(decoded == want)
  }

  test("corpus invariants at sf0.001: ranks dense per doc, logprob " +
      "strictly negative and finite, every doc with words covered") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val top = TermStats.queries("text_tfidf_top")(spark, TestSpark.sf0001)
    val perDoc = top.groupBy("doc_id").agg(
        count(lit(1)).as("k"), max(col("rnk")).as("mx"), min(col("rnk")).as("mn"))
      .collect()
    perDoc.foreach { r =>
      assert(r.getAs[Long]("mn") == 1L && r.getAs[Long]("mx") == r.getAs[Long]("k"))
      assert(r.getAs[Long]("k") <= 3L)
    }
    val lp = TermStats.queries("text_unigram_logprob")(spark, TestSpark.sf0001)
      .collect()
    assert(lp.length == docs.filter(length(col("text")) > 0).count())
    lp.foreach { r =>
      val v = r.getDouble(2)
      assert(v < 0.0 && !v.isNaN && !v.isInfinite, r)
    }
  }
}
