package graft

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{MinHashSig, RollingHash, Shingles, SimHash, WordSetCount}

/** Property-based coverage (ScalaCheck) for the pure expression kernels —
  * no Spark session needed, so these run the full generator budget fast. */
object KernelProps extends Properties("graft.kernels") {

  private def refHash(s: String): Long = {
    var h = 0L
    s.codePoints().toArray.foreach(cp => h = (h * 131 + cp) % 1000000007L)
    h
  }

  private val textGen: Gen[String] = Gen.chooseNum(0, 60).flatMap { n =>
    Gen.listOfN(n, Gen.frequency(
      8 -> Gen.alphaNumChar, 2 -> Gen.const(' '), 1 -> Gen.oneOf('中', 'ß', 'é')
    )).map(_.mkString)
  }

  property("rollingHash equals the codepoint fold") =
    forAll(textGen) { s =>
      RollingHash.compute(UTF8String.fromString(s)) == refHash(s)
    }

  property("window hashes equal per-substring hashes at every offset") =
    forAll(textGen, Gen.chooseNum(1, 10)) { (s, w) =>
      val got = RollingHash.computeWindows(UTF8String.fromString(s), w)
        .toLongArray().toSeq
      // reference over code points (CJK chars are one code point)
      val cps = s.codePoints().toArray
      val want =
        if (cps.length < w) Seq.empty
        else (0 to cps.length - w).map { i =>
          refHash(new String(cps, i, w))
        }
      got == want
    }

  property("word_set_count equals the filtered split length for any set") =
    forAll(textGen, Gen.listOf(Gen.oneOf("the", "a", "中", "b1", ""))) { (s, ws) =>
      val set = new java.util.HashSet[String]()
      ws.foreach(set.add)
      WordSetCount.compute(UTF8String.fromString(s), set) ==
        s.split(" ", -1).count(set.contains)
    }

  property("shingles equal the distinct sliding n-grams of the space-split") =
    forAll(textGen, Gen.chooseNum(1, 4)) { (s, n) =>
      val got = Shingles.compute(UTF8String.fromString(s), n)
        .toObjectArray(org.apache.spark.sql.types.StringType)
        .map(_.toString).toSeq
      val words = s.split(" ", -1).toSeq
      val want =
        if (words.length < n) Seq.empty
        else words.sliding(n).map(_.mkString(" ")).toSeq.distinct
      got == want
    }

  // reference xxhash64 of a word, matching Spark's string path
  private def wordHash(w: String, seed: Long): Long = {
    val u = UTF8String.fromString(w)
    XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, seed)
  }

  property("simhash64 equals the word-vote reference over the space-split") =
    forAll(textGen) { s =>
      val words = s.split(" ", -1).filter(_.nonEmpty)
      val votes = new Array[Int](64)
      words.foreach { w =>
        val h = wordHash(w, 42L)
        (0 until 64).foreach { j =>
          if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        }
      }
      val want = (0 until 64).foldLeft(0L) { (acc, j) =>
        if (votes(j) > 0) acc | (1L << j) else acc
      }
      SimHash.compute(UTF8String.fromString(s)) == want
    }

  property("minhash_sig equals per-seed min over sliding 3-gram hashes; " +
      "null iff fewer than 3 tokens") =
    forAll(textGen, Gen.chooseNum(1, 8)) { (s, k) =>
      val got = MinHashSig.compute(UTF8String.fromString(s), k)
      val words = s.split(" ", -1).toSeq
      if (words.length < 3) got == null
      else {
        val shingles = words.sliding(3).map(_.mkString(" ")).toSeq
        val want = (0 until k).map { t =>
          val seed = XXH64.hashInt(t, 42L)
          shingles.map(sh => wordHash(sh, seed)).min
        }
        got.toLongArray().toSeq == want
      }
    }

  property("computeRolling equals the word-vote reference over the space-split") =
    forAll(textGen, Gen.oneOf(8, 30)) { (s, bits) =>
      val words = s.split(" ", -1).filter(_.nonEmpty)
      val votes = new Array[Int](bits)
      for (w <- words; j <- 0 until bits) {
        if (((refHash(w) >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
      }
      val want = (0 until bits).map(j =>
        if (votes(j) > 0) 1L << j else 0L).foldLeft(0L)(_ | _)
      SimHash.computeRolling(UTF8String.fromString(s), bits) == want
    }

  // The Gopher short-word signal counts words of <3 chars via the
  // complement: n_words - regexp_count(text, "(?:^| )[^ ]{3,}"). That
  // equivalence silently assumes the corpus' single-space tokenization
  // (no leading / trailing / doubled spaces) — pin it explicitly on
  // adversarial token lists joined under exactly that assumption, along
  // with the mean-word-length arithmetic (sum(len) == len(text)-(n-1))
  // the same query relies on. Spark's regexp_count runs on
  // java.util.regex, which is what Matcher.find() exercises here.
  private val tokenGen: Gen[String] = Gen.chooseNum(1, 7).flatMap { n =>
    Gen.listOfN(n, Gen.frequency(
      6 -> Gen.alphaNumChar,
      1 -> Gen.oneOf('中', 'ß', 'é', '.', ',', '!', '-', '\t')
    )).map(_.mkString)
  }

  property("gopher complement identity: n - longWordMatches == #(len<3) " +
      "and len(text)-(n-1) == sum(word lengths), single-space join") =
    forAll(Gen.chooseNum(0, 40).flatMap(Gen.listOfN(_, tokenGen))) { toks =>
      val text = toks.mkString(" ")
      val wordsArr = text.split(" ", -1) // "" → one empty token, as in words()
      val n = wordsArr.length
      val m = java.util.regex.Pattern.compile("(?:^| )[^ ]{3,}").matcher(text)
      var longWords = 0
      while (m.find()) longWords += 1
      (n - longWords) == wordsArr.count(_.length < 3) &&
        (text.length - (n - 1)) == wordsArr.map(_.length).sum
    }

  property("dot_product kernel equals the index-order fold bit-identically") =
    forAll(Gen.chooseNum(0, 32).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(-1e3, 1e3)))) { xs =>
      val a = xs.toArray
      val b = xs.reverse.toArray
      val got = graft.functions.VectorOps.dot(
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(a),
        org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(b))
      // sequential index-order fold — the order DuckDB's
      // list_inner_product uses, which is what makes oracle hashes match
      var want = 0.0
      var i = 0
      while (i < a.length) { want += a(i) * b(i); i += 1 }
      java.lang.Double.doubleToLongBits(got) ==
        java.lang.Double.doubleToLongBits(want)
    }

  // the text_quality_gopher short-word count is computed as the
  // COMPLEMENT of a long-word regex (Text.scala): this pins the identity
  // `n_words - matches("(?:^| )[^ ]{3,}") == count(words with len < 3)`
  // on adversarial strings — every split word is preceded by start-of-
  // string or its own separator space (each match consumes only ITS
  // word's leading space, never the next word's), so the identity holds
  // even with repeated/leading/trailing spaces and empty tokens.
  property("gopher complement identity: words minus long-word regex matches " +
      "equals the short-word count") = {
    val spacey = Gen.chooseNum(0, 40).flatMap { n =>
      Gen.listOfN(n, Gen.frequency(
        5 -> Gen.alphaNumChar, 3 -> Gen.const(' '), 1 -> Gen.oneOf('中', 'ß', 'é')
      )).map(_.mkString)
    }
    val longRe = java.util.regex.Pattern.compile("(?:^| )[^ ]{3,}")
    forAll(spacey) { s =>
      val words = s.split(" ", -1)
      val m = longRe.matcher(s)
      var longCount = 0
      while (m.find()) longCount += 1
      words.length - longCount == words.count(_.length < 3)
    }
  }

  // --- greedy BPE encoder vs the literal-replace reference ----------
  // The reference IS BPE apply's literal-replace definition, the one the
  // DuckDB oracles replay (left-to-right non-overlapping literal replace
  // on the doubled-space string, scan resuming after each
  // replacement), built over CODE POINTS so a
  // supplementary char is one symbol — the property pins
  // bpeGreedyEncode against it for arbitrary words and arbitrary merge
  // tables, including merges whose operands never occur, repeat
  // operands (a == b), multi-char operands, and out-of-order tables
  // where a fused operand was never produced by an earlier merge.
  private def refBpeEncode(word: String,
      merges: List[(String, String)]): String = {
    var s = word.codePoints().toArray
      .map(cp => "  " + new String(Character.toChars(cp))).mkString + "  "
    merges.foreach { case (a, b) =>
      s = s.replace(" " + a + "  " + b + " ", " " + a + b + " ")
    }
    s.replace("  ", " ").trim
  }

  private val bpeWordGen: Gen[String] = Gen.chooseNum(0, 12).flatMap { n =>
    Gen.listOfN(n,
      Gen.oneOf("a", "b", "c", "é", "中", "😀")).map(_.mkString)
  }
  private val bpeMergesGen: Gen[List[(String, String)]] = {
    val sym = Gen.oneOf("a", "b", "c", "ab", "bc", "abc", "é", "中")
    Gen.chooseNum(0, 25).flatMap(n => Gen.listOfN(n, Gen.zip(sym, sym)))
  }

  property("bpeGreedyEncode equals the literal-replace reference for " +
      "arbitrary words and merge tables") =
    forAll(bpeWordGen, bpeMergesGen) { (w, ms) =>
      val fused = ms.map { case (a, b) => (a, b, a + b) }.toArray
      val maxLen = fused.foldLeft(0)((x, f) => math.max(x, f._3.length))
      graft.ops.TermStats.bpeGreedyEncode(w, fused, maxLen) ==
        refBpeEncode(w, ms)
    }

  property("progress line always carries two fixed-format numbers") =
    forAll(Gen.chooseNum(0L, 1000L), Gen.chooseNum(0L, 1000L),
      Gen.chooseNum(0.0, 1e6)) { (up, extra, rate) =>
      val total = up + extra
      val line = graft.sink.Reports.progressLine(up, total, rate)
      line.matches("""\d+\.\d{8}% Uploaded at \d+\.\d{2} uploads/second""")
    }
}
