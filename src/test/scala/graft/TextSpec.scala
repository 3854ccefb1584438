package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.Text
import graft.model.Tables

class TextSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("quality logit: scores are proper probabilities, the keep flag " +
      "thresholds the rounded score, and both labels occur on sf0.001") {
    val rows = Text.queries("text_quality_logit")(spark, TestSpark.sf0001)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val s = r.getDouble(1)
      assert(s > 0.0 && s < 1.0)
      assert(r.getBoolean(2) == (s >= 0.5))
    }
    assert(rows.exists(_.getBoolean(2)) && rows.exists(!_.getBoolean(2)),
      "the fixed weights must separate the corpus, not rubber-stamp it")
  }

  test("htmlStrip removes tags, decodes entities in double-decode-safe " +
      "order, collapses the left-over whitespace, and is a no-op on " +
      "already-clean text") {
    val rows = Seq(
      (1L, "<h1>Title</h1><p>a <b>bold</b> word</p>"),
      (2L, "x &amp;lt; y &amp; z &lt;tag&gt; &quot;q\""),
      (3L, "plain text stays"),
      (4L, "<br/><br/>  spaced   <span class=\"s\">out</span>  "))
      .toDF("doc_id", "text")
    val got = rows.select(col("doc_id"), Text.htmlStrip(col("text")).as("c"))
      .as[(Long, String)].collect().toMap
    assert(got(1L) == "Title a bold word")
    // '&amp;lt;' must become '&lt;' (one decode), not '<'
    assert(got(2L) == "x &lt; y & z <tag> \"q\"")
    assert(got(3L) == "plain text stays")
    assert(got(4L) == "spaced out")
  }

  test("native word_set_count scoring equals the composed size(filter(...)) " +
      "forms value-for-value (sf0.001 corpus + edge cases)") {
    val corpus = Tables.documents(spark, TestSpark.sf0001)
      .select("doc_id", "text")
    val edge = Seq((9001L, ""), (9002L, "   "), (9003L, "the"),
      (9004L, "the the the"), (9005L, "中文 的 mixed the 的"))
      .toDF("doc_id", "text")
    val docs = corpus.union(edge)
    val langs = Seq("en", "de", "es", "fr", "zh")
    val native = docs.select(col("doc_id") +:
        round(Text.stopwordRatio(col("text")), 9).as("sr") +:
        langs.map(l => Text.langScore(col("text"), l).as(s"s_$l")): _*)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    val composed = docs.select(col("doc_id") +:
        round(TextRefs.stopwordRatioComposed(col("text")), 9).as("sr") +:
        langs.map(l => TextRefs.langScoreComposed(col("text"), l).as(s"s_$l")): _*)
      .collect().map(r => r.getLong(0) -> r.toSeq.tail).toMap
    assert(native == composed)
    // sanity on the edge rows: occurrences (not distinct words) count
    assert(native(9004L)(1) == 3L) // "the the the" scores 3 for en
  }

  test("text_normalize: hand-checked forms + idempotence on the corpus") {
    val rows = Seq((1L, "A,b!!C  d"), (2L, "  spaced   out  "), (3L, ""),
      (4L, "already clean text"))
      .toDF("doc_id", "text").withColumn("n_chars", length(col("text")))
    rows.createOrReplaceTempView("t_norm")
    val norm = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
    val got = rows.select(col("doc_id"), norm.as("n")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(1L) == "a b c d" && got(2L) == "spaced out" && got(3L) == "")
    assert(got(4L) == "already clean text")
    // idempotence on the real corpus: normalizing twice changes nothing
    val docs = graft.model.Tables.documents(spark, TestSpark.sf0001)
    val once = docs.select(col("doc_id"), norm.as("text"))
    val twice = once.select(col("doc_id"), trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " "))
      .as("text"))
    assert(once.exceptAll(twice).isEmpty && twice.exceptAll(once).isEmpty)
  }

  test("repetition ratios: hand-checked example + [0,1] bounds on the corpus") {
    // "a b a b c": bigrams (a b, b a, a b, b c) -> 3 distinct of 4;
    // trigrams (a b a, b a b, a b c) -> 3 distinct of 3
    val one = Seq((1L, "a b a b c")).toDF("doc_id", "text")
      .createOrReplaceTempView("t_rep")
    val n = size(split(col("text"), " "))
    val d2 = size(graft.functions.Shingles.word_shingles(col("text"), 2))
    val d3 = size(graft.functions.Shingles.word_shingles(col("text"), 3))
    val r = spark.table("t_rep")
      .select((lit(1.0) - d2.cast("double") / (n - 1)).as("dup2"),
        (lit(1.0) - d3.cast("double") / (n - 2)).as("dup3"))
      .collect()(0)
    assert(r.getDouble(0) == 0.25 && r.getDouble(1) == 0.0)
    val bad = SparkEntry.queries("text_repetition")(spark, TestSpark.sf0001)
      .filter(col("dup2_ratio") < 0 || col("dup2_ratio") > 1 ||
        col("dup3_ratio") < 0 || col("dup3_ratio") > 1).count()
    assert(bad == 0)
  }

  test("pii mask redacts every planted email/URL, counts them, and leaves " +
      "unplanted docs untouched") {
    val out = SparkEntry.queries("text_pii_mask")(spark, TestSpark.sf0001)
    // nothing PII-shaped survives the mask
    assert(out.filter(col("masked").rlike(Text.emailRe)).count() == 0)
    assert(out.filter(col("masked").rlike(Text.urlRe)).count() == 0)
    // planted docs (every third id): exactly one email + one URL, both
    // redaction tokens present; all other docs untouched
    val planted = out.filter(col("doc_id") % 3 === 0)
    assert(planted.count() > 0)
    assert(planted.filter(col("n_emails") =!= 1 || col("n_urls") =!= 1)
      .count() == 0)
    assert(planted.filter(!col("masked").contains("<EMAIL>") ||
      !col("masked").contains("<URL>")).count() == 0)
    assert(out.filter(col("doc_id") % 3 =!= 0 &&
      (col("n_emails") =!= 0 || col("n_urls") =!= 0)).count() == 0)
    // idempotence: masking already-masked text is a no-op
    val twice = out.select(col("masked"),
      Text.piiMask(col("masked")).as("again"))
    assert(twice.filter(col("masked") =!= col("again")).count() == 0)
    // plan shape: the scrub is map-only — the ONLY exchange is the final
    // orderBy's range partitioning, and the whole compute is one Project
    // directly over the parquet scan (a join/aggregate node or a second
    // exchange would mean a shuffle crept into the hot path; the AQE
    // pre-execution plan never shows codegen spans, so assert structure)
    val plan = out.queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).length <= 1, plan)
    assert(!plan.contains("Join") && !plan.contains("Aggregate"), plan)
    assert("(?s)Project.*\\n.*FileScan parquet".r.findFirstIn(plan).isDefined, plan)
  }

  // Both recount tests fetch EXACTLY the documents behind the sampled
  // query rows (an independent .limit() scan could return a disjoint
  // subset, making the check vacuous) and assert the checked-row count.
  test("gopher quality signals agree with a direct per-row recount") {
    val rows = SparkEntry.queries("text_quality_gopher")(spark, TestSpark.sf0001)
      .limit(50).collect()
    assert(rows.length == 50)
    val ids = rows.map(_.getLong(0))
    val texts = Tables.documents(spark, TestSpark.sf0001)
      .select("doc_id", "text").filter(col("doc_id").isin(ids: _*))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    var checked = 0
    for (r <- rows) {
      val words = texts(r.getLong(0)).split(" ", -1)
      val mean = words.map(_.length).sum.toDouble / words.length
      val short = words.count(_.length < 3).toDouble / words.length
      assert(math.abs(r.getDouble(2) - mean) < 1e-6, s"doc ${r.getLong(0)} mean")
      assert(math.abs(r.getDouble(3) - short) < 1e-6, s"doc ${r.getLong(0)} short")
      checked += 1
    }
    assert(checked == 50)
  }

  test("top word is the max-count word with the deterministic tie-break") {
    val rows = SparkEntry.queries("text_top_word")(spark, TestSpark.sf0001)
      .limit(30).collect()
    assert(rows.length == 30)
    val ids = rows.map(_.getLong(0))
    val texts = Tables.documents(spark, TestSpark.sf0001)
      .select("doc_id", "text").filter(col("doc_id").isin(ids: _*))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    var checked = 0
    for (r <- rows) {
      val counts = texts(r.getLong(0)).split(" ", -1).filter(_.nonEmpty)
        .groupBy(identity).view.mapValues(_.length).toMap
      val expect = counts.toSeq.sortBy { case (w, n) => (-n, w) }.head
      assert(r.getString(1) == expect._1 && r.getLong(2) == expect._2,
        s"doc ${r.getLong(0)}")
      checked += 1
    }
    assert(checked == 30)
  }

  test("chunkOverlap tiles every document: starts on the stride grid, " +
      "exactly ceil(len/stride) chunks, last chunk ends at the last char, " +
      "and a short doc's single chunk hashes like the whole doc") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val chunks = Text.chunkOverlap(docs) // width 400, stride 300
    val per = chunks.groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        min(col("chunk_start")).as("min_start"),
        max(col("chunk_start") + col("chunk_len") - 1).as("max_end"),
        sum(when((col("chunk_start") - 1) % 300 === 0, 0L).otherwise(1L))
          .as("off_grid"))
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val lens = docs.select(col("doc_id"), length(col("text")).cast("long"))
      .as[(Long, Long)].collect().toMap
    assert(per.keySet == lens.keySet)
    per.foreach { case (id, (n, minStart, maxEnd, offGrid)) =>
      val L = lens(id)
      assert(minStart == 1L && offGrid == 0L, s"doc $id")
      assert(n == (math.max(L, 1L) + 299) / 300, s"doc $id: n=$n L=$L")
      assert(maxEnd == L, s"doc $id: maxEnd=$maxEnd L=$L")
    }
    // single-chunk docs (len <= stride): the chunk IS the document
    val short = chunks.join(docs, "doc_id")
      .filter(length(col("text")) <= 300)
      .select((col("chunk_md5") === md5(col("text").cast("binary")))
        .as("same")).collect()
    assert(short.nonEmpty && short.forall(_.getBoolean(0)))
  }

  test("readability: hand-computed Flesch on a known sentence, and the " +
      "count floors engage on degenerate text") {
    val rows = Seq(
      (1L, "The cat sat on the mat. It was happy!"), // 9 words, 2 sent
      (2L, "xxxx"))                                  // no vowels, no [.!?]
      .toDF("doc_id", "text")
    val got = Text.readability(rows).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).toMap
    val (w1, s1, y1, f1) = got(1L)
    assert(w1 == 9 && s1 == 2)
    // vowel groups: e,a,a,o,e,a,I,a,a(ppy->a)... recompute directly
    val syl = "[aeiouy]+".r.findAllIn(
      "the cat sat on the mat. it was happy!").length
    assert(y1 == syl)
    assert(math.abs(f1 - (206.835 - 1.015 * (9.0 / 2) -
      84.6 * (syl.toDouble / 9))) < 1e-3)
    val (w2, s2, y2, _) = got(2L)
    assert(w2 == 1 && s2 == 1 && y2 == 1) // floors: min 1 sentence/syllable
  }

  test("normalizeUnicode: NFC composes decomposed marks, casefold " +
      "lowers precomposed uppercase, whitespace collapses, ASCII " +
      "passes through, and the chain is idempotent") {
    val raw = Seq(
      (1L, "Cafe\u0301"),       // decomposed e + COMBINING ACUTE
      (2L, "\u00c9COLE"),       // precomposed uppercase É
      (3L, "U\u0308ber  NOE\u0308L"), // decomposed + doubled space
      (4L, " plain  ASCII text "))
    val df = raw.toDF("id", "t")
    val got = df.select(col("id"), Text.normalizeUnicode(col("t")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    // composed single codepoints, lowered, collapsed, trimmed
    assert(got(1L) == "caf\u00e9" && got(1L).length == 4)
    assert(got(2L) == "\u00e9cole" && got(2L).length == 5)
    assert(got(3L) == "\u00fcber no\u00ebl")
    assert(got(4L) == "plain ascii text")
    // idempotence: a normalized string is a fixpoint
    val twice = df.select(col("id"),
        Text.normalizeUnicode(Text.normalizeUnicode(col("t"))).as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(twice == got)
    // SIMPLE case mapping (ADVICE r10 #3): U+0130 İ lowers to the
    // single codepoint i (the UnicodeData/utf8proc/DuckDB mapping),
    // NOT Java full case mapping's i + U+0307 COMBINING DOT ABOVE —
    // the divergence that voided the old byte-exact-across-engines
    // claim on arbitrary text. U+1E9E ẞ (simple = full here) and
    // plain Turkish-trap I stay covered too.
    val simple = Seq((1L, "İstanbul"), (2L, "ẞ"), (3L, "III"))
      .toDF("id", "t")
      .select(col("id"), Text.normalizeUnicode(col("t")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(simple(1L) == "istanbul" && simple(1L).length == 8)
    assert(simple(2L) == "ß")
    assert(simple(3L) == "iii")
    // the registered key's enrichment: every fifth doc gains the
    // suffix and its normalized tail is fully composed + lowered
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val out = Text.queries("text_normalize_unicode")(spark, TestSpark.sf0001)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val enrichedTail = " caf\u00e9 \u00fcber \u00e9cole no\u00ebl"
    docs.select("doc_id").collect().map(_.getLong(0)).foreach { id =>
      if (id % 5 == 0) assert(out(id).endsWith(enrichedTail), id)
      else assert(!out(id).endsWith(enrichedTail), id)
    }
  }

  test("dedup_unicode: byte-different precomposed/decomposed twins " +
      "collapse under the canonical key while raw hashing keeps them " +
      "apart, and nothing else merges across the twin id space") {
    // the two suffixes are byte-different but canonically equal
    val s = Seq((1L, Text.uniSuffix), (2L, Text.uniSuffixPre))
      .toDF("id", "t")
      .select(col("id"), Text.normalizeUnicode(col("t")).as("n"),
        md5(col("t").cast("binary")).as("raw"))
      .collect().map(r => (r.getString(1), r.getString(2)))
    assert(s(0)._1 == s(1)._1 && s(0)._2 != s(1)._2)
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val nDocs = docs.count()
    val nFifth = docs.filter(col("doc_id") % 5 === 0).count()
    val out = Text.queries("dedup_unicode")(spark, TestSpark.sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
    // group mass conserves: every input row lands in exactly one group
    assert(out.map(_._2).sum == nDocs + nFifth)
    // the twin is never the group representative (min is the original)
    assert(out.forall(_._1 < 100000L))
    // every fifth-doc group holds its byte-different twin: the
    // canonical key unified what raw hashing could not
    out.filter(_._1 % 5 == 0).foreach { case (id, n, nRaw) =>
      assert(n >= 2 && nRaw >= 2, s"group $id")
    }
  }
}

/** The interpreted higher-order-function forms the native
  * WordSetCount-based Text operators replaced — kept as the executable
  * specifications TextSpec compares against. */
private object TextRefs {
  import org.apache.spark.sql.Column

  def stopwordRatioComposed(text: Column): Column = {
    val ws = Text.words(text)
    val n = size(ws)
    val nStop = size(filter(ws, w => w.isInCollection(Text.stop)))
    when(n > 0, nStop.cast("double") / n).otherwise(lit(0.0))
  }

  def langScoreComposed(text: Column, lang: String): Column = {
    val stops = Text.langStops.toMap.apply(lang)
    size(filter(Text.words(text), w => w.isInCollection(stops))).cast("long")
  }
}
