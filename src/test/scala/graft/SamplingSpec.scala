package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.{Sampling, Text}
import graft.model.Tables

class SamplingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs = Tables.documents(spark, TestSpark.sf0001)

  test("bootstrap: 3 replicates, Poisson(1) draw totals concentrate " +
      "near n, and the resample is bit-stable across runs") {
    val n = docs.count()
    val out = Sampling.bootstrapMetrics(docs)
      .as[(Long, Long, Double)].collect()
    assert(out.map(_._1).toSeq == Seq(0L, 1L, 2L))
    out.foreach { case (rep, draws, mean) =>
      assert(math.abs(draws - n) < 0.2 * n, s"rep $rep draws=$draws n=$n")
      assert(mean > 0.0)
    }
    val again = Sampling.bootstrapMetrics(docs.repartition(7))
      .as[(Long, Long, Double)].collect()
    assert(out.toSeq == again.toSeq,
      "resample must be invariant to partitioning")
  }

  test("sample_hash is deterministic across runs and partitionings, " +
      "keeps roughly its rate, and is map-only") {
    val q = Sampling.queries("sample_hash")
    val a = q(spark, TestSpark.sf0001).collect().map(_.getLong(0)).toSeq
    val b = q(spark, TestSpark.sf0001).collect().map(_.getLong(0)).toSeq
    assert(a == b)
    // repartitioning the input must not change the kept set — the whole
    // point vs df.sample(); recompute the predicate over a 7-way shuffle.
    val shuffled = docs.repartition(7)
      .filter(md5(concat(lit("s1:"), col("doc_id").cast("string")))
        < lit("4" + "0" * 31))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(shuffled == a.toSet)
    val n = docs.count()
    assert(math.abs(a.size.toDouble / n - 0.25) < 0.10, s"${a.size}/$n")
    // map-only: the only exchange is the final presentation ORDER BY.
    val plan = q(spark, TestSpark.sf0001).queryExecution.executedPlan.toString
    assert("Exchange".r.findAllIn(plan).length <= 1, plan)
  }

  test("sample_stratified keeps all zh rows, halves en, and stays a " +
      "subset of the corpus") {
    val kept = Sampling.queries("sample_stratified")(spark, TestSpark.sf0001)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val byLang = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val keptByLang = kept.groupBy(_._2).view.mapValues(_.size).toMap
    assert(keptByLang.getOrElse("zh", 0) == byLang("zh")) // 'g' threshold
    val enRate = keptByLang.getOrElse("en", 0).toDouble / byLang("en")
    assert(math.abs(enRate - 0.5) < 0.15, s"en rate $enRate")
    val ids = docs.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept.map(_._1).forall(ids))
  }

  test("sample_mix_equalize keeps the rarest language fully and thins " +
      "the rest toward its volume") {
    val out = Sampling.queries("sample_mix_equalize")(spark, TestSpark.sf0001)
      .collect()
    val langCounts = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val minN = langCounts.values.min
    val keptByLang = out.groupBy(_.getString(1)).view.mapValues(_.size).toMap
    // p = 1 for every argmin language ⇒ kept count == its full count
    langCounts.filter(_._2 == minN).keys.foreach { l =>
      assert(keptByLang.getOrElse(l, 0).toLong == minN, s"lang $l")
    }
    // every language's kept volume is ≤ its original and the expectation
    // is minN; allow binomial slack on the small sf0.001 corpus.
    keptByLang.foreach { case (l, k) =>
      assert(k <= langCounts(l))
      assert(math.abs(k - minN.toDouble) <= math.max(4.0, 3 * math.sqrt(minN.toDouble)),
        s"lang $l kept $k vs target $minN")
    }
    // the cut must actually thin something on this corpus (en is ~40%)
    assert(out.length < docs.count())
  }

  test("budget pack: two-level prefix sum equals one global window, the " +
      "kept set is maximal, and the offsets join broadcasts") {
    val out = Sampling.queries("sample_budget_pack")(spark, TestSpark.sf0001)
    val got = out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // reference: single global window (what the DuckDB oracle runs)
    val want = Sampling.budgetPackGlobal(docs, 12000L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq == want.toSeq)
    // maximal greedy prefix: every kept row is within budget and the
    // full corpus exceeds the budget (so the filter excluded something).
    assert(got.forall(_._3 <= 12000L))
    val totalTokens = docs
      .select(sum(Text.tokenCount(col("text")).cast("long")))
      .head().getLong(0)
    assert(totalTokens > 12000L && got.nonEmpty)
    // scale shape: the per-bucket offsets attach via broadcast, and no
    // single-partition global sort of the full corpus appears before
    // the final presentation ORDER BY.
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastNestedLoopJoin"), plan)
    // bucketing must never change the result: rerun with a different
    // bucket count and compare exactly.
    val alt = Sampling.budgetPack(docs, 12000L, buckets = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(alt.toSeq == got.toSeq)
  }

  test("packSequences: every sequence but the last fills exactly 64 " +
      "tokens, the token total is conserved, doc spans are contiguous, " +
      "and bucketing never changes the result") {
    import org.apache.spark.sql.functions._
    val docs = graft.model.Tables.documents(spark, TestSpark.sf0001)
    val out = Sampling.packSequences(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    // dense sequence ids from 0
    assert(out.map(_._1).toSeq == out.indices.map(_.toLong))
    // full windows everywhere but the tail
    out.dropRight(1).foreach(s => assert(s._5 == 64L, s))
    assert(out.last._5 <= 64L && out.last._5 > 0L)
    // conservation: window fills sum to the corpus token count
    val total = docs.select(sum(size(filter(split(col("text"), " "),
      w => length(w) > 0)))).head().getLong(0)
    assert(out.map(_._5).sum == total)
    // doc spans: within a window first<=last; across windows the spans
    // advance monotonically (stream order)
    out.foreach(s => assert(s._3 <= s._4))
    out.sliding(2).foreach { case Array(a, b) =>
      assert(a._3 <= b._3 && a._4 <= b._4)
    case _ => ()
    }
    // level-1 bucketing is partitioning-only: a different bucket count
    // yields the identical packing
    val alt = Sampling.packSequences(docs, buckets = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    assert(alt.toSeq == out.toSeq)
  }

  test("curriculum: phases partition the corpus by difficulty quartile " +
      "in order, within-phase ranks are dense easy-to-hard, and the " +
      "assignment is deterministic") {
    import org.apache.spark.sql.functions._
    val docs = graft.model.Tables.documents(spark, TestSpark.sf0001)
    val out = Sampling.curriculum(docs).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
    assert(out.length == docs.count())
    // phases are 1..4 and ordered: every phase-p doc is at most as hard
    // as every phase-(p+1) doc
    assert(out.map(_._3).toSet.subsetOf(Set(1L, 2L, 3L, 4L)))
    val byPhase = out.groupBy(_._3).view.mapValues(_.map(_._2)).toMap
    for (p <- 1L to 3L if byPhase.contains(p) && byPhase.contains(p + 1))
      assert(byPhase(p).max <= byPhase(p + 1).min + 1e-12,
        s"phase $p overlaps ${p + 1}")
    // quartiles balance: no phase holds more than ~40% of the corpus
    byPhase.values.foreach(v =>
      assert(v.length <= out.length * 2 / 5, v.length))
    // ranks dense per phase and non-decreasing in difficulty
    out.groupBy(_._3).values.foreach { rows =>
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == (1L to rows.length).toSeq)
      assert(sorted.map(_._2).toSeq == sorted.map(_._2).sortBy(identity).toSeq)
    }
    // deterministic
    val again = Sampling.curriculum(docs.repartition(5)).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
    assert(again.toSeq == out.toSeq)
  }

  test("temperature mix: targets match the closed form, the dominant " +
      "language is down-weighted and low-resource ones up-weighted " +
      "(the defining α<1 property), stable under repartition") {
    import org.apache.spark.sql.functions._
    val docs = graft.model.Tables.documents(spark, TestSpark.sf0001)
    val out = Sampling.temperatureMix(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // per-language selected counts equal the integer-exact targets
    val counts = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val w = counts.map { case (l, n) =>
      l -> math.floor(math.sqrt(n.toDouble) * 1000000L).toLong
    }
    val totW = w.values.sum
    val targets = w.map { case (l, wi) => l -> 200L * wi / totW }
    val got = out.groupBy(_._2).map { case (l, rs) => l -> rs.length.toLong }
    assert(got == targets.filter(_._2 > 0L), s"$got vs $targets")
    // α = 0.5 flattens: the dominant language's share of the SAMPLE is
    // strictly below its share of the DATA; every minority language's
    // share is at or above its data share
    val nDocs = counts.values.sum.toDouble
    val nSel = out.length.toDouble
    val maxLang = counts.maxBy(_._2)._1
    counts.keys.foreach { l =>
      val dataShare = counts(l) / nDocs
      val mixShare = got.getOrElse(l, 0L) / nSel
      if (l == maxLang) assert(mixShare < dataShare, s"$l not damped")
      else assert(mixShare > dataShare - 0.02, s"$l crushed")
    }
    // md5-seeded choice is partitioning-independent
    val again = Sampling.temperatureMix(docs.repartition(7)).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(again.toSeq == out.toSeq)
  }

  test("packSequencesTensor: fixed-64 ArrayType(LongType) columns with " +
      "the special-token contract (BOS/EOS placement, supervision " +
      "mask), conservation, and the gated string key") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val docs = graft.model.Tables.documents(spark, TestSpark.sf0001)
    val tens = Sampling.packSequencesTensor(docs)
    // the trainer contract: real array columns, all padded to window
    Seq("ids", "doc_start", "loss_mask").foreach { c =>
      assert(tens.schema(c).dataType.isInstanceOf[ArrayType] &&
        tens.schema(c).dataType.asInstanceOf[ArrayType]
          .elementType == LongType, c)
    }
    val rows = tens.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getSeq[Long](3), r.getSeq[Long](4),
      r.getSeq[Long](5), r.getSeq[Long](7)))
    rows.foreach { case (seq, nDocs, nToks, ids, bnd, mask, labs) =>
      assert(ids.size == 64 && bnd.size == 64 && mask.size == 64, seq)
      // loss mask (r11): 1 exactly where labels carries a real target
      assert(mask == labs.map(l => if (l != 0L) 1L else 0L), seq)
      assert(mask.drop(nToks.toInt).forall(_ == 0L), seq)
      // reserved ids: real slots nonzero (1=BOS, 2=EOS, vocab >= 3),
      // padding zero
      assert(ids.take(nToks.toInt).forall(_ >= 1L)
        && ids.drop(nToks.toInt).forall(_ == 0L), seq)
      // BOS sits EXACTLY at the boundary marks; EOS count in a
      // sequence can exceed BOS count only via carried-over docs
      ids.take(nToks.toInt).zip(bnd).foreach { case (id, b) =>
        assert((id == 1L) == (b == 1L), s"seq $seq BOS/bnd")
      }
      // boundary marks only fall on real tokens
      assert(bnd.drop(nToks.toInt).forall(_ == 0L) &&
        bnd.forall(b => b == 0L || b == 1L), seq)
      assert(nDocs >= 1L, seq)
    }
    // conservation: every doc with tokens contributes words + BOS +
    // EOS; exactly one BOS and one EOS per doc across the grid
    val nDocsWithTokens = docs.filter(size(filter(split(col("text"), " "),
      w => length(w) > 0)) > 0).count()
    val nWords = docs.select(size(filter(split(col("text"), " "),
        w => length(w) > 0)).cast("long").as("n"))
      .agg(sum(col("n"))).head().getLong(0)
    assert(rows.map(_._3).sum == nWords + 2 * nDocsWithTokens)
    assert(rows.map(_._5.sum).sum == nDocsWithTokens)
    assert(rows.flatMap(_._4).count(_ == 1L).toLong == nDocsWithTokens)
    assert(rows.flatMap(_._4).count(_ == 2L).toLong == nDocsWithTokens)
    // dense full grid: every sequence but the last is full
    rows.dropRight(1).foreach(r => assert(r._3 == 64L, r._1))
    // and the registered key is exactly the string projection
    val viaKey = Sampling.queries("sample_pack_tensor")(
      spark, TestSpark.sf0001).collect()
      .map(r => r.getLong(0) -> (r.getString(3), r.getString(4),
        r.getString(5))).toMap
    rows.foreach { case (seq, _, _, ids, bnd, mask, _) =>
      val (is, bs, ms) = viaKey(seq)
      assert(ids.mkString(" ") == is && bnd.mkString(" ") == bs &&
        mask.mkString(" ") == ms, s"seq $seq zip")
    }
  }

  test("segment_ids tensor: fixed-64, first real position is 1, " +
      "increments exactly at doc_start, max equals n_docs, padding 0; " +
      "the registered key is its string projection") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{ArrayType, LongType}
    val docs = graft.model.Tables.documents(spark, TestSpark.sf0001)
    val tens = Sampling.packSequencesTensor(docs)
    assert(tens.schema("segment_ids").dataType.isInstanceOf[ArrayType] &&
      tens.schema("segment_ids").dataType.asInstanceOf[ArrayType]
        .elementType == LongType)
    val rows = tens.collect().map(r => (r.getLong(0), r.getLong(1),
      r.getLong(2), r.getSeq[Long](4), r.getSeq[Long](5),
      r.getSeq[Long](6)))
    rows.foreach { case (seq, nDocs, nToks, bnd, mask, segs) =>
      assert(segs.size == 64, seq)
      val real = segs.take(nToks.toInt)
      // the carried-over partial doc is segment 1 either way
      assert(real.head == 1L, seq)
      // nondecreasing, and the step IS the boundary stream
      real.indices.drop(1).foreach { i =>
        assert(real(i) - real(i - 1) == bnd(i), s"seq $seq pos $i")
      }
      // one segment per distinct doc in the sequence
      assert(real.max == nDocs && real.distinct.size == nDocs.toInt, seq)
      // nonzero exactly on real positions (r11: the loss mask is now
      // the SUPERVISION mask, a strict subset of real positions —
      // every supervised position still has a segment)
      assert(real.forall(_ > 0L) &&
        segs.drop(nToks.toInt).forall(_ == 0L), seq)
      segs.zip(mask).foreach { case (s, m) =>
        assert(m == 0L || s > 0L, seq)
      }
    }
    // the registered key is exactly the string projection + max
    val viaKey = Sampling.queries("sample_pack_segments")(
      spark, TestSpark.sf0001).collect()
      .map(r => r.getLong(0) -> (r.getString(3), r.getLong(4))).toMap
    rows.foreach { case (seq, nDocs, _, _, _, segs) =>
      assert(viaKey(seq) == ((segs.mkString(" "), nDocs)), seq)
    }
  }

  test("labels tensor: ids shifted left by one, 0 at document " +
      "boundaries, sequence end, and padding; the registered key is " +
      "its string projection plus the derived scalars") {
    val docs = graft.model.Tables.documents(spark, TestSpark.sf0001)
    val tens = Sampling.packSequencesTensor(docs)
    val rows = tens.collect().map(r => (r.getLong(0), r.getLong(2),
      r.getSeq[Long](3), r.getSeq[Long](4), r.getSeq[Long](7)))
    rows.foreach { case (seq, nToks, ids, bnd, labs) =>
      assert(labs.size == 64, seq)
      labs.indices.foreach { i =>
        val expect =
          if (i + 1 < nToks && bnd(i + 1) == 0L) ids(i + 1) else 0L
        assert(labs(i) == expect, s"seq $seq pos $i")
      }
      // supervised positions = real tokens minus one per boundary
      // that follows them minus the sequence-final position
      val nPred = labs.count(_ > 0L)
      val nStartsAfterFirst =
        bnd.slice(1, nToks.toInt).count(_ == 1L)
      assert(nPred == nToks - 1 - nStartsAfterFirst, seq)
      // special-token supervision (r11): BOS (id 1) is NEVER a target
      assert(!labs.contains(1L), seq)
    }
    // … and EOS (id 2) IS a target wherever its position has an
    // in-sequence predecessor: every packed doc ends in EOS, so the
    // corpus-wide EOS-label count equals #docs minus the EOS tokens
    // that landed on a sequence's first slot (their predecessor lives
    // in the previous sequence and is masked by the sequence-end rule)
    val nEosLabels = rows.flatMap(_._5).count(_ == 2L)
    val nEosTokens = rows.map(r => r._3.take(r._2.toInt)
      .count(_ == 2L)).sum
    val nEosAtSeqStart = rows.count(r => r._3.headOption.contains(2L))
    assert(nEosLabels == nEosTokens - nEosAtSeqStart)
    assert(nEosTokens > 0)
    val viaKey = Sampling.queries("sample_pack_labels")(
      spark, TestSpark.sf0001).collect()
      .map(r => r.getLong(0) -> (r.getString(3), r.getLong(4),
        r.getLong(5))).toMap
    rows.foreach { case (seq, _, _, _, labs) =>
      assert(viaKey(seq) ==
        ((labs.mkString(" "), labs.sum, labs.count(_ > 0L).toLong)), seq)
    }
  }

  test("pack efficiency: one row whose padding algebra closes and " +
      "matches the tensor frame (only the final sequence pads)") {
    val tens = Sampling.packSequencesTensor(
      graft.model.Tables.documents(spark, TestSpark.sf0001))
    val nSeq = tens.count()
    val nTok = tens.collect().map(_.getLong(2)).sum
    val row = Sampling.queries("profile_pack_efficiency")(
      spark, TestSpark.sf0001).collect()
    assert(row.length == 1)
    val (s, t, p, e) = (row(0).getLong(0), row(0).getLong(1),
      row(0).getLong(2), row(0).getDouble(3))
    assert(s == nSeq && t == nTok && p == 64 * s - t)
    // only the final sequence pads under this packer
    assert(p >= 0 && p < 64)
    assert(e > 0.0 && e <= 1.0)
  }

  test("unpackSequences inverts the packer from the tensor frame alone: " +
      "every document's raw id stream reconstructs exactly — count, " +
      "order, and mid-sequence stitching included") {
    import org.apache.spark.sql.functions._
    val docs = graft.model.Tables.documents(spark, TestSpark.sf0001)
    val got = Sampling.queries("sample_pack_roundtrip")(
      spark, TestSpark.sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    // the identity side, derived from raw text (the oracle's claim,
    // re-derived in Scala so this spec stands alone)
    val words = docs.select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "word")))
      .filter(length(col("word")) > 0)
    val vocab = words.select("word").distinct().orderBy("word")
      .collect().map(_.getString(0)).zipWithIndex
      .map { case (w, i) => w -> (i + 1L) }.toMap
    val want = words.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .groupBy(_._1).toSeq.sortBy(_._1).zipWithIndex
      .map { case ((_, rs), i) =>
        val ids = rs.sortBy(_._2).map(t => vocab(t._3))
        (i + 1L, ids.length.toLong, ids.mkString(" "))
      }
    assert(got == want)
    // stitching was real: at least one doc spans a sequence boundary
    // (its id count exceeds what one window could hold alongside BOS)
    assert(want.exists(_._2 >= 64))
  }

  test("pack tensor plan: every join broadcasts (vocab and offsets are " +
      "model-sized) — no sort-merge join in the executed plan") {
    val df = Sampling.packSequencesTensor(
      graft.model.Tables.documents(spark, TestSpark.sf0001))
    df.collect() // let AQE finalize the plan before inspecting it
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"), plan.take(800))
    assert(plan.contains("BroadcastHashJoin"), plan.take(800))
  }

  test("contrastive negatives: each anchor gets 1 label-mate positive " +
      "and 3 cross-label negatives, stable under repartition") {
    import org.apache.spark.sql.functions._
    val out = Sampling.queries("sample_negatives_contrastive")(
      spark, TestSpark.sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val labels = graft.model.Tables.embeddings(spark, TestSpark.sf0001)
      .select("vec_id", "label").as[(Long, Long)].collect().toMap
    val byAnchor = out.groupBy(_._1)
    assert(byAnchor.keySet == (0L until 20L).toSet)
    byAnchor.foreach { case (a, rows) =>
      val pos = rows.filter(_._2 == "pos")
      val neg = rows.filter(_._2 == "neg")
      assert(pos.length == 1 && neg.length == 3, s"anchor $a")
      assert(labels(pos.head._3) == labels(a) && pos.head._3 != a)
      neg.foreach(n => assert(labels(n._3) != labels(a), s"anchor $a"))
      assert(neg.map(_._4).sorted.toSeq == Seq(1L, 2L, 3L))
    }
    // determinism: the md5 rank key is a pure function of the data
    val again = Sampling.queries("sample_negatives_contrastive")(
      spark, TestSpark.sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(again.toSeq == out.toSeq)
  }

  test("temperatureMixRanked equals the windowed temperatureMix " +
      "row-for-row at every range count — bucketing affects only " +
      "partitioning, never ranks") {
    val docs = graft.model.Tables.documents(spark, TestSpark.sf0001)
    val want = Sampling.temperatureMix(docs).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(want.nonEmpty)
    for (ranges <- Seq(1, 3, 8)) {
      val got = Sampling.temperatureMixRanked(docs, ranges = ranges)
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
      assert(got == want, s"ranges=$ranges")
    }
  }

  test("curriculumRanked equals the windowed curriculum row-for-row at " +
      "every range count — difficulty-quantile bucketing affects only " +
      "partitioning, never ranks") {
    val docs = graft.model.Tables.documents(spark, TestSpark.sf0001)
    val want = Sampling.curriculum(docs).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
        r.getLong(3))).toSeq
    assert(want.nonEmpty)
    for (ranges <- Seq(1, 3, 8)) {
      val got = Sampling.curriculumRanked(docs, ranges = ranges)
        .collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2),
          r.getLong(3))).toSeq
      assert(got == want, s"ranges=$ranges")
    }
  }

  test("sample_kfold: every doc in exactly one of 5 folds, sizes near-uniform") {
    val assign = graft.SparkEntry.queries("sample_kfold")(
      spark, TestSpark.sf0001)
    val n = docs.count()
    assert(assign.count() == n) // total: one row per doc
    val folds = assign.groupBy("fold").count()
      .as[(Long, Long)].collect().toMap
    assert(folds.keySet.subsetOf((0L until 5L).toSet))
    assert(folds.values.sum == n)
    // 500 docs over 5 folds: expect ~100 each; 3σ of binomial ≈ ±27
    folds.values.foreach(c => assert(c > 60 && c < 140, folds.toString))
  }

  test("sample_splits: disjoint, total, deterministic, and near the " +
      "75/12.5/12.5 design rates") {
    val rows = Sampling.queries("sample_splits")(spark, TestSpark.sf0001)
      .collect().map(r => r.getLong(0) -> r.getString(1))
    val n = docs.count()
    assert(rows.length.toLong == n)             // total: every doc assigned
    assert(rows.map(_._1).distinct.length == rows.length) // one split each
    val byName = rows.groupBy(_._2).view.mapValues(_.size).toMap
    assert(byName.keySet == Set("train", "val", "test"))
    assert(math.abs(byName("train").toDouble / n - 0.75) < 0.08)
    assert(math.abs(byName("val").toDouble / n - 0.125) < 0.06)
    assert(math.abs(byName("test").toDouble / n - 0.125) < 0.06)
  }

  test("budget pack degenerate bucketing: constant sort key collapses the " +
      "quantile splits to one bucket and the result still matches") {
    // all n_chars equal ⇒ approxQuantile returns one distinct split ⇒
    // a single bucket; the two-level form must degrade gracefully to
    // the global-window result (ordering falls through to doc_id).
    val docs = (1L to 40L).map(i => (i, s"tok$i word $i common text"))
      .toDF("doc_id", "text")
      .withColumn("n_chars", lit(20L))
    val twoLevel = Sampling.budgetPack(docs, 120L, buckets = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    val global = Sampling.budgetPackGlobal(docs, 120L)
      .collect().map(r => (r.getLong(0), r.getLong(2)))
    assert(twoLevel.toSeq == global.toSeq && twoLevel.nonEmpty)
  }

  test("mixTemperature: τ=1 reproduces the natural mix exactly; τ=2 " +
      "realizes each language's rate within binomial tolerance and " +
      "upsamples the rarest language above its natural count") {
    // τ=1: every rate rounds to exactly 1.0 → one always-kept copy per
    // doc — output rows == input rows, all copies 0.
    val natural = Sampling.mixTemperature(docs, tau = 1.0).collect()
    assert(natural.length == docs.count())
    assert(natural.forall(r => r.getLong(1) == 0L))
    assert(natural.forall(r => math.abs(r.getDouble(3) - 1.0) < 1e-9))
    // τ=2: realized per-language counts track n_l·rate_l (expected
    // copies) within ~4σ of the fractional-accept binomial.
    val out = Sampling.mixTemperature(docs, tau = 2.0)
      .groupBy("lang").agg(count(lit(1)).as("kept"),
        first(col("rate")).as("rate"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2)))
      .toMap
    val byLang = docs.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((lang, n) <- byLang) {
      val (kept, rate) = out(lang)
      val expect = n * rate
      val sigma = math.sqrt(n.toDouble) / 2 + 1
      assert(math.abs(kept - expect) <= 4 * sigma,
        s"$lang kept=$kept expect=$expect n=$n rate=$rate")
      // determinism: a rerun keeps the identical multiset
    }
    val rarest = byLang.minBy(_._2)._1
    assert(out(rarest)._1 > byLang(rarest), "rarest language must upsample")
    val rerun = Sampling.mixTemperature(docs, tau = 2.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val first2 = Sampling.mixTemperature(docs, tau = 2.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rerun == first2)
  }

  test("60-bit uniform parity: Spark conv-path equals the direct " +
      "BigInteger parse of the md5 prefix") {
    // pins the exactness claim the mix oracle relies on: first 15 hex
    // chars parse to the same long in [0, 2^60), never negative.
    val rows = docs.limit(64)
      .select(col("doc_id"),
        md5(concat(lit("mix1:"), col("doc_id").cast("string"))).as("h"),
        conv(substring(md5(concat(lit("mix1:"), col("doc_id").cast("string"))), 1, 15), 16, 10)
          .cast("long").as("u"))
      .collect()
    rows.foreach { r =>
      val want = new java.math.BigInteger(r.getString(1).take(15), 16).longValueExact()
      assert(r.getLong(2) == want && want >= 0 && want < (1L << 60))
    }
  }

  test("lengthBucketBatches: bins hold only lengths in [2^b, 2^(b+1)), " +
      "batches within a bin are dense with at most batchSize members, " +
      "and ranks are invariant to the range-bucketing dial") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    val got = Sampling.lengthBucketBatches(docs, batchSize = 16, ranges = 32)
      .as[(Long, Long, Long, Long)].collect()
    assert(got.length == docs.count())
    got.foreach { case (id, n, bin, _) =>
      val lo = if (bin == 0) 0L else 1L << bin
      assert(n >= lo && n < (1L << (bin + 1)), s"doc $id: n=$n bin=$bin")
    }
    got.groupBy(t => (t._3, t._4)).foreach { case ((bin, batch), rows) =>
      assert(rows.length <= 16, s"bin $bin batch $batch overfull")
    }
    got.groupBy(_._3).foreach { case (bin, rows) =>
      val batches = rows.map(_._4).distinct.sorted
      assert(batches.toSeq == (0L until batches.length).toSeq,
        s"bin $bin batches not dense")
      // only the LAST batch may be partial
      val sizes = rows.groupBy(_._4).view.mapValues(_.length)
      batches.dropRight(1).foreach(b =>
        assert(sizes(b) == 16, s"bin $bin batch $b partial"))
    }
    val oneRange = Sampling.lengthBucketBatches(docs, 16, ranges = 1)
      .as[(Long, Long, Long, Long)].collect()
    assert(oneRange.sortBy(_._1).toSeq == got.sortBy(_._1).toSeq)
  }

  test("interleaveBySource: a 4-doc and an 8-doc source interleave " +
      "proportionally — the exact hand-computed (progress, source) order") {
    val docs = ((1L to 4L).map(i => (i, "a")) ++
      (11L to 18L).map(i => (i, "b"))).toDF("doc_id", "source")
    val got = Sampling.interleaveBySource(docs)
      .select("doc_id").as[Long].collect().toSeq
    assert(got == Seq(11L, 1L, 12L, 13L, 2L, 14L, 15L, 3L, 16L, 17L, 4L, 18L),
      got.toString)
  }

  test("quotaTopK: at most k rows per source, exactly the k longest by " +
      "(n_chars desc, doc_id), stable under repartition") {
    val k = 5
    val out = Sampling.quotaTopK(docs, k).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val bySource = out.groupBy(_._2)
    bySource.foreach { case (src, rows) =>
      assert(rows.length <= k, s"$src exceeded the quota")
      assert(rows.map(_._4).sorted.toSeq == (1L to rows.length).toSeq)
    }
    // oracle semantics re-derived driver-side on the raw table
    val raw = docs.select("doc_id", "source", "n_chars")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    raw.groupBy(_._2).foreach { case (src, rows) =>
      val want = rows.sortBy(t => (-t._3, t._1)).take(k).map(_._1).toSet
      val got = bySource.getOrElse(src, Array.empty).map(_._1).toSet
      assert(got == want, s"$src quota mismatch")
    }
    val shuffled = Sampling.quotaTopK(docs.repartition(13), k).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(shuffled.toSeq == out.toSeq)
  }

  test("weightedTopK: exactly k rows ranked 1..k by the rounded A-ES key, " +
      "biased toward heavier docs, repartition-stable, top-k not a sort") {
    val k = 25
    val out = Sampling.weightedTopK(docs, k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(out.length == k)
    assert(out.map(_._4).sorted.toSeq == (1L to k).toSeq)
    // rank order is (skey desc, doc_id): walking ranks never increases skey
    val byRank = out.sortBy(_._4)
    byRank.sliding(2).foreach { case Array(a, b) =>
      assert(a._3 > b._3 || (a._3 == b._3 && a._1 < b._1))
    }
    // the weight does its job: the kept set skews long (mean n_chars of
    // the sample clearly above the corpus mean)
    val corpusMean = docs.agg(avg("n_chars")).head.getDouble(0)
    val keptMean = out.map(_._2).sum.toDouble / k
    assert(keptMean > corpusMean, s"kept $keptMean vs corpus $corpusMean")
    val shuffled = Sampling.weightedTopK(docs.repartition(11), k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(shuffled.toSeq == out.toSeq)
    // scale shape: the k-cut plans as TakeOrderedAndProject (per-partition
    // heaps), not a global Sort + Limit
    val plan = Sampling.weightedTopK(docs, k)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("packBalanced: bins partition the corpus, doc counts differ by " +
      "at most 1, and token-total spread stays under one max document") {
    val bins = Sampling.packBalanced(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(bins.map(_._1).toSeq == (0L until 16L).toSeq)
    assert(bins.map(_._2).sum == docs.count())
    assert(bins.map(_._2).max - bins.map(_._2).min <= 1)
    // serpentine dealing on the size-sorted order bounds imbalance by
    // (roughly) one pass spread — far below one largest document.
    val spread = bins.map(_._3).max - bins.map(_._3).min
    assert(spread <= bins.map(_._4).max,
      s"token spread $spread exceeds the largest doc ${bins.map(_._4).max}")
  }

  test("shuffleShards: total (every doc exactly once), positions dense " +
      "1..shard_size, order decorrelated from doc_id, repartition-stable") {
    val n = docs.count()
    val out = Sampling.shuffleShards(docs, 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length == n && out.map(_._1).distinct.length == n)
    out.groupBy(_._2).foreach { case (shard, rows) =>
      assert(shard >= 0 && shard < 8)
      assert(rows.map(_._3).sorted.toSeq == (1L to rows.length).toSeq,
        s"shard $shard positions not dense")
    }
    // the permutation actually shuffles: within a shard, walking in pos
    // order must NOT walk doc_ids in order (a sorted permutation would
    // mean the hash order degenerated to id order)
    val big = out.groupBy(_._2).values.maxBy(_.length)
    val idsInPosOrder = big.sortBy(_._3).map(_._1).toSeq
    assert(idsInPosOrder != idsInPosOrder.sorted)
    val re = Sampling.shuffleShards(docs.repartition(13), 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(re.sortBy(_._1).toSeq == out.sortBy(_._1).toSeq)
  }

  test("segment ids at production windows (r16, VERDICT r15 #2): the " +
      "linear window-prefix form is BIT-IDENTICAL to the slice-sum " +
      "definition — prefix_sum(doc_start)[i] + 1 - doc_start[0] — at " +
      "windows 64, 2048, and 8192, with zero padding intact") {
    val docs = Tables.documents(spark, TestSpark.sf0001)
    for (w <- Seq(64, 2048, 8192)) {
      val rows = Sampling.packSequencesTensor(docs, window = w).collect()
      assert(rows.nonEmpty)
      var sawMultiDoc = false
      rows.foreach { r =>
        val n = r.getLong(r.fieldIndex("n_tokens")).toInt
        val bnd = r.getSeq[Long](r.fieldIndex("doc_start")).take(n)
        val seg = r.getSeq[Long](r.fieldIndex("segment_ids"))
        val adj = 1L - bnd.head
        var acc = 0L
        val expect = bnd.map { b => acc += b; acc + adj }
        assert(seg.take(n) == expect,
          s"window $w seq ${r.getLong(0)}: linear form diverged " +
            "from the slice-sum definition")
        assert(seg.drop(n).forall(_ == 0L),
          s"window $w: padding must stay zero")
        if (expect.nonEmpty && expect.last > 1L) sawMultiDoc = true
      }
      assert(sawMultiDoc,
        s"window $w: the corpus must pack multiple docs per sequence " +
          "for the prefix to be exercised")
    }
  }

  test("assembleSequences (mapPartitions, r17) is row-identical to the " +
      "declarative r16 form — every column, both special-token " +
      "contracts, at window 8 (mid-sequence carries on every rule) " +
      "and the gated window 64") {
    val perDoc = Sampling.wordPerDocIds(docs)
    // the mapPartitions form no longer carries its own trailing orderBy
    // (every registered consumer re-sorts), so the pin compares both
    // forms under the same explicit seq_id order — seq_id is unique, so
    // this is still a full row-for-row identity
    def render(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.orderBy("seq_id").collect().map(_.toString).toSeq
    // raw id 0 (UNK) on every 7th word id, so the UNK-faithful layout's
    // mask exclusion and the base layout's 0 sentinel are both exercised
    val perDocUnk = perDoc.select(col("doc_id"),
      transform(col("ids"), x => when(x % 7 === 0L, lit(0L)).otherwise(x))
        .as("ids"))
    for (w <- Seq(8, 64); unk <- Seq(false, true);
         (in, label) <- Seq((perDoc, "word ids"), (perDocUnk, "with UNKs"))) {
      val wide = Sampling.wideFromPerDoc(in, w, 8, unkFaithful = unk)
      assert(render(Sampling.assembleSequences(wide, w, unkFaithful = unk)) ==
        render(assembleSequencesDeclarative(wide, w, unkFaithful = unk)),
        s"window $w unkFaithful=$unk ($label) diverged")
    }
  }

  /** The r16-era declarative assembly, the executable spec the pack
    * kernel ([[Sampling.packOne]] behind [[Sampling.assembleSequences]])
    * is pinned against. It shares no code with the kernel: segment ids
    * are a Window prefix sum, n_docs a countDistinct over doc_id, and
    * the arrays come from collect_list + array_sort + pad expressions.
    * Input: the (seq_id, spos, id, bnd, doc_id) grid of
    * [[Sampling.wideFromPerDoc]] built under the same `unkFaithful`. */
  private def assembleSequencesDeclarative(
      wide: org.apache.spark.sql.DataFrame, window: Int,
      unkFaithful: Boolean): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.expressions.Window
    val pad = (n: Column) =>
      array_repeat(lit(0L), (lit(window) - n).cast("int"))
    // segment ids: cumulative bnd sum over the sequence, +1 when the
    // sequence opens mid-document (the carried partial doc is
    // segment 1 either way)
    val wSeq = Window.partitionBy(col("seq_id")).orderBy(col("spos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val segAdj = (seg0: Column) => transform(seg0,
      x => x + lit(1L) - element_at(col("bnd0"), 1))
    // next-token labels: ids[i+1] unless position i+1 opens a new
    // document or i is the last real position; 0 = ignore. Both
    // element_at calls are guarded by i < size, so the bound never
    // overruns under ANSI.
    val labReal = transform(
      sequence(lit(1), size(col("ids0"))),
      i => when(i < size(col("ids0")) &&
          element_at(col("bnd0"), i + 1) === 0L,
        element_at(col("ids0"), i + 1)).otherwise(lit(0L)))
    // loss mask: 1 exactly where the PADDED labels carry a real target;
    // under the UNK-faithful layout the reserved UNK id is excluded
    val labArr = concat(labReal, pad(size(col("ids0"))))
    val supervised = (x: Column) =>
      if (unkFaithful) x =!= 0L && x =!= lit(Sampling.UnkId) else x =!= 0L
    wide.withColumn("segp", sum(col("bnd")).over(wSeq))
      .groupBy(col("seq_id"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_tokens"),
        transform(array_sort(collect_list(struct(col("spos"), col("id")))),
          x => x.getField("id")).as("ids0"),
        transform(array_sort(collect_list(struct(col("spos"), col("bnd")))),
          x => x.getField("bnd")).as("bnd0"),
        transform(array_sort(collect_list(struct(col("spos"), col("segp")))),
          x => x.getField("segp")).as("seg0"))
      .select(col("seq_id"), col("n_docs"), col("n_tokens"),
        concat(col("ids0"), pad(size(col("ids0")))).as("ids"),
        concat(col("bnd0"), pad(size(col("bnd0")))).as("doc_start"),
        transform(labArr,
          x => when(supervised(x), lit(1L)).otherwise(lit(0L)))
          .as("loss_mask"),
        concat(segAdj(col("seg0")), pad(size(col("bnd0"))))
          .as("segment_ids"),
        labArr.as("labels"))
      .orderBy("seq_id")
  }
}
