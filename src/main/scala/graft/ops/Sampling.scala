package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** Deterministic corpus-sampling operators — the curation stages a
  * training-data pipeline runs after quality filtering and dedup
  * (builder north star; the reference itself has no sampling surface,
  * so these are EXT keys like the dedup/similarity layer).
  *
  * Why not `df.sample()`: Spark's sampler is seeded per-partition, so
  * the kept set changes whenever partitioning changes (new file split,
  * AQE, repartition) — useless for a reproducible 100 TB corpus cut.
  * Every operator here instead derives a uniform from a cryptographic
  * hash of the ROW (md5 over a salt + stable id), so the decision is a
  * pure map-side function of the data: re-runs, re-partitions and both
  * engines agree row-for-row, and sampling composes with resume (a
  * re-run after failure keeps exactly the same rows).
  *
  * Uniform construction: `md5(salt || id)` is 128 uniform bits as hex.
  *   - Fixed rates compare the hex STRING against a constant threshold
  *     (lowercase-hex lexicographic == numeric; zero float arithmetic).
  *   - Computed rates parse the first 15 hex chars (60 bits, exact in
  *     a long; 2^60 is a power of two so the /2^60 scaling is lossless
  *     in double) and compare the resulting uniform in [0,1) to the
  *     rate — the same IEEE ops DuckDB runs, so the oracle matches.
  *
  * At 100 TB: `sample_hash` / `sample_stratified` are pure map-side
  * filters (no shuffle, no state); `sample_mix_equalize` adds one tiny
  * per-source count aggregate broadcast back; `sample_budget_pack` is
  * the distributed prefix-sum pattern (see its comment).
  */
object Sampling {

  /** 128-bit row hash as lowercase hex — the sampling uniform. */
  private def rowHex(salt: String, id: Column): Column =
    md5(concat(lit(salt), id.cast("string")))

  /** First 60 hash bits as an exact uniform double in [0,1). */
  private[ops] def rowUniform(salt: String, id: Column): Column =
    conv(substring(rowHex(salt, id), 1, 15), 16, 10)
      .cast("long").cast("double") / pow2_60

  /** Two-key uniform (doc, copy) — for replicate-and-accept decisions
    * where each COPY of a row needs its own independent draw. */
  private[ops] def rowUniform2(salt: String, id: Column, copy: Column): Column =
    conv(substring(md5(concat(lit(salt), id.cast("string"), lit(":"),
      copy.cast("string"))), 1, 15), 16, 10)
      .cast("long").cast("double") / pow2_60

  private val pow2_60 = 1152921504606846976.0 // 2^60, exact in double

  /** Hex thresholds: first nibble n keeps n/16 of the mass. */
  private def thr(firstNibbles: String): String =
    firstNibbles + "0" * (32 - firstNibbles.length)

  // Per-language stratified rates: halve the dominant language, keep
  // the rest — the usual rebalancing cut. zh is upsampled-by-not-cutting
  // (deterministic sampling can only thin; >1 rates need replication,
  // which is sample_mix_equalize's job to avoid).
  private val langThr: Seq[(String, String)] = Seq(
    "en" -> thr("8"), // 50 %
    "de" -> thr("c"), // 75 %
    "es" -> thr("c"),
    "fr" -> thr("c"),
    "zh" -> thr("g")) // 'g' > any hex char: keep all

  private[ops] def stratThreshold(lang: Column): Column =
    langThr.tail.foldLeft(when(lang === langThr.head._1, langThr.head._2)) {
      case (acc, (l, t)) => acc.when(lang === l, t)
    }.otherwise(thr("4")) // unknown languages: 25 %

  /** Greedy token-budget pack: walk docs in priority order (longest
    * first — stand-in for any per-doc quality score), keep while the
    * running token total stays within budget. The running sum is the
    * classic DISTRIBUTED PREFIX SUM, not one global window (a single
    * `Window.orderBy` with no partition is a one-partition sort — the
    * canonical 100 TB scale-killer):
    *   1. bucket rows by equal-frequency ranges of the sort key
    *      (approxQuantile splits — bucketing only affects partitioning,
    *      never the result, so the sketch's inexactness is harmless);
    *   2. per-bucket token totals (tiny: `buckets` rows) get a window
    *      cumsum to become per-bucket OFFSETS — the only global window,
    *      over O(buckets) rows;
    *   3. each row's exact prefix sum = its bucket's offset + a window
    *      cumsum PARTITIONED by bucket (parallel across buckets).
    * At 100 TB, pick buckets ~ sqrt(n) so both levels stay bounded; the
    * `buckets` parameter is that dial.
    */
  def budgetPack(docs: DataFrame, budget: Long, buckets: Int): DataFrame = {
    val toks = Text.tokenCount(col("text")).cast("long")
    val base = docs.select(col("doc_id"), col("n_chars"), toks.as("n_tokens"))
    val probes = (1 until buckets).map(_.toDouble / buckets).toArray
    val splits = base.stat.approxQuantile("n_chars", probes, 0.001)
      .distinct.sorted
    // monotone in the sort key ⇒ (bkt desc, n_chars desc) == n_chars desc
    val bkt = splits.foldLeft(lit(0)) { (acc, s) =>
      acc + when(col("n_chars") >= lit(s), 1).otherwise(0)
    }
    val rows = base.withColumn("bkt", bkt)
    val offsets = rows.groupBy(col("bkt"))
      .agg(sum(col("n_tokens")).as("btot"))
      .withColumn("off", coalesce(sum(col("btot")).over(
        Window.orderBy(col("bkt").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bkt"), col("off"))
    val inBkt = Window.partitionBy(col("bkt"))
      .orderBy(col("n_chars").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rows.join(broadcast(offsets), "bkt")
      .withColumn("cum_tokens", col("off") + sum(col("n_tokens")).over(inBkt))
      .filter(col("cum_tokens") <= budget)
      .select(col("doc_id"), col("n_tokens"), col("cum_tokens"))
      .orderBy("doc_id")
  }

  /** Fixed-length training-sequence packing — the step that turns a
    * cleaned corpus into what the trainer actually consumes: docs
    * concatenate in doc_id order into one token stream, and the stream
    * cuts into fixed `window`-token sequences; a doc spans every
    * sequence its token range touches. The report is per-sequence
    * (doc count, doc span, token fill) — the packing decision itself,
    * model-input-sized.
    *
    * Scale shape: each doc's EXCLUSIVE global token offset is the same
    * two-level distributed prefix sum as [[budgetPack]] (range-bucket
    * by doc_id, per-bucket totals cumsum to offsets over O(buckets)
    * rows, heavy level partitioned by bucket — never one global
    * window); the doc→sequence scatter is linear in Σ sequences-per-doc
    * (≤ len/window + 1) and the final rollup is one keyed aggregate.
    * Window boundaries are pure integer arithmetic on offsets, so the
    * DuckDB oracle (a plain global cumsum — correct at oracle scale,
    * the scale-killer Spark must avoid) replays it exactly. */
  def packSequences(docs: DataFrame, window: Int = 64,
      buckets: Int = 8): DataFrame = {
    val spans = docTokenOffsets(docs, buckets)
      .withColumn("seq_id", explode(sequence(
        expr(s"CAST(off div $window AS BIGINT)"),
        expr(s"CAST((off + n - 1) div $window AS BIGINT)"))))
      .withColumn("fill",
        least(col("off") + col("n"), (col("seq_id") + 1) * window) -
          greatest(col("off"), col("seq_id") * window))
    spans.groupBy(col("seq_id"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"),
        sum(col("fill")).as("n_tokens"))
      .orderBy("seq_id")
  }

  /** (doc_id, n, off): each doc's token count and EXCLUSIVE global
    * token offset in doc_id order — the two-level distributed prefix
    * sum extracted from [[packSequences]] so [[packSequencesTensor]]
    * shares the identical offsets (range-bucket by doc_id, per-bucket
    * totals cumsum over O(buckets) rows, heavy level partitioned by
    * bucket — never one global window). */
  private def docTokenOffsets(docs: DataFrame, buckets: Int): DataFrame = {
    val nToks = size(filter(Text.words(col("text")),
      w => length(w) > 0)).cast("long")
    docOffsetsFromCounts(
      docs.select(col("doc_id"), nToks.as("n")), buckets)
  }

  /** The two-level exclusive prefix sum over an arbitrary per-doc
    * count frame (doc_id, n) — shared by the word-level packers and
    * the BPE-symbol-level [[graft.ops.CorpusPrep]] tensor pipeline. */
  private[ops] def docOffsetsFromCounts(countsIn: DataFrame,
      buckets: Int): DataFrame = {
    val base = countsIn.filter(col("n") > 0)
    val probes = (1 until buckets).map(_.toDouble / buckets).toArray
    val splits =
      if (probes.isEmpty) Array.empty[Double]
      else base.stat.approxQuantile("doc_id", probes, 0.001).distinct.sorted
    val bkt = splits.foldLeft(lit(0)) { (acc, s) =>
      acc + when(col("doc_id") >= lit(s), 1).otherwise(0)
    }
    val rows = base.withColumn("bkt", bkt)
    val offsets = rows.groupBy(col("bkt"))
      .agg(sum(col("n")).as("btot"))
      .withColumn("boff", coalesce(sum(col("btot")).over(
        Window.orderBy(col("bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bkt"), col("boff"))
    val inBkt = Window.partitionBy(col("bkt")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rows.join(broadcast(offsets), "bkt")
      .withColumn("off", col("boff") + sum(col("n")).over(inBkt) - col("n"))
  }

  /** CURRICULUM ordering — the training-order policy curriculum
    * learning uses (easy → hard): per-doc difficulty = −(mean unigram
    * log-probability) (the gated perplexity-lite score; higher =
    * rarer words = harder), phases 1–4 by corpus quartile (the exact
    * same exact-`percentile` + broadcast-threshold pattern
    * [[EventWindows.rfmSegments]] gates — never a global ntile sort),
    * and a deterministic within-phase rank by (difficulty, doc_id).
    *
    * Scale note: the within-phase rank window partitions by phase — 4
    * hot keys at 100 TB; the swap is [[curriculumRanked]] — the
    * two-level [[withGroupRank]] machinery with level-1 ranges cut on
    * difficulty quantiles — REGISTERED as sample_curriculum_ranked
    * with the identical oracle and a result-identity spec (VERDICT
    * r10 "Next round" #6: the last documented-not-executed hot-key
    * window retired). Difficulty is the 6-dp-ROUNDED score on both
    * engines, so quartile thresholds and rank order are ulp-proof. */
  def curriculum(docs: DataFrame): DataFrame =
    curriculumPhased(docs).withColumn("rnk", row_number().over(
        Window.partitionBy("phase")
          .orderBy(col("difficulty"), col("doc_id"))).cast("long"))
      .select(col("doc_id"), col("difficulty"), col("phase"), col("rnk"))
      .orderBy("doc_id")

  /** The (doc_id, difficulty, phase) frame shared by [[curriculum]]
    * and [[curriculumRanked]] so the quartile arithmetic can never
    * drift between the windowed and two-level forms. */
  private def curriculumPhased(docs: DataFrame): DataFrame = {
    // localCheckpoint at the multi-evaluation boundary (standing
    // convention; r16 optimization round): difficulty is consumed by
    // the quartile agg, the phase projection, and — through
    // withGroupRank — the range-split approxQuantile, the offsets agg
    // and the final rank, FIVE evaluations of the unigram-logprob
    // subtree (scan → explode words → vocab join → agg) without a cut;
    // the measured sf0.1 plan re-ran that subtree 5× (24 parquet scans
    // / 70 exchanges in sample_curriculum_ranked's physical plan).
    // The checkpointed frame is doc-count-sized (doc_id, difficulty).
    val diff = TermStats.unigramLogprob(docs)
      .select(col("doc_id"),
        round(-col("avg_logprob"), 6).as("difficulty"))
      .localCheckpoint()
    val q = diff.agg(
      percentile(col("difficulty"), lit(0.25)).as("q1"),
      percentile(col("difficulty"), lit(0.5)).as("q2"),
      percentile(col("difficulty"), lit(0.75)).as("q3"))
    diff.crossJoin(broadcast(q))
      .select(col("doc_id"), col("difficulty"),
        (lit(1) + (col("difficulty") > col("q1")).cast("int")
          + (col("difficulty") > col("q2")).cast("int")
          + (col("difficulty") > col("q3")).cast("int"))
          .cast("long").as("phase"))
  }

  /** [[curriculum]] with the per-phase rank window SWAPPED for the
    * two-level [[withGroupRank]] machinery (the temperatureMixRanked
    * precedent): level-1 ranges cut on DIFFICULTY quantiles — a
    * numeric column monotone in the rank order's prefix, so equal
    * difficulties always share a range and bucketing affects only
    * partitioning, never ranks; per-(phase, range) counts cumsum to
    * offsets over O(4 × ranges) broadcast rows; the heavy row_number
    * runs partitioned by (phase, range) — no phase ever lands on one
    * partition. Result-identical to the windowed form by construction
    * (SamplingSpec collect-asserts it at ranges 1/3/8; the registered
    * key shares the windowed oracle verbatim). */
  def curriculumRanked(docs: DataFrame, ranges: Int = 8): DataFrame =
    withGroupRank(curriculumPhased(docs), "phase", ranges,
        bucketCol = "difficulty",
        orderCols = Seq(col("difficulty"), col("doc_id")))
      .withColumn("rnk", col("rk").cast("long"))
      .select(col("doc_id"), col("difficulty"), col("phase"), col("rnk"))
      .orderBy("doc_id")

  /** The per-language target CASE column (model-sized language table,
    * integer-exact derivation) — shared by the windowed and two-level
    * ranked forms of the temperature mix so the α-mixing arithmetic
    * can never drift between them. */
  private def tmixTargetCol(docs: DataFrame, budget: Long): Column = {
    val counts = docs.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_l")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1)
    val w = counts.map { case (l, n) =>
      l -> math.floor(math.sqrt(n.toDouble) * 1000000L).toLong
    }
    val totW = w.map(_._2).sum
    w.foldLeft(lit(0L)) { case (acc, (l, wi)) =>
      when(col("lang") === l, lit(budget * wi / totW)).otherwise(acc)
    }
  }

  private def tmixKeyed(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"))
      .withColumn("skey",
        md5(concat_ws("|", lit("tmix:"), col("doc_id"))))

  /** TEMPERATURE-MIXED language sampling — the α-mixing rule
    * multilingual LLM corpora are actually built with (mT5: sample
    * language ℓ with p_ℓ ∝ n_ℓ^α, α<1, so low-resource languages are
    * UP-weighted relative to their share): per-language targets for a
    * doc `budget` at α = 0.5, then the top-target docs per language by
    * the seeded-md5 rank every sampling key uses (stable under
    * repartition/AQE where df.sample is not).
    *
    * Determinism discipline: the target derivation is INTEGER-exact on
    * both engines — wᵢ = ⌊√nᵢ·10⁶⌋ (IEEE sqrt is correctly rounded, so
    * the double pipeline is bit-identical), W = Σwᵢ exact BIGINT,
    * targetᵢ = (budget·wᵢ) div W — no float sum ever crosses a floor.
    * The language table is model-sized (a 5-row collect under the
    * standing license); the corpus-sized pass is the rank cut.
    *
    * Scale note: the per-language rank window partitions by lang — 5
    * hot keys at 100 TB; the swap is [[temperatureMixRanked]] — the
    * two-level machinery with level-1 ranges cut on the md5 key's
    * quantiles instead of doc_id (bucketing affects only partitioning,
    * never ranks) — REGISTERED as sample_temperature_mix_ranked with
    * the identical oracle and a result-identity spec. */
  def temperatureMix(docs: DataFrame, budget: Long = 200L): DataFrame = {
    val targetCol = tmixTargetCol(docs, budget)
    tmixKeyed(docs)
      .withColumn("rnk", row_number().over(
        Window.partitionBy("lang").orderBy(col("skey"), col("doc_id")))
        .cast("long"))
      .filter(col("rnk") <= targetCol)
      .select(col("doc_id"), col("lang"), col("rnk"))
      .orderBy("doc_id")
  }

  /** [[temperatureMix]] with the per-language rank window SWAPPED for
    * the two-level machinery (VERDICT r9 "Next round" #7 — the 100 TB
    * claim made executable, not prose): the windowed form partitions
    * by lang — 5 hot keys, each language's whole corpus share on one
    * partition. Here level-1 ranges cut on the md5 key's NUMERIC
    * PREFIX quantiles (the first 15 hex chars as a long — fixed-width
    * lowercase hex, so prefix-numeric order IS string order, and rows
    * with equal prefixes share a range: bucketing affects only
    * partitioning, never ranks); per-(lang, range) counts cumsum to
    * offsets over O(langs × ranges) broadcast rows; the heavy
    * row_number runs partitioned by (lang, range) — no language ever
    * lands on one partition. Result-identical to the windowed form by
    * construction (SamplingSpec collect-asserts it; the registered key
    * shares the windowed oracle verbatim). */
  def temperatureMixRanked(docs: DataFrame, budget: Long = 200L,
      ranges: Int = 8): DataFrame = {
    val targetCol = tmixTargetCol(docs, budget)
    val base = tmixKeyed(docs)
      .withColumn("sk15",
        conv(substring(col("skey"), 1, 15), 16, 10).cast("long"))
    withGroupRank(base, "lang", ranges, bucketCol = "sk15",
        orderCols = Seq(col("skey"), col("doc_id")))
      .withColumn("rnk", col("rk").cast("long"))
      .filter(col("rnk") <= targetCol)
      .select(col("doc_id"), col("lang"), col("rnk"))
      .orderBy("doc_id")
  }

  /** RESERVED token ids of the packed-tensor layout (VERDICT r10
    * "Next round" #5 — the special-token contract every real trainer
    * ships). Two layouts, selected by one `unkFaithful` flag wherever a
    * pack is built:
    *   - base: 0 = padding / UNK / ignore, 1 = BOS, 2 = EOS; REAL
    *     vocabulary ids start at 3 (raw 1-based ids shift by +2);
    *   - UNK-faithful (r12 — the inverse-completeness gap
    *     [[unpackSequences]]' precondition documents, closed):
    *     0 = padding ONLY, 1 = BOS, 2 = EOS, 3 = UNK, real ids ≥ 4
    *     (shift +3). Reserving a separate UNK id is what makes an
    *     INFERENCE pack information-complete — the base layout folds
    *     UNK into the pad sentinel, so its unpack cannot tell a dropped
    *     token from a trailing pad. An UNK target is still never
    *     supervised: [[packOne]]'s loss mask excludes label =
    *     [[UnkId]] under this layout.
    * The reserved space is a property of the packed TRAINING layout;
    * the tokenizer artifact's own id space stays 1-based and
    * unshifted. */
  private[ops] val BosId = 1L
  private[ops] val EosId = 2L
  private[ops] val IdShift = 2L
  private[graft] val UnkId = 3L
  private[ops] val IdShiftUnk = 3L

  /** [[BosId]] ++ shifted `ids` ++ [[EosId]] for one document's RAW
    * 1-based id array — the one wrap both packers apply (the batch
    * [[wideFromPerDoc]] and the streaming
    * [[graft.streaming.Streams.packStream]]). Raw id 0 (UNK from the
    * inference path) maps to 0 under the base layout and to [[UnkId]]
    * under the UNK-faithful one; it is never shifted into the reserved
    * range. Zero-token docs must already be absent from a batch pack
    * (they contribute no BOS/EOS — the same drop rule as the
    * encoders). */
  private[graft] def withSpecials(ids: Column,
      unkFaithful: Boolean): Column = {
    val (unk, shift) =
      if (unkFaithful) (UnkId, IdShiftUnk) else (0L, IdShift)
    concat(array(lit(BosId)),
      transform(ids, x => when(x === 0L, lit(unk)).otherwise(x + lit(shift))),
      array(lit(EosId)))
  }

  /** (seq_id, spos, id, bnd, doc_id) grid from per-doc id ARRAYS with
    * the special-token contract applied — the single wide-frame
    * builder shared by [[packSequencesTensor]] and the BPE-symbol
    * capstones ([[graft.ops.TermStats.tensorPrep]] /
    * `inferencePrep`), so the offset arithmetic, the BOS/EOS
    * insertion, and the boundary flags can never drift between the
    * word-level and symbol-level packers. Offsets are the shared
    * two-level prefix sum over the EXTENDED counts (n + 2 per doc —
    * never a global window); bnd marks the BOS position (= where the
    * document begins in the packed stream). */
  private[graft] def wideFromPerDoc(perDoc: DataFrame, window: Int,
      buckets: Int, unkFaithful: Boolean = false): DataFrame =
    // The ids ARRAY rides through the prefix-sum pass on its own row
    // (docOffsetsFromCounts preserves input columns), so each doc's
    // offset lands beside its ids with NO doc-level join at all — the
    // only joins in the pack plan are the broadcast bucket-offsets
    // (O(buckets) rows) and the vocab; the pre-r11 form paid a second
    // corpus pass plus a per-doc join here. The extended frame
    // MATERIALIZES once (localCheckpoint — the trainingMix
    // stage-boundary pattern): docOffsetsFromCounts evaluates its
    // input three times (quantile probe, bucket totals, the rows
    // side), and re-running the per-doc explode → vocab join →
    // collect chain per evaluation tripled the pack keys' wall time
    // (measured in the r11 closing capture: pack_segments 3.6 → 7.5 s
    // before this cut, 1 corpus pass + 3 checkpoint scans after).
    docOffsetsFromCounts(
      perDoc.select(col("doc_id"),
          withSpecials(col("ids"), unkFaithful).as("ids"))
        .withColumn("n", size(col("ids")).cast("long"))
        .localCheckpoint(), buckets)
      .select(col("doc_id"), col("off"),
        posexplode(col("ids")).as(Seq("sp", "id")))
      .withColumn("gpos", col("off") + col("sp"))
      .withColumn("seq_id", expr(s"CAST(gpos div $window AS BIGINT)"))
      .withColumn("spos", expr(s"CAST(gpos % $window AS BIGINT)"))
      .withColumn("bnd",
        when(col("sp") === 0, lit(1L)).otherwise(lit(0L)))

  /** Per-doc RAW id arrays → packed tensor sequences: [[wideFromPerDoc]]
    * then [[assembleSequences]]. The one `unkFaithful` flag reaches
    * both, so the grid's reserved-id layout and the loss mask's UNK
    * rule cannot disagree. Every tensor packer ([[packSequencesTensor]]
    * and TermStats' tensor/inference capstones) builds through here. */
  private[graft] def packPerDoc(perDoc: DataFrame, window: Int,
      buckets: Int, unkFaithful: Boolean = false): DataFrame =
    assembleSequences(wideFromPerDoc(perDoc, window, buckets, unkFaithful),
      window, unkFaithful)

  /** TRAINER-READY tensor form of sequence packing (VERDICT r8 "Next
    * round" #2; r10 #5 special tokens): where [[packSequences]]
    * reports the packing DECISION, this emits the frame a data loader
    * actually consumes — per `window`-token sequence, fixed-length
    * `ArrayType(LongType)` columns: `ids` (each document wrapped
    * BOS … EOS, vocabulary ids shifted past the reserved range —
    * 0 = pad, 1 = BOS, 2 = EOS, real ids ≥ 3), `doc_start` (1 at each
    * BOS — the attention-reset/boundary mask), and `loss_mask`
    * (1 exactly where `labels` holds a real supervision target: EOS
    * is supervised, BOS and padding are not; see
    * [[assembleSequences]]).
    *
    * Scale shape: per-doc id arrays are one keyed collect (the same
    * bounded-by-doc-length shape [[graft.ops.TermStats.bpeIdsTensor]]
    * gates); extended counts feed the SHARED two-level prefix sum
    * (never a global window); the sequence assembly is one keyed
    * aggregate collecting ≤ `window` elements per group. One corpus
    * scan total — counts now derive from the collected arrays, so the
    * former second narrow text pass is gone. The registered key gates
    * the string projection of every array (hash-safe); SamplingSpec
    * pins the array forms (fixed length, mask algebra, special-token
    * placement, zip-to-string). */
  def packSequencesTensor(docs: DataFrame, window: Int = 64,
      buckets: Int = 8): DataFrame =
    packPerDoc(wordPerDocIds(docs), window, buckets)

  /** The word-level (doc_id, ids) arrays behind [[packSequencesTensor]]:
    * alphabetic word ids in position order. Factored out (r17) so the
    * assembly-equivalence pin can build the same wide frame. */
  private[graft] def wordPerDocIds(docs: DataFrame): DataFrame = {
    val toks = docs
      .select(col("doc_id"),
        posexplode(Text.words(col("text"))).as(Seq("pos", "word")))
      .filter(length(col("word")) > 0)
    val vocab = Scale.assignIdsByRange(
      toks.select(col("word")).distinct(), "word")
    toks.join(vocab, "word")
      .groupBy(col("doc_id"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("id")))),
        x => x.getField("id")).as("ids"))
  }

  /** One packed sequence: the eight columns every packer emits, in
    * this order. The arrays are `window` long and 0-padded. Both the
    * batch [[assembleSequences]] and the streaming
    * [[graft.streaming.Streams.packStream]] build it through the one
    * kernel [[packOne]]. The fields are primitive arrays so the encoder
    * writes them as `ArrayType(LongType, containsNull = false)`
    * without boxing. */
  final case class PackedSeq(seq_id: Long, n_docs: Long, n_tokens: Long,
    ids: Array[Long], doc_start: Array[Long], loss_mask: Array[Long],
    segment_ids: Array[Long], labels: Array[Long])

  /** THE pack kernel: one sequence from its first `n` real (id, bnd)
    * positions, `bnd` = 1 on each document's BOS. Every array is built
    * in one O(window) pass, and each rule below lives only here:
    *   - labels (r10/r11 next-token targets): labels[k] = ids[k+1]
    *     unless position k+1 opens a new document (its BOS is never a
    *     target) or k is the last real position (the continuation lives
    *     in the next sequence); 0 = ignore. With the BOS/EOS layout EOS
    *     is supervised and BOS never is, with no extra cases;
    *   - loss_mask (r11/r12): 1 exactly where labels carries a real
    *     target — label 0 never, and under the UNK-faithful layout the
    *     reserved [[UnkId]] never;
    *   - segment_ids (r9, linear form r16): the prefix sum of bnd, +1
    *     when the sequence opens mid-document, so the first real
    *     position is always segment 1 and padding stays 0;
    *   - n_docs: the last real segment id. Documents are contiguous and
    *     each opens with a BOS, so this is the number of distinct
    *     documents the sequence touches (SamplingSpec pins max(segment)
    *     == n_docs). */
  private[graft] def packOne(seqId: Long, ids: Array[Long],
      bnds: Array[Long], n: Int, window: Int,
      unkFaithful: Boolean): PackedSeq = {
    val idsW = new Array[Long](window)
    val dst = new Array[Long](window)
    System.arraycopy(ids, 0, idsW, 0, n)
    System.arraycopy(bnds, 0, dst, 0, n)
    val seg = new Array[Long](window)
    val lab = new Array[Long](window)
    val mask = new Array[Long](window)
    var run = 1L - bnds(0)
    var k = 0
    while (k < n) {
      run += bnds(k)
      seg(k) = run
      if (k + 1 < n && bnds(k + 1) == 0L) {
        lab(k) = ids(k + 1)
        if (lab(k) != 0L && !(unkFaithful && lab(k) == UnkId)) mask(k) = 1L
      }
      k += 1
    }
    PackedSeq(seqId, run, n.toLong, idsW, dst, mask, seg, lab)
  }

  /** The batch packer shared by [[packSequencesTensor]] and the
    * BPE-symbol pipeline. Input needs (seq_id, spos, id, bnd) — the
    * [[wideFromPerDoc]] grid; `unkFaithful` must match the layout that
    * grid was built with, which is why both take the same flag.
    *
    * r17 (optimization round 2, VERDICT r16 "Next round" #1): ONE
    * exchange (hash by seq_id) plus a sort, then one mapPartitions pass
    * over the (seq_id, spos)-sorted rows — each task walks its sorted
    * runs once and hands each run to [[packOne]]. This replaced the
    * r16-era declarative form (a Window prefix sum, an Expand +
    * countDistinct aggregate, three collect_list + array_sort passes
    * and a transform/pad expression forest); SamplingSpec keeps that
    * form as the executable spec and pins row identity against it. */
  private[graft] def assembleSequences(wide: DataFrame,
      window: Int, unkFaithful: Boolean = false): DataFrame = {
    import org.apache.spark.sql.{Encoders, Row}
    val w = window
    wide
      .select(col("seq_id").cast("long"), col("spos").cast("long"),
        col("id").cast("long"), col("bnd").cast("long"))
      // every sequence's rows become a contiguous sorted run in one task
      .repartition(col("seq_id"))
      .sortWithinPartitions("seq_id", "spos")
      .mapPartitions { it =>
        val ids = new Array[Long](w)
        val bnds = new Array[Long](w)
        new Iterator[PackedSeq] {
          private var pending: Row = null
          override def hasNext: Boolean = pending != null || it.hasNext
          override def next(): PackedSeq = {
            var cur = if (pending != null) pending else it.next()
            pending = null
            val seqId = cur.getLong(0)
            var n = 0
            while (cur != null) {
              ids(n) = cur.getLong(2)
              bnds(n) = cur.getLong(3)
              n += 1
              cur = null
              if (it.hasNext) {
                val nxt = it.next()
                if (nxt.getLong(0) == seqId) cur = nxt else pending = nxt
              }
            }
            packOne(seqId, ids, bnds, n, w, unkFaithful)
          }
        }
      }(Encoders.product[PackedSeq])
      .toDF()
    // NO trailing global orderBy (r17, VERDICT r16 "Next round" #6):
    // every registered consumer re-establishes its own output order
    // (the tensor keys' final .orderBy("seq_id"), unpack's
    // .orderBy("doc_n"), profile_pack_efficiency's global agg).
    // unpackSequences reads positions from (seq_id, spos) arithmetic,
    // never from row order.
  }

  /** UNPACK — the packer's inverse (r11): from the packed tensor frame
    * ALONE (ids + doc_start arrays, nothing else), reconstruct every
    * document's original raw id stream — what a dataloader-side
    * validation pass runs to prove the packed dataset is
    * INFORMATION-COMPLETE before training burns GPU-hours on it. The
    * special-token contract is what makes this well-defined: BOS marks
    * (= doc_start) delimit documents across sequence boundaries,
    * padding is id 0, and the interior ids unshift by −2 back to the
    * raw vocabulary ids. Carried mid-sequence docs stitch back
    * together by global position (seq_id · window + spos).
    *
    * PRECONDITION — word-level packs only (ADVICE r11 #2): the padding
    * strip below drops EVERY id-0 position, which is lossless exactly
    * when 0 appears only as tail padding — true of
    * [[packSequencesTensor]]'s word-id streams (ids ≥ 1 before the
    * shift). It is NOT the inverse of the INFERENCE pack
    * ([[graft.ops.TermStats.inferencePrep]]), whose streams reuse 0
    * in-window as the UNK sentinel: unpacking such a tensor silently
    * drops the UNK positions (their count survives in n_tokens, their
    * places do not). An UNK-faithful inverse needs the pack to keep
    * UNK distinguishable from padding — not a smarter unpacker:
    * interior-vs-tail zero position is genuinely ambiguous at the
    * final sequence's tail. That inverse EXISTS as of r12:
    * `unkFaithful = true` inverts the UNK-faithful [[withSpecials]] layout
    * (0 = padding only, 3 = UNK, real ids ≥ 4), mapping UNK back to
    * the raw stream's 0 sentinel — the registered
    * sample_pack_unk_roundtrip key gates pack → unpack ≡ identity on
    * the INFERENCE stream, UNK positions included.
    *
    * Scale shape: the document index is a prefix COUNT of boundary
    * marks over the global position order — the same two-level form as
    * every packing prefix sum (range-bucket on seq_id by quantiles,
    * per-bucket bnd totals cumsum over O(buckets) broadcast rows,
    * within-bucket window) — never one global window; the per-doc
    * reassembly is the usual bounded keyed collect. The registered
    * key's oracle derives the IDENTITY side directly from the raw text
    * (per-doc alphabetic word ids in position order), so the hash gate
    * binds pack → unpack ≡ identity end-to-end. */
  def unpackSequences(packed: DataFrame, window: Int = 64,
      buckets: Int = 8, unkFaithful: Boolean = false): DataFrame = {
    val shift = if (unkFaithful) IdShiftUnk else IdShift
    val toks = packed
      .select(col("seq_id"),
        posexplode(arrays_zip(col("ids"), col("doc_start")))
          .as(Seq("sp", "z")))
      .select(col("seq_id"),
        (col("seq_id") * window + col("sp")).as("gpos"),
        col("z.ids").as("id"), col("z.doc_start").as("bnd"))
      // strip padding: exact under the base contract for WORD-level
      // packs (no in-window zeros) and under the UNK-faithful
      // contract for EVERY pack (0 is padding only there)
      .filter(col("id") =!= 0L)
      // stage boundary: quantile probe + bucket totals + the rows side
      // are three evaluations of this frame — materialize once (the
      // same triple-evaluation cut as wideFromPerDoc, measured 8.8 →
      // ~2 s isolated)
      .localCheckpoint()
    val probes = (1 until buckets).map(_.toDouble / buckets).toArray
    val splits =
      if (probes.isEmpty) Array.empty[Double]
      else toks.stat.approxQuantile("seq_id", probes, 0.001)
        .distinct.sorted
    val rng = splits.foldLeft(lit(0)) { (acc, s) =>
      acc + when(col("seq_id") >= lit(s), 1).otherwise(0)
    }
    val rows = toks.withColumn("rng", rng)
    val offs = rows.groupBy(col("rng"))
      .agg(sum(col("bnd")).as("btot"))
      .withColumn("boff", coalesce(sum(col("btot")).over(
        Window.orderBy(col("rng"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("rng"), col("boff"))
    val inRng = Window.partitionBy(col("rng")).orderBy(col("gpos"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rows.join(broadcast(offs), "rng")
      // inclusive boundary cumsum: the stream opens with a BOS, so
      // this is the dense 1-based document index
      .withColumn("doc_n", col("boff") + sum(col("bnd")).over(inRng))
      // interior only: strip BOS/EOS, unshift to the raw vocab ids
      .filter(col("id") =!= BosId && col("id") =!= EosId)
      .groupBy(col("doc_n"))
      .agg(count(lit(1)).as("n_ids"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("gpos"), col("id")))),
          // UNK-faithful: the reserved UNK id inverts to the raw
          // stream's 0 sentinel; everything else unshifts
          x => when(lit(unkFaithful) && x.getField("id") === UnkId,
              lit(0L))
            .otherwise(x.getField("id") - shift)
            .cast("string"))).as("ids"))
      .orderBy("doc_n")
  }

  /** Sequence-length bucketing for batch assembly: bin docs by
    * power-of-2 token length (so batch members pad to at most 2× the
    * shortest — the standard dynamic-batching move), then give every
    * doc a deterministic batch number within its bin. The within-bin
    * rank uses the SAME two-level prefix-sum machinery as
    * [[budgetPack]], with the level-1 ranges cut on doc_id (bucketing
    * affects only partitioning, never ranks): per-(bin, range) counts
    * get a per-bin window cumsum over O(bins × ranges) rows, and the
    * heavy level-2 rank runs partitioned by (bin, range) — no bin ever
    * lands on one partition, which a plain per-bin window would force.
    * The bin itself is a fold of integer comparisons against powers of
    * two (floor(log2) without touching libm — log2 of an exact power is
    * engine-ulp territory; `n >= 2^k` is not). */
  /** 1-based rank within `grp` via the two-level machinery: range
    * buckets cut by approxQuantile on `bucketCol` (which must be a
    * numeric column MONOTONE in the `orderCols` prefix — equal values
    * always share a bucket, so bucketing affects only partitioning,
    * never ranks), per-(grp, range) counts cumsum to offsets over
    * O(groups × ranges) rows, then the heavy rank runs partitioned by
    * (grp, range) — no group ever lands on a single partition. Shared
    * by [[lengthBucketBatches]] (rank within length bin, doc_id
    * order), [[interleaveBySource]] (rank within source), and
    * [[temperatureMixRanked]] (rank within lang by the md5 sampling
    * key, bucketed on its numeric prefix). */
  private def withGroupRank(rows: DataFrame, grp: String,
      ranges: Int, bucketCol: String = "doc_id",
      orderCols: Seq[Column] = Seq(col("doc_id"))): DataFrame = {
    val probes = (1 until ranges).map(_.toDouble / ranges).toArray
    val splits =
      if (probes.isEmpty) Array.empty[Double]
      else rows.stat.approxQuantile(bucketCol, probes, 0.001).distinct.sorted
    val rng = splits.foldLeft(lit(0)) { (acc, s) =>
      acc + when(col(bucketCol) >= lit(s), 1).otherwise(0)
    }
    val r = rows.withColumn("rng", rng)
    val offsets = r.groupBy(col(grp), col("rng"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("off", coalesce(sum(col("cnt")).over(
        Window.partitionBy(col(grp)).orderBy(col("rng"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col(grp), col("rng"), col("off"))
    val inRange = Window.partitionBy(col(grp), col("rng"))
      .orderBy(orderCols: _*)
    r.join(broadcast(offsets), Seq(grp, "rng"))
      .withColumn("rk", col("off") + row_number().over(inRange))
      .drop("rng", "off")
  }

  /** Exact GLOBAL 1-based rank by (n_tokens desc, doc_id) with no
    * one-partition sort: range-bucket on the sort key itself
    * (approxQuantile probes; equal key values always share a bucket, so
    * bucket-descending + within-bucket ordering IS the global order),
    * per-bucket counts cumsum to offsets over O(ranges) rows, and the
    * heavy row_number runs partitioned by bucket. The bucketing affects
    * only partitioning, never ranks (SamplingSpec asserts equality with
    * the global window). */
  private def withGlobalSizeRank(rows: DataFrame, ranges: Int): DataFrame = {
    val probes = (1 until ranges).map(_.toDouble / ranges).toArray
    val splits =
      if (probes.isEmpty) Array.empty[Double]
      else rows.stat.approxQuantile("n_tokens", probes, 0.001).distinct.sorted
    val rng = splits.foldLeft(lit(0)) { (acc, s) =>
      acc + when(col("n_tokens") >= lit(s), 1).otherwise(0)
    }
    val r = rows.withColumn("rng", rng)
    val offsets = r.groupBy(col("rng")).agg(count(lit(1)).as("cnt"))
      .withColumn("off", coalesce(sum(col("cnt")).over(
        Window.orderBy(col("rng").desc)
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("rng"), col("off"))
    val inRange = Window.partitionBy(col("rng"))
      .orderBy(col("n_tokens").desc, col("doc_id"))
    r.join(broadcast(offsets), Seq("rng"))
      .withColumn("rk", col("off") + row_number().over(inRange))
      .drop("rng", "off")
  }

  /** Balanced shard packing — assign every document to one of `nbins`
    * training shards so per-shard TOTAL tokens come out nearly equal:
    * rank docs by size (largest first), then deal ranks out in
    * SERPENTINE order (left-to-right, then right-to-left — pass p gives
    * bin `p%2==0 ? pos : nbins-1-pos`), the classic deterministic
    * stand-in for first-fit-decreasing that needs no sequential state:
    * each bin's k-th card is within one "pass spread" of every other
    * bin's, so imbalance is bounded by one document per pass boundary.
    * The FFD greedy itself is inherently sequential (each placement
    * reads all bin totals) — that loop is exactly what cannot run
    * distributed, and serpentine-by-rank is the standard substitute.
    * Ranking uses [[withGlobalSizeRank]] (no one-partition sort); the
    * assignment is map-side arithmetic; the output is the per-shard
    * audit (counts, token totals, largest doc). */
  /** Per-document serpentine shard assignment (doc_id, n_tokens, bin) —
    * the map [[packBalanced]] rolls up and [[trainingOrder]] joins. */
  private[ops] def packAssignments(docs: DataFrame, nbins: Int,
      ranges: Int): DataFrame = {
    val base = docs.select(col("doc_id"),
      Text.tokenCount(col("text")).cast("long").as("n_tokens"))
    withGlobalSizeRank(base, ranges)
      .withColumn("pass", expr(s"(rk - 1) div $nbins"))
      .withColumn("pos", pmod(col("rk") - 1, lit(nbins)))
      .withColumn("bin",
        when(pmod(col("pass"), lit(2)) === 0, col("pos"))
          .otherwise(lit(nbins - 1) - col("pos")).cast("long"))
      .select(col("doc_id"), col("n_tokens"), col("bin"))
  }

  def packBalanced(docs: DataFrame, nbins: Int = 16,
      ranges: Int = 32): DataFrame =
    packAssignments(docs, nbins, ranges)
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tok_total"),
        max(col("n_tokens")).as("max_doc"))
      .orderBy("bin")

  /** Curriculum ordering — the anneal-from-clean schedule: phase docs
    * by corpus-relative quality quartile (the integer stopword-density
    * score in parts-per-million — exact BIGINT arithmetic, so the
    * quartile thresholds are deterministic interpolations of integers),
    * then shuffle deterministically WITHIN each phase by the 60-bit md5
    * uniform. Consuming rows in (phase desc, shuffle_key) order trains
    * on the cleanest prose first and anneals toward the noisy tail —
    * with the schedule being a SORT KEY, not a sequential process.
    * Map-side except the one broadcast quartile aggregate; no window at
    * all (the rank, if a consumer needs one, is the two-level machinery
    * of [[withGlobalSizeRank]]). */
  def curriculumOrder(docs: DataFrame): DataFrame = {
    val base = docs
      .withColumn("n_stop",
        graft.functions.WordSetCount.word_set_count(col("text"), Text.stop)
          .cast("long"))
      .withColumn("n_words", size(Text.words(col("text"))).cast("long"))
      .withColumn("score", expr("(n_stop * 1000000) div n_words"))
    val q = base.agg(
      percentile(col("score").cast("double"), lit(0.25)).as("q1"),
      percentile(col("score").cast("double"), lit(0.5)).as("q2"),
      percentile(col("score").cast("double"), lit(0.75)).as("q3"))
    base.crossJoin(broadcast(q))
      .withColumn("phase",
        (when(col("score") >= col("q1"), 1).otherwise(0) +
          when(col("score") >= col("q2"), 1).otherwise(0) +
          when(col("score") >= col("q3"), 1).otherwise(0)).cast("long"))
      .withColumn("shuffle_key",
        conv(substring(rowHex("cur:", col("doc_id")), 1, 15), 16, 10)
          .cast("long"))
      .select(col("doc_id"), col("score"), col("phase"), col("shuffle_key"))
      .orderBy(col("phase").desc, col("shuffle_key"), col("doc_id"))
  }

  /** The per-document TRAINING ORDER CARD — the one frame a training
    * loader actually consumes: which size-balanced shard to read
    * (serpentine bin from [[packAssignments]]), the curriculum phase,
    * and the deterministic in-phase shuffle key. A loader reads its
    * shard and sorts by (phase desc, shuffle_key) — clean prose first,
    * annealing to the noisy tail, shuffled reproducibly inside each
    * phase. One equi-join on doc_id composes the two standalone
    * operators (each oracle-gated on its own); everything else is the
    * same map-side arithmetic. */
  def trainingOrder(docs: DataFrame, nbins: Int = 16,
      ranges: Int = 32): DataFrame =
    curriculumOrder(docs)
      .join(packAssignments(docs, nbins, ranges).select("doc_id", "bin"),
        Seq("doc_id"))
      .select(col("doc_id"), col("bin"), col("phase"), col("shuffle_key"))
      .orderBy(col("bin"), col("phase").desc, col("shuffle_key"), col("doc_id"))

  def lengthBucketBatches(docs: DataFrame, batchSize: Int = 16,
      ranges: Int = 32): DataFrame = {
    val toks = Text.tokenCount(col("text")).cast("long")
    val bin = (1 to 20).foldLeft(lit(0)) { (acc, k) =>
      acc + when(col("n_tokens") >= lit(1L << k), 1).otherwise(0)
    }
    val base = docs.select(col("doc_id"), toks.as("n_tokens"))
      .withColumn("bin", bin)
    withGroupRank(base, "bin", ranges)
      .select(col("doc_id"), col("n_tokens"), col("bin").cast("long").as("bin"),
        ((col("rk") - 1) / batchSize).cast("long").as("batch_id"))
      .orderBy("doc_id")
  }

  /** Proportional deterministic source interleave — the training ORDER
    * operator: each source's k-th document sits at progress k/n_src, so
    * consuming rows in (progress, source) order visits sources
    * proportionally to their size (no source starves, none floods the
    * front of training). The sort KEY is computed distributed (group
    * ranks via [[withGroupRank]], counts broadcast); the total order is
    * the consumer's sort, not a global window here. */
  def interleaveBySource(docs: DataFrame, ranges: Int = 32): DataFrame = {
    val base = docs.select(col("doc_id"), col("source"))
    val counts = broadcast(
      base.groupBy(col("source")).agg(count(lit(1)).as("n_src")))
    withGroupRank(base, "source", ranges)
      .join(counts, Seq("source"))
      .select(col("doc_id"), col("source"),
        col("rk").as("rank_in_source"),
        round(col("rk").cast("double") / col("n_src"), 9).as("progress"))
      .orderBy("progress", "source")
  }

  /** Single-global-window composed form of [[budgetPack]] — semantically
    * identical (SamplingSpec asserts equality; the DuckDB oracle runs
    * this shape), kept as the executable spec and as the baseline for
    * what the one-partition sort costs as n grows (SCALE_r06.md). */
  private[graft] def budgetPackGlobal(docs: DataFrame, budget: Long): DataFrame = {
    val w = Window.orderBy(col("n_chars").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select(col("doc_id"), col("n_chars"),
        Text.tokenCount(col("text")).cast("long").as("n_tokens"))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= budget)
      .select(col("doc_id"), col("n_tokens"), col("cum_tokens"))
      .orderBy("doc_id")
  }

  /** Equalize-mix rate table: per-language (lang, n_lang, p_keep =
    * min_count / count), broadcast. ONE definition of the rate table
    * shared by [[mixEqualize]] and the composed curation pipeline
    * (CorpusPrep.trainingMix) so the two can never drift. */
  private[ops] def mixRates(docs: DataFrame): DataFrame = {
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
    val minN = counts.agg(min(col("n_lang")).as("mn"))
    broadcast(
      counts.crossJoin(broadcast(minN))
        .select(col("lang"), col("n_lang"),
          (col("mn").cast("double") / col("n_lang")).as("p_keep")))
  }

  /** The equalize-mix accept predicate over a frame joined to
    * [[mixRates]] — single definition of the salt and comparison. */
  private[ops] def mixAccept: Column =
    rowUniform("mix1:", col("doc_id")) < col("p_keep")

  /** Equalize the language mix: thin every language to the rarest
    * language's volume, deterministically — the standard rebalancing
    * cut before training (the corpus' sources are uniform by
    * construction, so `lang` is the skewed mixing axis). One tiny count
    * aggregate (|langs| rows) broadcast back onto the corpus; the
    * accept test is the 60-bit uniform against p = min_count / count.
    */
  def mixEqualize(docs: DataFrame): DataFrame =
    docs.join(mixRates(docs), "lang")
      .filter(mixAccept)
      .select(col("doc_id"), col("lang"), col("n_lang"),
        round(col("p_keep"), 6).as("p_keep"))
      .orderBy("doc_id")

  /** Temperature-based mix with UPSAMPLING — completes the mixing family
    * (equalize can only thin; real training mixes also replicate rare
    * sources). Target share of language l ∝ (n_l/N)^(1/τ); its per-doc
    * replication rate is the volume-preserving
    *   rate_l = (n_l^(1/τ) / Σ_k n_k^(1/τ)) · N / n_l
    * — τ=1 is the natural mix (every rate exactly 1 after rounding),
    * τ→∞ approaches equal shares; rates > 1 REPLICATE rare languages.
    *
    * Replicate-and-accept, fully deterministic: each doc explodes into
    * ⌈rate⌉ candidate copies; copies below ⌊rate⌋ are always kept, the
    * one fractional copy is kept iff the 60-bit uniform keyed by
    * (doc_id, copy) clears the fractional part — so expected copies =
    * rate, and the kept multiset is a pure function of the data
    * (repartition/AQE/resume-stable, like every sampler here).
    *
    * Oracle discipline: the rate is ROUNDED to 6 dp on both engines
    * before the accept compare — the only non-IEEE-pinned op in the rate
    * (pow and the Σ over languages) agrees across engines well inside
    * 1e-6, so the rounded rates are identical and the accept decisions
    * hash-match. Scale shape: one |langs|-row aggregate broadcast back;
    * the explode is map-side with fan-out ⌈rate⌉ (model-sized maximum —
    * the worst case is N/n_min); no shuffle beyond the final sort.
    */
  def mixTemperature(docs: DataFrame, tau: Double = 2.0): DataFrame = {
    val counts = docs.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
    val tot = counts.agg(sum(col("n_lang")).cast("double").as("n"),
      sum(pow(col("n_lang").cast("double"), lit(1.0 / tau))).as("z"))
    val rates = broadcast(
      counts.crossJoin(broadcast(tot))
        .select(col("lang"), col("n_lang"),
          round(pow(col("n_lang").cast("double"), lit(1.0 / tau))
            / col("z") * col("n") / col("n_lang"), 6).as("rate")))
    docs.join(rates, "lang")
      .select(col("doc_id"), col("lang"), col("rate"),
        explode(sequence(lit(0L), ceil(col("rate")) - 1)).as("copy_id"))
      .filter(col("copy_id") < floor(col("rate")) ||
        (col("copy_id") === floor(col("rate")) &&
          rowUniform2("mixT:", col("doc_id"), col("copy_id"))
            < col("rate") - floor(col("rate"))))
      .select(col("doc_id"), col("copy_id"), col("lang"), col("rate"))
      .orderBy("doc_id", "copy_id")
  }

  /** Per-source quality QUOTA — keep the best `k` documents of every
    * source, ranked by a deterministic quality key (n_chars DESC — the
    * corpus' honest quality proxy — with doc_id as total tie-break).
    * The per-domain cap every curation pipeline applies so no single
    * crawl domain dominates the mix.
    *
    * Shape: one row_number window partitioned by source — the shuffle
    * is keyed by source, each partition holds one source's rows. At
    * 100 TB a pathological mega-source would make that one reducer hot;
    * the fix is a per-partition local top-k (mapPartitions heap or a
    * (source, salt) pre-rank) BEFORE the window so each reducer sees at
    * most parts×k rows — the same two-level shape as budgetPack. The
    * single-window form here is the semantic spec; k rows per source is
    * tiny, so the pre-top-k refinement changes cost, never results. */
  def quotaTopK(docs: DataFrame, k: Int = 40): DataFrame = {
    val w = Window.partitionBy("source")
      .orderBy(desc("n_chars"), asc("doc_id"))
    docs.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .select("doc_id", "source", "n_chars", "rk")
      .orderBy("doc_id")
  }

  /** Deterministic GLOBAL SHUFFLE into training shards — the "shuffle
    * the corpus before training" stage. Hash order (md5 over a salt +
    * id) destroys source/time locality the way a random permutation
    * would, but as a pure function of the data: re-runs, engines and
    * partitionings agree on the exact permutation. Each doc lands in
    * shard = hash mod nShards with pos = its rank in the shard's
    * hash order — a training loader reading shards round-robin sees a
    * reproducible global shuffle.
    *
    * Scale shape: shard assignment is map-side; the rank window is
    * PARTITIONED by shard, so shards sort independently in parallel.
    * nShards is the dial — at 100 TB pick corpus_bytes / ~512 MB
    * (thousands of shards), so each per-shard sort is one task-sized
    * run, never a global sort. */
  def shuffleShards(docs: DataFrame, nShards: Int = 8): DataFrame = {
    val h = rowHex("shuf1:", col("doc_id"))
    val w = Window.partitionBy("shard").orderBy("h", "doc_id")
    docs.select(col("doc_id"), h.as("h"))
      .withColumn("shard",
        pmod(conv(substring(col("h"), 1, 15), 16, 10).cast("long"),
          lit(nShards.toLong)))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select("doc_id", "shard", "pos")
      .orderBy("doc_id")
  }

  /** Weighted sampling WITHOUT replacement (Efraimidis–Spirakis A-ES,
    * IPL 2006): each doc draws priority key ln(u)/w — equivalent in
    * ordering to the classic u^(1/w) — and the sample is the top-k by
    * key. P(doc in sample) rises with its weight w (here `n_chars`,
    * the corpus' honest quality proxy), yet the draw stays a pure
    * function of the data: u is the 60-bit md5 uniform shifted to
    * (0, 1] (the +1 dodges ln(0) on both engines).
    *
    * Scale shape: the key is one map-side expression; the top-k is
    * `orderBy(...).limit(k)` which Spark plans as TakeOrderedAndProject
    * — per-partition k-heaps merged at the driver, never a global sort.
    * The rank window afterward runs over k rows (model-sized). The
    * oracle's single-window SQL is the semantic spec.
    *
    * Float discipline: ln is the one transcendental (Spark Math.log vs
    * DuckDB libm, each ≤1 ulp); the key is ROUNDED to 9 dp before
    * ranking on both engines so last-ulp noise cannot flip an order,
    * with doc_id as the total tie-break (same discipline as
    * text_tfidf_top's rounded-score ranking). */
  def weightedTopK(docs: DataFrame, k: Int = 100): DataFrame = {
    val u = (conv(substring(rowHex("wtk1:", col("doc_id")), 1, 15), 16, 10)
      .cast("long") + 1).cast("double") / pow2_60
    val key = round(log(u) / col("n_chars").cast("double"), 9)
    val top = docs
      .select(col("doc_id"), col("n_chars"), key.as("skey"))
      .orderBy(col("skey").desc, col("doc_id"))
      .limit(k)
    // rank window over exactly k rows — model-sized by construction.
    val w = Window.orderBy(col("skey").desc, col("doc_id"))
    top.withColumn("rk", row_number().over(w).cast("long"))
      .orderBy("doc_id")
  }

  /** Deterministic BOOTSTRAP resampling — B resamples-with-replacement
    * approximated the way every distributed engine does it (the Poisson
    * bootstrap): each row's multiplicity in replicate b is an
    * independent Poisson(1) draw, realized as the inverse CDF of the
    * (doc, replicate)-keyed 60-bit uniform against e⁻¹·Σ1/k! literal
    * thresholds — identical constants both engines parse, so every
    * multiplicity is reproducible and the whole resample survives
    * repartition/AQE/re-runs (the property none of `df.sample`'s
    * seeded variants have). Output: per-replicate draw count and the
    * resampled mean document length — the confidence-interval
    * machinery for any corpus statistic. Map-side explode of B
    * replicate tags, one keyed aggregate; nothing corpus². */
  def bootstrapMetrics(docs: DataFrame, b: Int = 3): DataFrame = {
    val tagged = docs
      .select(col("doc_id"), col("n_chars"),
        explode(sequence(lit(0), lit(b - 1))).as("rep"))
    val u = rowUniform2("boot1:", col("doc_id"), col("rep"))
    val k = when(u < 0.36787944117144233, 0L)
      .when(u < 0.7357588823428847, 1L)
      .when(u < 0.9196986029286058, 2L)
      .when(u < 0.9810118431238462, 3L)
      .when(u < 0.9963401531726563, 4L)
      .otherwise(5L)
    tagged.withColumn("k", k)
      .groupBy(col("rep").cast("long").as("rep"))
      .agg(sum(col("k")).as("n_draws"),
        round(sum(col("k") * col("n_chars")).cast("double") /
          sum(col("k")), 6).as("mean_chars"))
      .orderBy("rep")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Poisson-bootstrap replicate metrics (B=3), fully hash-gated.
    "sample_bootstrap" -> ((s, d) =>
      bootstrapMetrics(Tables.documents(s, d))),
    // uniform 25 % cut — one codegen'd map-side predicate, no shuffle.
    "sample_hash" -> ((s, d) =>
      Tables.documents(s, d)
        .filter(rowHex("s1:", col("doc_id")) < lit(thr("4")))
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy("doc_id")),
    // per-language rates — still one map-side predicate; the CASE chain
    // folds into the same codegen stage as the scan filter.
    "sample_stratified" -> ((s, d) =>
      Tables.documents(s, d)
        .filter(rowHex("s2:", col("doc_id")) < stratThreshold(col("lang")))
        .select(col("doc_id"), col("lang"), col("source"))
        .orderBy("doc_id")),
    "sample_mix_equalize" -> ((s, d) => mixEqualize(Tables.documents(s, d))),
    // serpentine shard packing by size rank — per-shard token totals.
    "sample_pack_balanced" -> ((s, d) => packBalanced(Tables.documents(s, d))),
    // NOTE: curriculumOrder (quality-quartile + shuffle) is gated
    // through pipeline_training_order below; the standalone
    // sample_curriculum key is the difficulty-based form further down
    // (a duplicate literal entry here was silently shadowed by it —
    // removed r11).
    // the composed per-doc card: shard bin + phase + shuffle key.
    "pipeline_training_order" -> ((s, d) =>
      trainingOrder(Tables.documents(s, d))),
    // τ=2 temperature mix: rare languages replicate (rate > 1), dominant
    // ones thin — deterministic replicate-and-accept.
    "sample_mix_temperature" -> ((s, d) =>
      mixTemperature(Tables.documents(s, d), tau = 2.0)),
    // deterministic train/val/test assignment (75/12.5/12.5): one hash,
    // disjoint + total by construction (nibble ranges partition the hex
    // space), stable under repartition — the split every training run
    // needs to be able to reproduce.
    "sample_splits" -> ((s, d) => {
      val h = rowHex("sp1:", col("doc_id"))
      Tables.documents(s, d)
        .select(col("doc_id"),
          when(h < lit(thr("c")), "train")
            .when(h < lit(thr("e")), "val")
            .otherwise("test").as("split"))
        .orderBy("doc_id")
    }),
    // the EXPORT MANIFEST a trainer's data loader consumes: per
    // (split, 64-doc shard) the doc count, token budget, and id range —
    // the same sample_splits assignment, token counting, and
    // range-shard layout the standalone keys gate, rolled into the
    // handoff artifact. One scan + one tiny keyed aggregate: the
    // manifest is shard-count-sized, never doc-sized.
    "pipeline_export_manifest" -> ((s, d) => {
      val h = rowHex("sp1:", col("doc_id"))
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(filter(Text.words(col("text")), w => length(w) > 0))
            .cast("long").as("n_tokens"),
          when(h < lit(thr("c")), "train")
            .when(h < lit(thr("e")), "val")
            .otherwise("test").as("split"),
          expr("CAST(doc_id div 64 AS BIGINT)").as("shard"))
        .groupBy(col("split"), col("shard"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          min(col("doc_id")).as("min_doc"),
          max(col("doc_id")).as("max_doc"))
        .orderBy("split", "shard")
    }),
    // K-FOLD assignment (k=5): fold = floor(u60·k) from the shared
    // 60-bit uniform — every doc lands in exactly one fold, folds are
    // ~uniform, and any (train = folds≠i, test = fold i) rotation is
    // reproducible from the table alone. Map-only; the u60 product and
    // floor are IEEE-identical on both engines (same double pipeline
    // every accept predicate here relies on).
    "sample_kfold" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          floor(rowUniform("kf1:", col("doc_id")) * 5).cast("long").as("fold"))
        .orderBy("doc_id")),
    // power-of-2 length bins → deterministic within-bin batch numbers.
    "sample_length_batches" -> ((s, d) =>
      lengthBucketBatches(Tables.documents(s, d))),
    // proportional source interleave (training order).
    "sample_interleave_sources" -> ((s, d) =>
      interleaveBySource(Tables.documents(s, d))),
    "sample_budget_pack" -> ((s, d) =>
      budgetPack(Tables.documents(s, d), budget = 12000L, buckets = 16)),
    // fixed 64-token training-sequence packing over the doc_id-ordered
    // token stream (two-level prefix sum; per-sequence doc-span report).
    "sample_pack_sequences" -> ((s, d) =>
      packSequences(Tables.documents(s, d))),
    // the TRAINER frame behind pack_sequences: fixed-64 token-id /
    // doc-boundary / loss-mask ARRAYS per sequence (the tensor form a
    // data loader consumes). The gate hashes the exact string
    // projection of every array — array content, order, and padding
    // all bind; SamplingSpec pins the ArrayType forms.
    "sample_pack_tensor" -> ((s, d) =>
      packSequencesTensor(Tables.documents(s, d))
        .select(col("seq_id"), col("n_docs"), col("n_tokens"),
          concat_ws(" ", transform(col("ids"),
            x => x.cast("string"))).as("ids"),
          concat_ws(" ", transform(col("doc_start"),
            x => x.cast("string"))).as("doc_start"),
          concat_ws(" ", transform(col("loss_mask"),
            x => x.cast("string"))).as("loss_mask"))
        .orderBy("seq_id")),
    // the SEGMENT-IDS tensor beside doc_start/loss_mask: per-token
    // document index within the sequence (1,1,1,2,2,…; 0 on padding) —
    // the attention-isolation input for trainers that block
    // cross-document attention. Same machinery, gated through the
    // string projection plus the array-derived max (= n_docs).
    "sample_pack_segments" -> ((s, d) =>
      packSequencesTensor(Tables.documents(s, d))
        .select(col("seq_id"), col("n_docs"), col("n_tokens"),
          concat_ws(" ", transform(col("segment_ids"),
            x => x.cast("string"))).as("segment_ids"),
          array_max(col("segment_ids")).as("n_segments"))
        .orderBy("seq_id")),
    // the NEXT-TOKEN LABELS tensor (the causal-LM target): ids shifted
    // left by one with 0 (= ignore) at document boundaries — a packed
    // trainer must not predict doc 2's first token from doc 1 — at the
    // sequence's last real position (the continuation lives in the
    // next sequence), and over padding. Gated through the string
    // projection plus two array-derived scalars (sum, #supervised).
    "sample_pack_labels" -> ((s, d) =>
      packSequencesTensor(Tables.documents(s, d))
        .select(col("seq_id"), col("n_docs"), col("n_tokens"),
          concat_ws(" ", transform(col("labels"),
            x => x.cast("string"))).as("labels"),
          aggregate(col("labels"), lit(0L), (a, x) => a + x)
            .as("labels_sum"),
          size(filter(col("labels"), x => x > 0L)).cast("long")
            .as("n_predict"))
        .orderBy("seq_id")),
    // UNPACK round-trip: packed tensors alone → per-doc raw id streams
    // (BOS-delimited stitch across sequences, padding stripped, ids
    // unshifted); the oracle derives the IDENTITY side from raw text,
    // so the gate proves the packed layout is information-complete.
    "sample_pack_roundtrip" -> ((s, d) =>
      unpackSequences(packSequencesTensor(Tables.documents(s, d)))),
    // packing-efficiency observability: the padding-waste row every
    // training-prep run should log (trainers budget GPU time by
    // token throughput; silent padding is silent cost). One tiny agg
    // over the tensor frame — only the final sequence ever pads under
    // this packer, so efficiency is a direct packer-correctness probe.
    "profile_pack_efficiency" -> ((s, d) =>
      packSequencesTensor(Tables.documents(s, d))
        .agg(count(lit(1)).as("n_sequences"),
          sum(col("n_tokens")).as("n_tokens_total"))
        .select(col("n_sequences"), col("n_tokens_total"),
          (col("n_sequences") * 64 - col("n_tokens_total"))
            .as("n_padding"),
          round(col("n_tokens_total").cast("double") /
            (col("n_sequences") * 64), 6).as("efficiency"))),
    // contrastive training-pair mining: per anchor one positive
    // (lowest-id label-mate) and 3 seeded-hash negatives from other
    // labels — the md5-rank "random" choice every sampling key uses,
    // so the pair set is a pure function of the data (df.sample's
    // partition seeding would reshuffle under AQE). Anchors broadcast;
    // the negative rank windows partition by anchor — never global.
    "sample_negatives_contrastive" -> ((s, d) => {
      val e = Tables.embeddings(s, d).select(col("vec_id"), col("label"))
      val anchors = broadcast(e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("a_id"), col("label").as("a_label")))
      val pos = anchors
        .join(e, col("label") === col("a_label") &&
          col("vec_id") =!= col("a_id"))
        .groupBy(col("a_id")).agg(min(col("vec_id")).as("cand_id"))
        .select(col("a_id"), lit("pos").as("role"), col("cand_id"),
          lit(1L).as("rnk"))
      val negs = anchors.join(e, col("label") =!= col("a_label"))
        .withColumn("skey",
          md5(concat_ws("|", col("a_id"), col("vec_id"))))
        .withColumn("rnk", row_number().over(
          Window.partitionBy("a_id").orderBy(col("skey"), col("vec_id")))
          .cast("long"))
        .filter(col("rnk") <= 3)
        .select(col("a_id"), lit("neg").as("role"),
          col("vec_id").as("cand_id"), col("rnk"))
      pos.unionByName(negs).orderBy("a_id", "role", "rnk")
    }),
    // curriculum ordering: quartile phases over the gated difficulty
    // score, deterministic within-phase order (easy → hard).
    "sample_curriculum" -> ((s, d) =>
      curriculum(Tables.documents(s, d))),
    // the SAME curriculum with the per-phase hot-key window swapped
    // for the two-level rank (ranges cut on difficulty quantiles) —
    // result-identical by construction, shares the windowed oracle
    // verbatim (VERDICT r10 "Next round" #6).
    "sample_curriculum_ranked" -> ((s, d) =>
      curriculumRanked(Tables.documents(s, d))),
    // mT5-style α=0.5 temperature mix over LANGUAGES (the non-uniform
    // axis of this corpus: en dominates, so the mix up-weights the
    // low-resource languages) — integer-exact targets, seeded-md5 cut.
    "sample_temperature_mix" -> ((s, d) =>
      temperatureMix(Tables.documents(s, d))),
    // the SAME mix with the per-lang hot-key window swapped for the
    // two-level rank (ranges cut on the md5 key's numeric-prefix
    // quantiles) — the executable form of the scale note, result-
    // identical by construction.
    "sample_temperature_mix_ranked" -> ((s, d) =>
      temperatureMixRanked(Tables.documents(s, d))),
    // per-source quality quota: best 10 docs per source by length
    // (sources are 25-doc uniform in this corpus, so the quota BINDS —
    // 200 of 500 rows survive).
    "sample_quota_topk" -> ((s, d) =>
      quotaTopK(Tables.documents(s, d), k = 10)),
    // deterministic global shuffle into 8 training shards.
    "sample_shuffle_shards" -> ((s, d) =>
      shuffleShards(Tables.documents(s, d), nShards = 8)),
    // weighted (quality-biased) 100-doc cut — A-ES priority top-k.
    "sample_weighted" -> ((s, d) =>
      weightedTopK(Tables.documents(s, d), k = 100))
  )

  private[ops] val tokRe = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"

  /** The temperature-mix gate SQL, extracted so the two-level ranked
    * form (identical results by construction) shares it verbatim. */
  private val tmixOracleSql: String =
    """WITH cnt AS (
      |  SELECT lang, count(*) AS n_l FROM documents GROUP BY lang),
      |w AS (
      |  SELECT lang,
      |         CAST(floor(sqrt(CAST(n_l AS DOUBLE)) * 1000000) AS BIGINT)
      |           AS wi
      |  FROM cnt),
      |tot AS (SELECT CAST(sum(wi) AS BIGINT) AS tw FROM w),
      |tgt AS (SELECT lang, (200 * wi) // tw AS target
      |        FROM w CROSS JOIN tot),
      |r AS (
      |  SELECT doc_id, lang,
      |         CAST(row_number() OVER (PARTITION BY lang
      |           ORDER BY md5('tmix:' || '|' || CAST(doc_id AS VARCHAR)),
      |             doc_id) AS BIGINT) AS rnk
      |  FROM documents)
      |SELECT doc_id, lang, rnk FROM r JOIN tgt USING (lang)
      |WHERE rnk <= target ORDER BY doc_id""".stripMargin

  /** The pack-tensor oracle's shared CTE chain through `wide`
    * (position-indexed token stream → BOS/EOS-extended per-doc stream
    * → exclusive global offsets over the EXTENDED counts →
    * (seq_id, spos, id, bnd) grid) — single source of truth for
    * sample_pack_tensor / _segments / _labels / profile_pack_efficiency,
    * so the window arithmetic and the special-token contract can never
    * drift between them. Reserved ids mirror the engine: 1 = BOS at
    * extended position 1 (also the bnd mark), 2 = EOS at position
    * n + 2, vocabulary ids = alphabetic row_number + 2. */
  private val packTensorWideCtes: String =
    """toks AS (
      |  SELECT doc_id, pos, word FROM (
      |    SELECT doc_id, words[i] AS word, i AS pos FROM (
      |      SELECT doc_id, string_split(text, ' ') AS words,
      |             unnest(range(1, len(string_split(text, ' ')) + 1)) AS i
      |      FROM documents))
      |  WHERE length(word) > 0),
      |tp AS (
      |  SELECT doc_id, word,
      |         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY pos)
      |           AS BIGINT) AS tpos
      |  FROM toks),
      |dl AS (SELECT doc_id, count(*) AS n FROM toks GROUP BY doc_id),
      |offs AS (
      |  SELECT doc_id,
      |         CAST(sum(n + 2) OVER (ORDER BY doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |           - (n + 2) AS BIGINT) AS off
      |  FROM dl),
      |vocab AS (
      |  SELECT word,
      |         CAST(row_number() OVER (ORDER BY word) + 2 AS BIGINT) AS id
      |  FROM (SELECT DISTINCT word FROM toks)),
      |ext AS (
      |  SELECT tp.doc_id, v.id, tp.tpos + 1 AS epos
      |  FROM tp JOIN vocab v USING (word)
      |  UNION ALL SELECT doc_id, 1 AS id, 1 AS epos FROM dl
      |  UNION ALL SELECT doc_id, 2 AS id, n + 2 AS epos FROM dl),
      |wide AS (
      |  SELECT e.doc_id, e.id,
      |         CAST((o.off + e.epos - 1) // 64 AS BIGINT) AS seq_id,
      |         CAST((o.off + e.epos - 1) % 64 AS BIGINT) AS spos,
      |         CASE WHEN e.epos = 1 THEN 1 ELSE 0 END AS bnd
      |  FROM ext e JOIN offs o USING (doc_id))""".stripMargin

  /** The difficulty-curriculum oracle — one global per-phase window,
    * the spec both the windowed [[curriculum]] and the two-level
    * [[curriculumRanked]] must replay exactly (shared verbatim by
    * both keys). */
  private val curriculumOracleSql: String =
    """WITH toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS word
      |  FROM documents),
      |tok AS (SELECT doc_id, word FROM toks WHERE length(word) > 0),
      |freq AS (SELECT word, count(*) AS cnt FROM tok GROUP BY word),
      |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM freq),
      |d AS (
      |  SELECT doc_id,
      |         round(-(round(sum(ln(CAST(freq.cnt AS DOUBLE) / tot.total))
      |           / count(*), 6)), 6) AS difficulty
      |  FROM tok JOIN freq USING (word) CROSS JOIN tot
      |  GROUP BY doc_id),
      |q AS (SELECT quantile_cont(difficulty, 0.25) AS q1,
      |             quantile_cont(difficulty, 0.5) AS q2,
      |             quantile_cont(difficulty, 0.75) AS q3 FROM d),
      |p AS (
      |  SELECT doc_id, difficulty,
      |         CAST(1 + CAST(difficulty > q1 AS INT)
      |           + CAST(difficulty > q2 AS INT)
      |           + CAST(difficulty > q3 AS INT) AS BIGINT) AS phase
      |  FROM d CROSS JOIN q)
      |SELECT doc_id, difficulty, phase,
      |       CAST(row_number() OVER (PARTITION BY phase
      |         ORDER BY difficulty, doc_id) AS BIGINT) AS rnk
      |FROM p ORDER BY doc_id""".stripMargin

  /** Power-of-2 bin as a fold of integer comparisons — the SQL twin of
    * [[lengthBucketBatches]]' bin column, shared with composed
    * pipelines. */
  private[ops] def sqlBinExpr(c: String): String =
    (1 to 20).map(k =>
      s"(CASE WHEN $c >= ${1L << k} THEN 1 ELSE 0 END)").mkString(" + ")
  private[ops] def sqlU60(salt: String) =
    s"""CAST(CAST(concat('0x', substr(md5(concat('$salt',
       |  CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) AS DOUBLE)
       |  / 1152921504606846976.0""".stripMargin

  def oracle: Map[String, String] = Map(
    // same (doc, rep)-keyed 60-bit uniform, same Poisson(1) inverse-CDF
    // literal thresholds, same weighted-mean fold.
    "sample_bootstrap" ->
      """WITH t AS (
        |  SELECT doc_id, n_chars, r.rep,
        |         CAST(CAST(concat('0x', substr(md5(concat('boot1:',
        |           CAST(doc_id AS VARCHAR), ':', CAST(r.rep AS VARCHAR))),
        |           1, 15)) AS BIGINT) AS DOUBLE) / 1152921504606846976.0 AS u
        |  FROM documents
        |  CROSS JOIN (SELECT unnest(range(0, 3)) AS rep) r),
        |k AS (
        |  SELECT rep, n_chars,
        |         CASE WHEN u < 0.36787944117144233 THEN 0
        |              WHEN u < 0.7357588823428847 THEN 1
        |              WHEN u < 0.9196986029286058 THEN 2
        |              WHEN u < 0.9810118431238462 THEN 3
        |              WHEN u < 0.9963401531726563 THEN 4
        |              ELSE 5 END AS k
        |  FROM t)
        |SELECT CAST(rep AS BIGINT) AS rep, CAST(sum(k) AS BIGINT) AS n_draws,
        |       round(CAST(sum(k * n_chars) AS DOUBLE) / sum(k), 6)
        |         AS mean_chars
        |FROM k GROUP BY rep ORDER BY rep""".stripMargin,
    "sample_hash" ->
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE md5(concat('s1:', CAST(doc_id AS VARCHAR))) < '${thr("4")}'
         |ORDER BY doc_id""".stripMargin,
    "sample_stratified" ->
      s"""SELECT doc_id, lang, source FROM documents
         |WHERE md5(concat('s2:', CAST(doc_id AS VARCHAR))) <
         |  CASE lang WHEN 'en' THEN '${thr("8")}'
         |            WHEN 'de' THEN '${thr("c")}'
         |            WHEN 'es' THEN '${thr("c")}'
         |            WHEN 'fr' THEN '${thr("c")}'
         |            WHEN 'zh' THEN '${thr("g")}'
         |            ELSE '${thr("4")}' END
         |ORDER BY doc_id""".stripMargin,
    "sample_splits" ->
      s"""SELECT doc_id,
         |  CASE WHEN md5(concat('sp1:', CAST(doc_id AS VARCHAR))) < '${thr("c")}'
         |       THEN 'train'
         |       WHEN md5(concat('sp1:', CAST(doc_id AS VARCHAR))) < '${thr("e")}'
         |       THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents ORDER BY doc_id""".stripMargin,
    // same split assignment, token count, and 64-doc shard arithmetic,
    // rolled up per (split, shard).
    "pipeline_export_manifest" ->
      s"""WITH dtok AS (
         |  SELECT doc_id,
         |         CAST(len(list_filter(string_split(text, ' '),
         |           w -> length(w) > 0)) AS BIGINT) AS n_tokens,
         |         CASE WHEN md5(concat('sp1:', CAST(doc_id AS VARCHAR)))
         |                < '${thr("c")}' THEN 'train'
         |              WHEN md5(concat('sp1:', CAST(doc_id AS VARCHAR)))
         |                < '${thr("e")}' THEN 'val'
         |              ELSE 'test' END AS split,
         |         doc_id // 64 AS shard
         |  FROM documents)
         |SELECT split, CAST(shard AS BIGINT) AS shard,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |       CAST(min(doc_id) AS BIGINT) AS min_doc,
         |       CAST(max(doc_id) AS BIGINT) AS max_doc
         |FROM dtok GROUP BY split, shard
         |ORDER BY split, shard""".stripMargin,
    "sample_kfold" ->
      s"""SELECT doc_id,
         |  CAST(floor(${sqlU60("kf1:")} * 5) AS BIGINT) AS fold
         |FROM documents ORDER BY doc_id""".stripMargin,
    "sample_mix_equalize" ->
      s"""WITH c AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang),
         |m AS (SELECT min(n_lang) AS mn FROM c)
         |SELECT d.doc_id, d.lang, c.n_lang,
         |       round(CAST(m.mn AS DOUBLE) / c.n_lang, 6) AS p_keep
         |FROM documents d JOIN c USING (lang) CROSS JOIN m
         |WHERE ${sqlU60("mix1:")} < CAST(m.mn AS DOUBLE) / c.n_lang
         |ORDER BY doc_id""".stripMargin,
    // mirrors mixTemperature (τ=2): identical rate arithmetic rounded to
    // 6 dp before the accept compare, identical (doc, copy)-keyed 60-bit
    // uniform for the fractional copy. `ex` is MATERIALIZED: DuckDB
    // 1.0's binder hits an internal error when an unnest alias from a
    // joined CTE is referenced inside a multi-column expression in the
    // outer WHERE; materializing the CTE sidesteps it (same rows).
    "sample_mix_temperature" ->
      """WITH c AS (SELECT lang, count(*) AS n_lang FROM documents GROUP BY lang),
        |t AS (SELECT CAST(sum(n_lang) AS DOUBLE) AS n,
        |             sum(pow(CAST(n_lang AS DOUBLE), 0.5)) AS z FROM c),
        |r AS (SELECT lang,
        |             round(pow(CAST(n_lang AS DOUBLE), 0.5) / z * n / n_lang, 6)
        |               AS rate
        |      FROM c CROSS JOIN t),
        |ex AS MATERIALIZED (
        |       SELECT d.doc_id, d.lang, r.rate,
        |              unnest(range(0, CAST(ceil(r.rate) AS BIGINT))) AS copy_id
        |       FROM documents d JOIN r USING (lang))
        |SELECT doc_id, copy_id, lang, rate FROM ex
        |WHERE copy_id < floor(rate)
        |   OR (copy_id = floor(rate)
        |       AND CAST(CAST(concat('0x', substr(md5(concat('mixT:',
        |             CAST(doc_id AS VARCHAR), ':', CAST(copy_id AS VARCHAR))), 1, 15))
        |             AS BIGINT) AS DOUBLE) / 1152921504606846976.0
        |           < rate - floor(rate))
        |ORDER BY doc_id, copy_id""".stripMargin,
    // per-source window — identical ranks to the two-level form; the
    // integer-ratio progress is exact in both engines.
    "sample_interleave_sources" ->
      """WITH r AS (
        |  SELECT doc_id, source,
        |         CAST(row_number() OVER (
        |           PARTITION BY source ORDER BY doc_id) AS BIGINT)
        |           AS rank_in_source,
        |         count(*) OVER (PARTITION BY source) AS n_src
        |  FROM documents)
        |SELECT doc_id, source, rank_in_source,
        |       round(CAST(rank_in_source AS DOUBLE) / n_src, 9) AS progress
        |FROM r ORDER BY progress, source""".stripMargin,
    // per-bin window — identical ranks to the two-level form (the
    // Spark side must never depend on its range bucketing); the bin is
    // the same fold of power-of-2 comparisons.
    "sample_length_batches" -> {
      val binSql = sqlBinExpr("n_tokens")
      s"""WITH t AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_extract_all(text, '$tokRe')) AS BIGINT)
         |      AS n_tokens
         |  FROM documents),
         |b AS (SELECT doc_id, n_tokens,
         |        CAST($binSql AS BIGINT) AS bin FROM t),
         |r AS (SELECT doc_id, n_tokens, bin,
         |        row_number() OVER (PARTITION BY bin ORDER BY doc_id) AS rk
         |      FROM b)
         |SELECT doc_id, n_tokens, bin,
         |       CAST((rk - 1) // 16 AS BIGINT) AS batch_id
         |FROM r ORDER BY doc_id""".stripMargin
    },
    // the two gated forms composed: global-window serpentine bins
    // joined to the quartile phases, same deal constants and keys.
    "pipeline_training_order" -> {
      val stops = Text.stop.map(w => s"'$w'").mkString(", ")
      s"""WITH t AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_extract_all(text, '$tokRe')) AS BIGINT)
         |      AS n_tokens
         |  FROM documents),
         |r AS (SELECT doc_id, n_tokens,
         |        row_number() OVER (ORDER BY n_tokens DESC, doc_id) AS rk
         |      FROM t),
         |bins AS (
         |  SELECT doc_id,
         |    CAST(CASE WHEN ((rk - 1) // 16) % 2 = 0 THEN (rk - 1) % 16
         |         ELSE 15 - (rk - 1) % 16 END AS BIGINT) AS bin
         |  FROM r),
         |s AS (
         |  SELECT doc_id,
         |    (CAST(len(list_filter(string_split(text, ' '),
         |       w -> w IN ($stops))) AS BIGINT) * 1000000)
         |      // CAST(len(string_split(text, ' ')) AS BIGINT) AS score
         |  FROM documents),
         |q AS (SELECT quantile_cont(CAST(score AS DOUBLE), 0.25) AS q1,
         |             quantile_cont(CAST(score AS DOUBLE), 0.5) AS q2,
         |             quantile_cont(CAST(score AS DOUBLE), 0.75) AS q3
         |      FROM s),
         |ph AS (
         |  SELECT doc_id,
         |    CAST((CASE WHEN score >= q1 THEN 1 ELSE 0 END)
         |       + (CASE WHEN score >= q2 THEN 1 ELSE 0 END)
         |       + (CASE WHEN score >= q3 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS phase,
         |    CAST(concat('0x', substr(md5(concat('cur:',
         |      CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT)
         |      AS shuffle_key
         |  FROM s CROSS JOIN q)
         |SELECT doc_id, bin, phase, shuffle_key
         |FROM ph JOIN bins USING (doc_id)
         |ORDER BY bin, phase DESC, shuffle_key, doc_id""".stripMargin
    },
    // NOTE (r11): a second "sample_curriculum" oracle (the ppm-score
    // form) used to sit here and was silently shadowed by the
    // difficulty-based entry later in this same literal — removed; its
    // machinery is still exercised via pipeline_training_order.
    // single global window — identical ranks to the two-level size-rank
    // form; same serpentine deal and per-shard rollup.
    "sample_pack_balanced" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_extract_all(text, '$tokRe')) AS BIGINT)
         |      AS n_tokens
         |  FROM documents),
         |r AS (SELECT doc_id, n_tokens,
         |        row_number() OVER (ORDER BY n_tokens DESC, doc_id) AS rk
         |      FROM t),
         |a AS (SELECT n_tokens, (rk - 1) // 16 AS pass, (rk - 1) % 16 AS pos
         |      FROM r)
         |SELECT CAST(CASE WHEN pass % 2 = 0 THEN pos
         |            ELSE 15 - pos END AS BIGINT) AS bin,
         |       CAST(count(*) AS BIGINT) AS n_docs,
         |       CAST(sum(n_tokens) AS BIGINT) AS tok_total,
         |       CAST(max(n_tokens) AS BIGINT) AS max_doc
         |FROM a GROUP BY 1 ORDER BY bin""".stripMargin,
    // single global window — semantically identical to the two-level
    // prefix sum (the Spark side must never depend on its bucketing).
    "sample_budget_pack" ->
      s"""SELECT doc_id, n_tokens, cum_tokens FROM (
         |  SELECT doc_id,
         |    CAST(len(regexp_extract_all(text, '$tokRe')) AS BIGINT) AS n_tokens,
         |    CAST(sum(len(regexp_extract_all(text, '$tokRe')))
         |      OVER (ORDER BY n_chars DESC, doc_id) AS BIGINT) AS cum_tokens
         |  FROM documents)
         |WHERE cum_tokens <= 12000 ORDER BY doc_id""".stripMargin,
    // the global-cumsum spec of the two-level packing prefix sum:
    // exclusive offsets, integer window arithmetic, one scatter row per
    // (doc, touched sequence).
    "sample_pack_sequences" ->
      """WITH tk AS (
        |  SELECT doc_id,
        |         CAST(len(list_filter(string_split(text, ' '),
        |           w -> length(w) > 0)) AS BIGINT) AS n
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, n,
        |         CAST(sum(n) OVER (ORDER BY doc_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n
        |           AS BIGINT) AS off
        |  FROM tk WHERE n > 0),
        |w AS (
        |  SELECT doc_id, n, off,
        |         unnest(range(off // 64, (off + n - 1) // 64 + 1)) AS seq_id
        |  FROM c)
        |SELECT seq_id, CAST(count(*) AS BIGINT) AS n_docs,
        |       min(doc_id) AS first_doc, max(doc_id) AS last_doc,
        |       CAST(sum(least(off + n, (seq_id + 1) * 64)
        |         - greatest(off, seq_id * 64)) AS BIGINT) AS n_tokens
        |FROM w GROUP BY seq_id ORDER BY seq_id""".stripMargin,
    // difficulty = the already-gated unigram score negated (identical
    // rounded doubles both sides); quartiles via quantile_cont = the
    // rfm percentile-parity precedent; phase/rank fully deterministic.
    "sample_curriculum" -> curriculumOracleSql,
    // the two-level ranked form must be RESULT-IDENTICAL to the
    // windowed form (bucketing affects only partitioning, never
    // ranks): same oracle, verbatim.
    "sample_curriculum_ranked" -> curriculumOracleSql,
    // integer-exact target derivation (floor(sqrt·1e6) weights, BIGINT
    // sum, integer division) and the identical md5 key string.
    "sample_temperature_mix" -> tmixOracleSql,
    // the two-level ranked form must be RESULT-IDENTICAL to the
    // windowed form (bucketing affects only partitioning, never
    // ranks): same oracle, verbatim.
    "sample_temperature_mix_ranked" -> tmixOracleSql,
    // the tensor frame's global-cumsum spec: extended (BOS/EOS-wrapped)
    // per-doc streams, shifted alphabetic vocab ids, per-sequence
    // string_agg in intra-sequence position order, explicit 0-padding
    // to the window. loss_mask is re-derived from the SAME lead() rule
    // as the labels oracle (1 iff the position has a real target), so
    // the supervision contract binds to the hash here too.
    "sample_pack_tensor" ->
      s"""WITH $packTensorWideCtes,
         |lm AS (
         |  SELECT doc_id, seq_id, spos, id, bnd,
         |         CASE WHEN lead(bnd) OVER w = 0 THEN 1 ELSE 0 END AS msk
         |  FROM wide
         |  WINDOW w AS (PARTITION BY seq_id ORDER BY spos)),
         |seqs AS (
         |  SELECT seq_id, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |         CAST(count(*) AS BIGINT) AS n_tokens,
         |         string_agg(CAST(id AS VARCHAR), ' ' ORDER BY spos) AS ids0,
         |         string_agg(CAST(bnd AS VARCHAR), ' ' ORDER BY spos) AS bnd0,
         |         string_agg(CAST(msk AS VARCHAR), ' ' ORDER BY spos) AS lm0
         |  FROM lm GROUP BY seq_id)
         |SELECT seq_id, n_docs, n_tokens,
         |       ids0 || repeat(' 0', 64 - CAST(n_tokens AS INT)) AS ids,
         |       bnd0 || repeat(' 0', 64 - CAST(n_tokens AS INT)) AS doc_start,
         |       lm0 || repeat(' 0', 64 - CAST(n_tokens AS INT)) AS loss_mask
         |FROM seqs ORDER BY seq_id""".stripMargin,
    // segment ids = prefix sum of the boundary stream within the
    // sequence, +1 when the sequence opens mid-document (the carried
    // partial doc is segment 1); padding stays 0. n_segments = the max
    // — the oracle re-derives it from its own cumsum, binding the
    // array's content AND its peak to the hash.
    "sample_pack_segments" ->
      s"""WITH $packTensorWideCtes,
         |segw AS (
         |  SELECT seq_id, spos, doc_id,
         |         CAST(sum(bnd) OVER (PARTITION BY seq_id ORDER BY spos
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |           AS BIGINT) AS cum
         |  FROM wide),
         |fb AS (
         |  SELECT seq_id,
         |         CAST(1 - max(CASE WHEN spos = 0 THEN bnd ELSE 0 END)
         |           AS BIGINT) AS o
         |  FROM wide GROUP BY seq_id),
         |seqs AS (
         |  SELECT s.seq_id, CAST(count(DISTINCT s.doc_id) AS BIGINT) AS n_docs,
         |         CAST(count(*) AS BIGINT) AS n_tokens,
         |         string_agg(CAST(s.cum + f.o AS VARCHAR), ' '
         |           ORDER BY s.spos) AS seg0,
         |         CAST(max(s.cum + f.o) AS BIGINT) AS n_segments
         |  FROM segw s JOIN fb f USING (seq_id) GROUP BY s.seq_id)
         |SELECT seq_id, n_docs, n_tokens,
         |       seg0 || repeat(' 0', 64 - CAST(n_tokens AS INT))
         |         AS segment_ids,
         |       n_segments
         |FROM seqs ORDER BY seq_id""".stripMargin,
    // the round-trip gate's oracle is the IDENTITY, derived straight
    // from the raw text (per-doc alphabetic RAW word ids in position
    // order, dense 1-based doc_n in doc_id order) — deliberately NOT a
    // replay of pack-then-unpack: the engine side must reproduce this
    // through the packed representation, which is the whole claim.
    "sample_pack_roundtrip" ->
      """WITH toks AS (
        |  SELECT doc_id, pos, word FROM (
        |    SELECT doc_id, words[i] AS word, i AS pos FROM (
        |      SELECT doc_id, string_split(text, ' ') AS words,
        |             unnest(range(1, len(string_split(text, ' ')) + 1)) AS i
        |      FROM documents))
        |  WHERE length(word) > 0),
        |tp AS (
        |  SELECT doc_id, word,
        |         CAST(row_number() OVER (PARTITION BY doc_id ORDER BY pos)
        |           AS BIGINT) AS tpos
        |  FROM toks),
        |vocab AS (
        |  SELECT word, CAST(row_number() OVER (ORDER BY word) AS BIGINT) AS id
        |  FROM (SELECT DISTINCT word FROM toks)),
        |g AS (
        |  SELECT tp.doc_id, CAST(count(*) AS BIGINT) AS n_ids,
        |         string_agg(CAST(v.id AS VARCHAR), ' ' ORDER BY tp.tpos)
        |           AS ids
        |  FROM tp JOIN vocab v USING (word) GROUP BY tp.doc_id)
        |SELECT CAST(row_number() OVER (ORDER BY doc_id) AS BIGINT)
        |         AS doc_n,
        |       n_ids, ids
        |FROM g ORDER BY doc_n""".stripMargin,
    // padding accounting over the same wide grid: per-sequence token
    // counts, then one scalar row (round(6) on both engines).
    "profile_pack_efficiency" ->
      s"""WITH $packTensorWideCtes,
         |seqs AS (SELECT seq_id, count(*) AS n FROM wide
         |         GROUP BY seq_id)
         |SELECT CAST(count(*) AS BIGINT) AS n_sequences,
         |       CAST(sum(n) AS BIGINT) AS n_tokens_total,
         |       CAST(count(*) * 64 - sum(n) AS BIGINT) AS n_padding,
         |       round(CAST(sum(n) AS DOUBLE) / (count(*) * 64), 6)
         |         AS efficiency
         |FROM seqs""".stripMargin,
    // labels re-derived from the SAME wide grid with lead() over the
    // in-sequence position: next id when the next position exists and
    // does not open a new document, else 0 (lead past the last real
    // position is NULL, so the CASE falls through to 0 — exactly the
    // engine's sequence-end rule); padding positions append literal 0s.
    "sample_pack_labels" ->
      s"""WITH $packTensorWideCtes,
         |lab AS (
         |  SELECT doc_id, seq_id, spos,
         |         CASE WHEN lead(bnd) OVER w = 0
         |              THEN lead(id) OVER w ELSE 0 END AS lab
         |  FROM wide
         |  WINDOW w AS (PARTITION BY seq_id ORDER BY spos)),
         |seqs AS (
         |  SELECT seq_id, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |         CAST(count(*) AS BIGINT) AS n_tokens,
         |         string_agg(CAST(lab AS VARCHAR), ' ' ORDER BY spos)
         |           AS lab0,
         |         CAST(sum(lab) AS BIGINT) AS labels_sum,
         |         CAST(sum(CASE WHEN lab > 0 THEN 1 ELSE 0 END)
         |           AS BIGINT) AS n_predict
         |  FROM lab GROUP BY seq_id)
         |SELECT seq_id, n_docs, n_tokens,
         |       lab0 || repeat(' 0', 64 - CAST(n_tokens AS INT)) AS labels,
         |       labels_sum, n_predict
         |FROM seqs ORDER BY seq_id""".stripMargin,
    // identical md5 rank keys (same pipe-joined decimal strings), same
    // lowest-id positive, same per-anchor rank windows.
    "sample_negatives_contrastive" ->
      """WITH e AS (SELECT vec_id, label FROM embeddings),
        |a AS (SELECT vec_id AS a_id, label AS a_label FROM e
        |      WHERE vec_id < 20),
        |pos AS (
        |  SELECT a_id, 'pos' AS role,
        |         CAST(min(e.vec_id) AS BIGINT) AS cand_id,
        |         CAST(1 AS BIGINT) AS rnk
        |  FROM a JOIN e ON e.label = a.a_label AND e.vec_id <> a.a_id
        |  GROUP BY a_id),
        |negs AS (
        |  SELECT a_id, 'neg' AS role, vec_id AS cand_id, rnk FROM (
        |    SELECT a.a_id, e.vec_id,
        |           CAST(row_number() OVER (PARTITION BY a.a_id
        |             ORDER BY md5(CAST(a.a_id AS VARCHAR) || '|'
        |               || CAST(e.vec_id AS VARCHAR)), e.vec_id)
        |             AS BIGINT) AS rnk
        |    FROM a JOIN e ON e.label <> a.a_label)
        |  WHERE rnk <= 3)
        |SELECT * FROM pos UNION ALL SELECT * FROM negs
        |ORDER BY a_id, role, rnk""".stripMargin,
    "sample_quota_topk" ->
      """SELECT doc_id, source, n_chars, rk FROM (
        |  SELECT doc_id, source, n_chars,
        |         CAST(row_number() OVER (PARTITION BY source
        |           ORDER BY n_chars DESC, doc_id) AS BIGINT) AS rk
        |  FROM documents)
        |WHERE rk <= 10 ORDER BY doc_id""".stripMargin,
    // single-window form of the A-ES top-k: identical rounded keys
    // (the +1-shifted 60-bit uniform, ln, /n_chars, round 9 dp), same
    // (skey DESC, doc_id) total order.
    "sample_weighted" ->
      """WITH s AS (
        |  SELECT doc_id, n_chars,
        |         round(ln((CAST(concat('0x', substr(md5(concat('wtk1:',
        |             CAST(doc_id AS VARCHAR))), 1, 15)) AS BIGINT) + 1)
        |             / 1152921504606846976.0) / n_chars, 9) AS skey
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, n_chars, skey,
        |         CAST(row_number() OVER (ORDER BY skey DESC, doc_id)
        |           AS BIGINT) AS rk
        |  FROM s)
        |SELECT doc_id, n_chars, skey, rk FROM r
        |WHERE rk <= 100 ORDER BY doc_id""".stripMargin,
    "sample_shuffle_shards" ->
      """WITH h AS (
        |  SELECT doc_id, md5(concat('shuf1:', CAST(doc_id AS VARCHAR))) AS h
        |  FROM documents),
        |s AS (
        |  SELECT doc_id, h,
        |         CAST(concat('0x', substr(h, 1, 15)) AS BIGINT) % 8 AS shard
        |  FROM h)
        |SELECT doc_id, shard,
        |       CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id)
        |         AS BIGINT) AS pos
        |FROM s ORDER BY doc_id""".stripMargin
  )
}
