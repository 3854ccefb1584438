package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** Deduplication operators (SURVEY §2.13) — exact, n-gram Jaccard,
  * MinHash and SimHash.
  *
  * Grounding: the reference has no uniqueness on `path` (olrcdb.py:39-44),
  * so re-running `prepareupload.py` double-inserts every file; dedup is the
  * first operator a real manifest (or an LLM training corpus) needs.
  *
  * Scale design:
  *  - exact dedup = hash-groupBy on a digest — one shuffle of (digest,
  *    min-id), never the payload;
  *  - n-gram Jaccard = explode shingles → self-equi-join on shingle →
  *    pair-count aggregate. The join key is the shingle, so frequency
  *    blowup is bounded by shingle document-frequency; at 100 TB the
  *    MinHash/LSH path below replaces the exact self-join;
  *  - MinHash = per-doc signature (map-only) → banding → groupBy band
  *    bucket; candidate verification is a join on the tiny candidate set.
  *  - SimHash = one 64-bit fingerprint per doc via bit-vote aggregation;
  *    near-dup = fingerprints within Hamming distance k.
  * All hashes are Spark's murmur3 (`functions.hash`/`xxhash64`) with fixed
  * seeds — deterministic across runs and cluster sizes.
  */
object Dedup {

  private def wordsOf(text: Column): Column = split(text, " ")

  /** Distinct 3-word shingles per document, exploded to rows. Shingle
    * construction is the native [[graft.functions.Shingles]] expression
    * (one compiled pass per document; the higher-order-function
    * composition evaluated interpreted and dominated dedup cost). */
  def shingles(docs: DataFrame): DataFrame = {
    val w = wordsOf(col("text"))
    docs.filter(size(w) >= 3)
      .select(col("doc_id"),
        explode(graft.functions.Shingles.word_shingles(col("text"), 3))
          .as("shingle"))
  }

  /** MinHash signature: k minimums of seeded xxhash64 over shingles, as k
    * parallel min-aggregates over the exploded shingle rows. Partial
    * (map-side) aggregation collapses each partition to one row per doc
    * before the exchange, so the shuffle carries ~docs×partitions rows,
    * never the ~n_windows shingle rows.
    *
    * (A map-only variant via `transform`+`array_min` avoids the explode
    * entirely but higher-order functions evaluate interpreted, not
    * codegen'd — measured 10× slower at sf0.1. The generator+hash+agg
    * pipeline below stays in WholeStageCodegen end-to-end.) */
  def minhashSignatures(docs: DataFrame, k: Int): DataFrame =
    docs.select(col("doc_id"),
        graft.functions.MinHashSig.minhash_sig(col("text"), k).as("sig"))
      .filter(col("sig").isNotNull)

  /** The composed (explode shingles + k min-aggregates) form the native
    * expression replaced — kept as the executable specification; DedupSpec
    * asserts both produce identical signatures. */
  private[graft] def minhashSignaturesComposed(docs: DataFrame, k: Int): DataFrame = {
    val sh = shingles(docs)
    val mins = (0 until k).map(i =>
      min(xxhash64(lit(i), col("shingle"))).as(s"_m$i"))
    sh.groupBy("doc_id").agg(mins.head, mins.tail: _*)
      .select(col("doc_id"),
        array((0 until k).map(i => col(s"_m$i")): _*).as("sig"))
  }

  /** LSH banding: split the k-wide signature into `bands` buckets; docs
    * sharing any band bucket are near-dup candidates. */
  def minhashBands(sigs: DataFrame, k: Int, bands: Int): DataFrame = {
    val rows = k / bands
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(slice(col("sig"), b * rows + 1, rows)).as("bucket"))
    }
    sigs.select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** Candidate near-dup pairs from band buckets (a < b), deduplicated. */
  def minhashCandidates(docs: DataFrame, k: Int = 16, bands: Int = 4): DataFrame = {
    val bb = minhashBands(minhashSignatures(docs, k), k, bands)
    val a = bb.select(col("band"), col("bucket"), col("doc_id").as("a_id"))
    val b = bb.select(col("band"), col("bucket"), col("doc_id").as("b_id"))
    a.join(b, Seq("band", "bucket")).filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id").distinct()
  }

  /** MinHash banding histogram over a DuckDB-replicable hash family —
    * the structural oracle for the MinHash pipeline. The production path
    * ([[minhashSignatures]]) uses xxhash64, which DuckDB cannot
    * reproduce; this twin runs the SAME signature→band→bucket pipeline
    * with h_i(s) = rollingHash(i + "|" + s) (the native Karp-Rabin
    * expression whose BIGINT fold IS replicated in DuckDB, see
    * Fingerprints), so band-bucket-size cardinalities are hash-checkable
    * end-to-end. Bucket ids combine the band's two mins injectively:
    * m_a * 2000000011 + m_b (both < 1e9+7, product < 2^63 — exact in
    * BIGINT on both engines).
    *
    * Output: per band, how many buckets have 1, 2, 3… docs — the LSH
    * candidate-mass histogram (size>=2 buckets are the candidate pairs).
    * Same shuffle shape as the real pipeline: explode shingles →
    * partial-agg mins per doc → map-side band explode → two keyed
    * aggregates. */
  /** (doc_id, n_shingles, band, bucket) over the replicable family —
    * shared by [[minhashStats]] and [[nearDupSurvivors]]. The per-doc
    * shingle count rides along in the SAME groupBy as the signature mins
    * (one extra algebraic aggregate, zero extra shuffle), so the verify
    * stage never needs a second full shingle scan+aggregate to learn
    * union sizes. */
  private def replicableBands(sh: DataFrame, k: Int, bands: Int): DataFrame = {
    require(k == 2 * bands, "bucket combiner packs exactly 2 mins per band")
    val mins = (0 until k).map(i =>
      min(graft.functions.RollingHash.rolling_hash(
        concat(lit(s"$i|"), col("shingle")))).as(s"_m$i"))
    val aggs = mins :+ count(lit(1)).as("n_shingles")
    val sigs = sh.groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
    val bandCols = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        (col(s"_m${2 * b}") * lit(2000000011L) + col(s"_m${2 * b + 1}"))
          .as("bucket"))
    }
    sigs.select(col("doc_id"), col("n_shingles"),
        explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("n_shingles"), col("bb.band").as("band"),
        col("bb.bucket").as("bucket"))
  }

  def minhashStats(docs: DataFrame, k: Int = 8, bands: Int = 4): DataFrame =
    replicableBands(shingles(docs), k, bands)
      .groupBy("band", "bucket").agg(count(lit(1)).as("bucket_size"))
      .groupBy("band", "bucket_size").agg(count(lit(1)).as("n_buckets"))
      .orderBy("band", "bucket_size")

  /** End-to-end candidate-routed near-dup DEDUP — the full LSH pipeline
    * with exact verification, the operator a 100 TB corpus actually runs:
    *
    *   shingles → MinHash signatures → band buckets → candidate pairs
    *   (equi-join on (band, bucket) — never all-pairs) → exact Jaccard
    *   verified ONLY on candidates → drop the higher doc_id of each
    *   verified pair → survivors.
    *
    * At sf0.01 the bands produce 27 candidate pairs where all-pairs would
    * be ~125k — the whole point of the banding. Verification joins
    * shingles only for candidate docs, so the heavy rows stay
    * candidate-bounded. Runs on the replicable hash family, so the entire
    * pipeline (not just its stats) is hash-gated against DuckDB. */
  /** Candidate pairs of the replicable banding stage with both docs'
    * shingle counts attached (counts are functionally dependent on the
    * ids, so the distinct cardinality is unchanged). */
  private def candidatePairs(docs: DataFrame, k: Int, bands: Int): DataFrame = {
    val bb = replicableBands(shingles(docs), k, bands)
    val a = bb.select(col("band"), col("bucket"), col("doc_id").as("a_id"),
      col("n_shingles").as("na"))
    val b = bb.select(col("band"), col("bucket"), col("doc_id").as("b_id"),
      col("n_shingles").as("nb"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id", "na", "nb").distinct()
  }

  /** Candidate pairs of the replicable banding stage — the frame
    * `nearDupSurvivors` verifies. Public for scale-trend observability:
    * candidate count vs n·(n-1)/2 is THE number that shows the routing
    * stays subquadratic as SF grows. */
  def nearDupCandidates(docs: DataFrame, k: Int = 8, bands: Int = 4): DataFrame =
    candidatePairs(docs, k, bands).select("a_id", "b_id")

  /** Candidate pairs that SURVIVE exact-Jaccard verification — the edge
    * set of the near-dup graph. Union sizes (na, nb) ride on the
    * candidate rows, so the verify stage is: two candidate-bounded
    * shingle joins → intersection count → Jaccard. No second corpus-wide
    * shingle aggregate, no count-table joins. */
  def nearDupVerifiedPairs(docs: DataFrame, jacThreshold: Double = 0.5,
      k: Int = 8, bands: Int = 4): DataFrame = {
    val sh = shingles(docs)
    val cand = candidatePairs(docs, k, bands)
    val inter = cand
      .join(sh.select(col("doc_id").as("a_id"), col("shingle")), Seq("a_id"))
      .join(sh.select(col("doc_id").as("b_id"), col("shingle")),
        Seq("b_id", "shingle"))
      .groupBy("a_id", "b_id", "na", "nb").agg(count(lit(1)).as("inter"))
    inter
      .withColumn("jac",
        col("inter") * 1.0 / (col("na") + col("nb") - col("inter")))
      .filter(col("jac") >= jacThreshold)
      .select("a_id", "b_id")
  }

  /** MinHash Jaccard-ESTIMATION quality, gated end-to-end: for every
    * banded candidate pair, the estimated Jaccard (fraction of agreeing
    * signature components — the estimator LSH theory is built on,
    * E[est] = J, sd = √(J(1−J)/k) ≈ 0.17 at k = 8) next to the exact
    * shingle Jaccard and the absolute error. Production pipelines RANK
    * by the estimate and verify only near the threshold; this operator
    * is the measured grounds for that trust, and it closes the MinHash
    * family loop: bands route (dedup_minhash_stats), estimates rank
    * (here), exact verify decides (dedup_near_drop).
    *
    * Work shape: the signature aggregate is the same one groupBy as the
    * banding (algebraic mins); the estimate join carries k BIGINTs per
    * candidate side — candidate-bounded, never corpus². Hash-gated via
    * the same replicable Karp-Rabin family as the whole gated MinHash
    * surface; est_jac = matches/8 is exact in binary, the exact Jaccard
    * is rounded 6 dp on both engines. */
  def minhashEstimates(docs: DataFrame, k: Int = 8,
      bands: Int = 4): DataFrame = {
    val sh = shingles(docs)
    val mins = (0 until k).map(i =>
      min(graft.functions.RollingHash.rolling_hash(
        concat(lit(s"$i|"), col("shingle")))).as(s"m$i"))
    val sigs = sh.groupBy("doc_id").agg(mins.head, mins.tail: _*)
    val a = sigs.select(col("doc_id").as("a_id") +:
      (0 until k).map(i => col(s"m$i").as(s"a_m$i")): _*)
    val b = sigs.select(col("doc_id").as("b_id") +:
      (0 until k).map(i => col(s"m$i").as(s"b_m$i")): _*)
    val cand = candidatePairs(docs, k, bands)
    val inter = cand
      .join(sh.select(col("doc_id").as("a_id"), col("shingle")), Seq("a_id"))
      .join(sh.select(col("doc_id").as("b_id"), col("shingle")),
        Seq("b_id", "shingle"))
      .groupBy("a_id", "b_id", "na", "nb").agg(count(lit(1)).as("inter"))
    val matches = (0 until k).map(i =>
      when(col(s"a_m$i") === col(s"b_m$i"), 1).otherwise(0))
      .reduce(_ + _)
    inter.join(a, Seq("a_id")).join(b, Seq("b_id"))
      .withColumn("est_jac", matches / lit(k.toDouble))
      .withColumn("jac", round(col("inter") * 1.0 /
        (col("na") + col("nb") - col("inter")), 6))
      .withColumn("abs_err", round(abs(col("est_jac") - col("jac")), 6))
      .select("a_id", "b_id", "est_jac", "jac", "abs_err")
      .orderBy("a_id", "b_id")
  }

  /** CONTAINMENT-scored near-dup pairs: the asymmetric companion to
    * [[nearDupVerifiedPairs]]. Containment C = |A∩B| / min(|A|, |B|)
    * scores "doc B is doc A plus twice as much new text" at 1.0 where
    * symmetric Jaccard reports ≈ 1/3 — the sub-/super-document case
    * (quote inflation, boilerplate wrapping) that threshold-Jaccard
    * dedup structurally misses. Same band routing and candidate-bounded
    * verification joins as the Jaccard form; only the score and the
    * explicit `contained_id` (the smaller side, ties to a_id) change.
    *
    * Recall note, honestly: the banding is Jaccard-tuned, so a
    * containment pair with very unequal sizes (low Jaccard) has reduced
    * band-collision probability. At production scale the fix is to
    * route candidates from the SMALL side's shingles alone (or via
    * substring fingerprints — [[substringSpans]] covers that end); the
    * scoring and verification here are unchanged under either routing.
    */
  def containmentPairs(docs: DataFrame, cThreshold: Double = 0.6,
      k: Int = 8, bands: Int = 4): DataFrame = {
    val sh = shingles(docs)
    val cand = candidatePairs(docs, k, bands)
    val inter = cand
      .join(sh.select(col("doc_id").as("a_id"), col("shingle")), Seq("a_id"))
      .join(sh.select(col("doc_id").as("b_id"), col("shingle")),
        Seq("b_id", "shingle"))
      .groupBy("a_id", "b_id", "na", "nb").agg(count(lit(1)).as("inter"))
    inter
      .withColumn("containment",
        round(col("inter") * 1.0 / least(col("na"), col("nb")), 6))
      .filter(col("containment") >= cThreshold)
      .withColumn("contained_id",
        when(col("na") <= col("nb"), col("a_id")).otherwise(col("b_id")))
      .select("a_id", "b_id", "containment", "contained_id")
      .orderBy("a_id", "b_id")
  }

  /** URL-canonicalization dedup — the crawl-frontier pass that runs
    * BEFORE any content dedup: normalize each doc's URL (lowercase
    * host, strip `www.`, drop query string + fragment, trim the
    * trailing slash) and collapse docs sharing a canonical URL to the
    * earliest doc_id. Tracking parameters (`utm_*`, `ref`) and
    * scheme/host case are the classic sources of crawl duplicates.
    *
    * Enrichment: the corpus has no URL column, so deterministic raw
    * URLs are derived per doc (the text_pii_mask technique): the pair
    * (2k, 2k+1) points at the same logical page — site token and item
    * number both derive from k — but the even member carries a
    * shouting-case `WWW.` host, a tracking query string, a fragment and
    * a trailing slash while the odd member is the clean form, so every
    * pair collapses to one canonical URL (500 → 250 at sf0.01) and the
    * collapse exercises each normalization rule. All normalization is
    * regexp/string ops identical under Java regex and RE2; map-side
    * until the one digest-style groupBy on the canonical key (min/count
    * are algebraic — hot canonical URLs combine map-side). */
  def urlCanonicalSurvivors(docs: DataFrame): DataFrame = {
    val itemNo = expr("CAST(doc_id div 2 AS STRING)")
    val site = expr("CAST((doc_id div 2) % 50 AS STRING)")
    val url = when(pmod(col("doc_id"), lit(2)) === 0,
      concat(lit("HTTPS://WWW.Site"), site, lit(".Example.COM/item/"),
        itemNo, lit("/?utm_source=feed&ref=rss#frag")))
      .otherwise(concat(lit("https://site"), site,
        lit(".example.com/item/"), itemNo))
    val host = regexp_replace(
      lower(regexp_extract(col("url"), "^[a-zA-Z]+://([^/]+)", 1)),
      "^www\\.", "")
    val path = regexp_replace(
      regexp_extract(col("url"), "^[a-zA-Z]+://[^/]+([^?#]*)", 1), "/$", "")
    docs.select(col("doc_id"), url.as("url"))
      .withColumn("canonical_url", concat(host, path))
      .groupBy("canonical_url")
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .orderBy("canonical_url")
  }

  /** Incremental-ingest dedup: accept a NEW batch only where it does not
    * duplicate the EXISTING corpus — the nightly-crawl operator (dedup
    * the increment against the corpus without re-deduping the corpus).
    * The split is deterministic (doc_id % mod == 0 is "new") so the
    * oracle reproduces it. A new doc is dropped iff (a) its exact digest
    * already exists, or (b) a band-bucket candidate against an EXISTING
    * doc verifies at Jaccard ≥ threshold. Work shape: banding stays
    * map-only per doc; the candidate join is new-bands ⋈ existing-bands
    * (never existing × existing); verification joins shingles for
    * candidate docs only. At 100 TB the existing side's digest and band
    * tables are precomputed artifacts — the increment scans only itself
    * and probes them.
    */
  def incrementalSurvivors(docs: DataFrame, jacThreshold: Double = 0.5,
      k: Int = 8, bands: Int = 4, mod: Int = 5): DataFrame = {
    val newDocs = docs.filter(pmod(col("doc_id"), lit(mod)) === 0)
    val exist = docs.filter(pmod(col("doc_id"), lit(mod)) =!= 0)
    val dupExact = newDocs
      .select(col("doc_id"), md5(col("text").cast("binary")).as("h"))
      .join(exist.select(md5(col("text").cast("binary")).as("h")).distinct(),
        Seq("h"))
      .select("doc_id").distinct()
    // one shingle frame feeds both the banding and the verification joins
    // — the increment-probes-precomputed-artifacts shape needs exactly one
    // corpus shingle pass, not one per consumer.
    val sh = shingles(docs)
    val cand = incrementalCandidatePairs(sh, k, bands, mod)
    val inter = cand
      .join(sh.select(col("doc_id").as("a_id"), col("shingle")), Seq("a_id"))
      .join(sh.select(col("doc_id").as("b_id"), col("shingle")),
        Seq("b_id", "shingle"))
      .groupBy("a_id", "b_id", "na", "nb").agg(count(lit(1)).as("inter"))
    val dupNear = inter
      .filter(col("inter") * 1.0 / (col("na") + col("nb") - col("inter"))
        >= jacThreshold)
      .select(col("a_id").as("doc_id")).distinct()
    newDocs
      .join(dupExact.union(dupNear).distinct(), Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("n_chars"))
      .orderBy("doc_id")
  }

  /** Cross-set (new ⋈ existing) banded candidate pairs with shingle
    * counts — the join [[incrementalSurvivors]] verifies. */
  private def incrementalCandidatePairs(sh: DataFrame, k: Int, bands: Int,
      mod: Int): DataFrame = {
    val bb = replicableBands(sh, k, bands)
    val nb = bb.filter(pmod(col("doc_id"), lit(mod)) === 0)
      .select(col("band"), col("bucket"), col("doc_id").as("a_id"),
        col("n_shingles").as("na"))
    val eb = bb.filter(pmod(col("doc_id"), lit(mod)) =!= 0)
      .select(col("band"), col("bucket"), col("doc_id").as("b_id"),
        col("n_shingles").as("nb"))
    nb.join(eb, Seq("band", "bucket"))
      .select("a_id", "b_id", "na", "nb").distinct()
  }

  /** Cross-set candidate pairs of the incremental dedup — public for
    * scale-trend observability: candidate mass vs n_new × n_exist is THE
    * number that shows the increment PROBES the corpus instead of
    * re-joining it. */
  def incrementalCandidates(docs: DataFrame, k: Int = 8, bands: Int = 4,
      mod: Int = 5): DataFrame =
    incrementalCandidatePairs(shingles(docs), k, bands, mod)
      .select("a_id", "b_id")

  def nearDupSurvivors(docs: DataFrame, jacThreshold: Double = 0.5,
      k: Int = 8, bands: Int = 4): DataFrame = {
    val dropped = nearDupVerifiedPairs(docs, jacThreshold, k, bands)
      .select(col("b_id").as("doc_id")).distinct()
    docs.join(dropped, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("n_chars"))
      .orderBy("doc_id")
  }

  /** Eval-set DECONTAMINATION — drop every training document that shares
    * ANY word shingle with a held-out evaluation split (the benchmark-
    * overlap filter an LLM data pipeline runs before training; public
    * LM corpus reports describe the same n-gram-overlap construction,
    * typically at 13-grams — this corpus' short template sentences make
    * the dedup family's 3-word shingle the calibrated unit, and the
    * shingle definition is SHARED with that family, one `shingles`).
    *
    * The eval split is deterministic (doc_id % evalMod == 0) so the
    * oracle reproduces it. Scale shape: the eval set is benchmark-sized
    * by construction — thousands of documents, never corpus-sized — so
    * its distinct shingles BROADCAST and contamination detection is a
    * map-side hash probe of the training shingle stream (no corpus-wide
    * shuffle); the surviving-doc anti join then carries only the
    * contaminated id set, left unhinted so AQE broadcasts it in the
    * common case where few documents overlap the benchmarks. */
  def decontaminate(docs: DataFrame, evalMod: Int = 53): DataFrame = {
    val sh = shingles(docs)
    val isEval = pmod(col("doc_id"), lit(evalMod)) === 0
    val evalShingles = broadcast(
      sh.filter(isEval).select("shingle").distinct())
    val contaminated = sh.filter(!isEval)
      .join(evalShingles, Seq("shingle"), "left_semi")
      .select("doc_id").distinct()
    docs.filter(!isEval)
      .join(contaminated, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "n_chars")
      .orderBy("doc_id")
  }

  /** Bloom-prefiltered decontamination — result-identical to
    * [[decontaminate]], built the way a 100 TB pipeline runs it when even
    * the benchmark shingle set is wide enough that probing an exact
    * broadcast hash relation for EVERY training shingle is the dominant
    * cost: compress the eval shingles into an m-bit Bloom filter and
    * probe that first, map-side.
    *
    *  - build: k=`numHashes` seeded xxhash64 bit positions per eval
    *    shingle → (word, bit) → `bit_or` aggregate — the filter is built
    *    DISTRIBUTED (partial aggregation collapses each partition before
    *    the exchange) and collected as m/64 longs: 16 KiB at the default
    *    2^17 bits, model-sized like the IVF centroids;
    *  - probe: the words array travels as a literal; membership is
    *    element_at + shiftright + bitwiseAND over codegen'd builtins — no
    *    UDF, no shuffle, evaluated inline in the training shingle scan;
    *  - verify: only might-contain survivors (true overlaps + the ~0.1%
    *    false-positive mass) reach the exact broadcast semi-join. Bloom
    *    false NEGATIVES are impossible, so the exact verify restores
    *    exact semantics: output ≡ [[decontaminate]], and the operator
    *    shares its DuckDB oracle verbatim.
    */
  private def bloomPositions(c: Column, numBits: Int,
      numHashes: Int): Seq[Column] =
    (0 until numHashes).map(i => pmod(xxhash64(lit(i), c), lit(numBits.toLong)))

  /** Build the filter distributed: k bit positions per key → (word, bit)
    * → `bit_or` aggregate, collected as numBits/64 longs (16 KiB at the
    * default 2^17 — model-sized, like the IVF centroids). */
  private[graft] def bloomWords(keys: DataFrame, keyCol: String,
      numBits: Int, numHashes: Int): Array[Long] = {
    require(numBits > 0 && numBits % 64 == 0, "numBits must be a positive multiple of 64")
    val words = new Array[Long](numBits / 64)
    keys
      .select(explode(array(bloomPositions(col(keyCol), numBits, numHashes): _*))
        .as("pos"))
      .select((col("pos") / 64).cast("int").as("w"),
        expr("shiftleft(1L, cast(pos % 64 AS int))").as("b"))
      .groupBy("w").agg(bit_or(col("b")).as("word"))
      .collect().foreach(r => words(r.getInt(0)) = r.getLong(1))
    words
  }

  /** The map-side membership probe: element_at + shiftright + bitwiseAND
    * over the literal words array — pure codegen'd builtins, no UDF. */
  private[graft] def bloomMightContain(words: Array[Long], c: Column,
      numHashes: Int): Column = {
    val numBits = words.length * 64
    val wordsLit = typedLit(words.toSeq)
    bloomPositions(c, numBits, numHashes).map { pos =>
      call_function("shiftright",
          element_at(wordsLit, (pos / 64).cast("int") + 1),
          (pos % 64).cast("int"))
        .bitwiseAND(lit(1L)) =!= 0L
    }.reduce(_ && _)
  }

  def decontaminateBloom(docs: DataFrame, evalMod: Int = 53,
      numBits: Int = 1 << 17, numHashes: Int = 5): DataFrame = {
    val sh = shingles(docs)
    val isEval = pmod(col("doc_id"), lit(evalMod)) === 0
    val evalShingles = sh.filter(isEval).select("shingle").distinct()
    val words = bloomWords(evalShingles, "shingle", numBits, numHashes)
    val contaminated = sh.filter(!isEval)
      .filter(bloomMightContain(words, col("shingle"), numHashes))
      .join(broadcast(evalShingles), Seq("shingle"), "left_semi")
      .select("doc_id").distinct()
    docs.filter(!isEval)
      .join(contaminated, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "n_chars")
      .orderBy("doc_id")
  }

  /** Edit-distance similarity on CANDIDATE pairs — the Levenshtein
    * verify stage of a fuzzy-dedup pipeline. Band-bucket candidates
    * (the same replicable LSH routing every dedup here uses) keep the
    * O(len²)-per-pair dynamic program off the corpus cross product:
    * edit distance is only ever computed on pairs the index already
    * suspects. Output: (a_id, b_id, edit_dist, edit_sim) where
    * edit_sim = 1 - dist / max(len_a, len_b), rounded 6 dp.
    *
    * `levenshtein` is a codegen'd Spark builtin with the classic
    * unit-cost insert/delete/substitute semantics DuckDB's
    * `levenshtein` shares, so the whole pipeline hash-gates. */
  def editDistancePairs(docs: DataFrame, k: Int = 8,
      bands: Int = 4): DataFrame = {
    val cand = candidatePairs(docs, k, bands).select("a_id", "b_id")
    val ta = docs.select(col("doc_id").as("a_id"), col("text").as("a_text"))
    val tb = docs.select(col("doc_id").as("b_id"), col("text").as("b_text"))
    cand.join(ta, "a_id").join(tb, "b_id")
      .select(col("a_id"), col("b_id"),
        levenshtein(col("a_text"), col("b_text")).cast("long").as("edit_dist"),
        round(lit(1.0) - levenshtein(col("a_text"), col("b_text")) /
          greatest(length(col("a_text")), length(col("b_text")))
            .cast("double"), 6).as("edit_sim"))
      .orderBy("a_id", "b_id")
  }

  /** Cross-document duplicate text SPANS — substring-level dedup, the
    * operator that finds EXACT shared passages (boilerplate, licenses,
    * quoted templates) across documents rather than whole-document
    * near-dups. Output: every maximal shared span of length >= `w`
    * code points, as (a_id, b_id, a_start, b_start, span_len) with
    * 1-based positions and a_id < b_id.
    *
    * Plan (all candidate-routed, never text×text):
    *   1. window fingerprints: the native O(n) Karp-Rabin rolling-hash
    *      windows expression ([[graft.functions.RollingHash]]) emits one
    *      64-bit hash per w-length window — the shuffle carries
    *      (hash, doc_id, pos), never window text;
    *   2. candidates: self-equi-join on the hash (a_id < b_id) — pair mass
    *      is bounded by shared-window frequency, the same routing argument
    *      as the shingle join;
    *   3. exact verify: candidate-bounded joins back to the two texts
    *      compare the actual substrings, so Karp-Rabin collisions cannot
    *      produce a false span (and the oracle can join on substring
    *      equality directly — same result by construction);
    *   4. maximal spans: matching windows of one pair lie on diagonals
    *      (b_pos - a_pos constant); gaps-and-islands per
    *      (pair, diagonal) merges runs of consecutive positions into one
    *      maximal span. The window is partitioned by (pair, diagonal) —
    *      many small partitions, no global sort.
    *
    * At 100 TB step 2's index would not keep every window: winnowing
    * (fingerprint_winnow selects the min hash per window-of-windows,
    * guaranteeing any span >= w + stride - 1 shares a selected
    * fingerprint) cuts the index ~stride×; detected anchors then extend
    * to maximal extents with this same diagonal merge. The every-window
    * form here IS the exact semantic spec that path approximates.
    *
    * Positions are code-point indices (the rolling window unit); for the
    * BMP-only corpora here they coincide with the character indices
    * `substr` uses on both engines.
    */
  /** Pre-verify window-hash candidate pairs of [[substringSpans]] —
    * public for scale-trend observability (candidate mass vs the
    * n_windows² a naive all-pairs window compare would touch). */
  def substringWindowCandidates(docs: DataFrame, w: Int = 40): DataFrame = {
    val wins = docs.filter(length(col("text")) >= w)
      .select(col("doc_id"),
        posexplode(graft.functions.RollingHash.rolling_hash_windows(col("text"), w)))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("h"))
    val a = wins.select(col("h"), col("doc_id").as("a_id"), col("pos").as("a_pos"))
    val b = wins.select(col("h"), col("doc_id").as("b_id"), col("pos").as("b_pos"))
    a.join(b, Seq("h")).filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id", "a_pos", "b_pos")
  }

  def substringSpans(docs: DataFrame, w: Int = 40): DataFrame = {
    val hits = substringWindowCandidates(docs, w)
    val ta = docs.select(col("doc_id").as("a_id"), col("text").as("a_text"))
    val tb = docs.select(col("doc_id").as("b_id"), col("text").as("b_text"))
    val verified = hits
      .join(ta, Seq("a_id")).join(tb, Seq("b_id"))
      .filter(col("a_text").substr(col("a_pos").cast("int"), lit(w)) ===
        col("b_text").substr(col("b_pos").cast("int"), lit(w)))
      .select(col("a_id"), col("b_id"),
        (col("b_pos") - col("a_pos")).as("diag"), col("a_pos"))
    val islands = verified.withColumn("grp",
      col("a_pos") - row_number().over(
        Window.partitionBy("a_id", "b_id", "diag").orderBy("a_pos")))
    islands.groupBy("a_id", "b_id", "diag", "grp")
      .agg(min("a_pos").as("a_start"),
        (max("a_pos") - min("a_pos") + lit(w)).cast("long").as("span_len"))
      .select(col("a_id"), col("b_id"), col("a_start"),
        (col("a_start") + col("diag")).as("b_start"), col("span_len"))
      .orderBy("a_id", "b_id", "a_start", "b_start")
  }

  // ---------------------------------------------------------------- //
  // Paragraph-level dedup (the C4 / Dolma pass: drop REPEATED
  // paragraphs corpus-wide, keep each distinct paragraph's first
  // occurrence, reassemble the documents from what survives).
  // ---------------------------------------------------------------- //

  private val paraWords = 12
  private[graft] val paraFooters = Seq(
    "all rights reserved contact the site administrator for licensing terms",
    "subscribe to our newsletter for weekly updates and exclusive offers")

  /** Deterministic paragraphization: split each doc's word stream into
    * fixed 12-word paragraphs (positional chunking — the corpus has no
    * natural newlines), then plant a boilerplate footer paragraph on
    * every 3rd doc (two variants by doc_id % 2) so the cross-document
    * drop path does real work — the same deterministic-enrichment
    * technique as text_pii_mask and multimodal_dedup_exact (the synth
    * corpus has no natural repeated paragraphs at sf0.01). */
  private[graft] def paragraphize(docs: DataFrame): DataFrame = {
    val words = wordsOf(col("text"))
    val nPara = ceil(size(words).cast("double") / paraWords).cast("int")
    val chunks = transform(sequence(lit(0), nPara - 1),
      i => array_join(slice(words, i * paraWords + 1, lit(paraWords)), " "))
    val footer = element_at(
      array(paraFooters.map(lit): _*), (col("doc_id") % 2 + 1).cast("int"))
    val paras = when(col("doc_id") % 3 === 0,
      concat(chunks, array(footer))).otherwise(chunks)
    docs.select(col("doc_id"), posexplode(paras))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("para_idx"),
        col("col").as("para"))
  }

  /** The [[paragraphize]] replay as shared oracle CTE text (`p0`…`occ`,
    * ending in occ(doc_id, para_idx, para)) — one fragment, consumed by
    * both the batch and the incremental paragraph gates so the
    * enrichment can never drift between them. */
  private def sqlParagraphCtes(): String =
    s"""p0 AS (
       |  SELECT doc_id, string_split(text, ' ') AS words FROM documents),
       |p1 AS (
       |  SELECT doc_id,
       |         list_transform(range(0, CAST(ceil(len(words) / 12.0) AS BIGINT)),
       |           i -> array_to_string(words[i*12+1 : i*12+12], ' '))
       |           AS chunks
       |  FROM p0),
       |p2 AS (
       |  SELECT doc_id,
       |         CASE WHEN doc_id % 3 = 0 THEN list_append(chunks,
       |                CASE WHEN doc_id % 2 = 0 THEN '${paraFooters(0)}'
       |                     ELSE '${paraFooters(1)}' END)
       |              ELSE chunks END AS paras
       |  FROM p1),
       |e AS (
       |  SELECT doc_id,
       |         unnest(list_transform(paras,
       |           (x, i) -> struct_pack(para_idx := CAST(i AS BIGINT),
       |                                 para := x))) AS s
       |  FROM p2),
       |occ AS (SELECT doc_id, (s).para_idx AS para_idx, (s).para AS para
       |        FROM e)""".stripMargin

  /** Corpus-wide paragraph dedup: an occurrence survives iff it is the
    * FIRST global occurrence of its paragraph text (order = (doc_id,
    * para_idx)); docs are reassembled from surviving paragraphs in
    * original order. The C4/Dolma boilerplate-removal pass — repeated
    * footers/navigation collapse to one occurrence corpus-wide.
    *
    * Scale shape, chosen for the hot-key reality (at 100 TB one footer
    * paragraph repeats millions of times):
    *   - first-occurrence = groupBy(para).agg(min(struct(doc_id, idx)))
    *     — min is algebraic, so map-side partial aggregation absorbs the
    *     hot paragraph before the shuffle (a row_number window
    *     PARTITION BY para would put every copy of the hot key on one
    *     reducer);
    *   - the survivor mark-up is a left-semi join on the FULL occurrence
    *     key (para, doc_id, para_idx) — distinct per row, skew-free;
    *   - reassembly is one groupBy(doc_id) with order restored by
    *     array_sort over (para_idx, para) structs — never collect order.
    * At 100 TB, `para` as a join key carries full text; swap the key to
    * xxhash64(para) + an equality re-check to shrink the exchange (the
    * hash-gated form here keeps the text key so DuckDB replays it). */
  def paragraphSurvivors(docs: DataFrame): DataFrame = {
    val paras = paragraphize(docs)
    val firsts = paras.groupBy(col("para"))
      .agg(min(struct(col("doc_id"), col("para_idx"))).as("f"))
      .select(col("para"), col("f.doc_id").as("doc_id"),
        col("f.para_idx").as("para_idx"))
    val kept = paras.join(firsts, Seq("para", "doc_id", "para_idx"),
      "left_semi")
    val totals = paras.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_paras"))
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("para_idx"), col("para")))),
            s => s.getField("para")),
          "\n").as("text_clean"))
    totals.join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_paras"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
      .orderBy("doc_id")
  }

  /** Nightly form of [[paragraphSurvivors]] (VERDICT r7 "Next round"
    * #5): the NEW batch's paragraphs (doc_id % mod == 0 — the same
    * deterministic split as [[incrementalSurvivors]]) probe the EXISTING
    * corpus's distinct-paragraph table; a new paragraph is dropped iff
    * its text already occurs in the existing corpus, and the new docs
    * are reassembled from their survivors. The existing side is never
    * re-deduped — at 100 TB it is the precomputed first-occurrence
    * artifact the batch pass materializes, and the increment probes it
    * with one semi-join (or a bloom pre-filter first, exactly the
    * text_decontaminate_bloom shape, when the artifact outgrows a
    * shuffle side). Fixpoint (DedupSpec): re-ingesting the surviving
    * cleaned docs against the same corpus drops nothing — their
    * remaining paragraphs are by construction absent from it. */
  def paragraphIncrementalSurvivors(docs: DataFrame,
      mod: Int = 5): DataFrame = {
    val paras = paragraphize(docs)
    val newP = paras.filter(pmod(col("doc_id"), lit(mod)) === 0)
    val existSet = paras.filter(pmod(col("doc_id"), lit(mod)) =!= 0)
      .select(col("para")).distinct()
    val kept = newP.join(existSet, Seq("para"), "left_anti")
    val totals = newP.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_paras"))
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("para_idx"), col("para")))),
            s => s.getField("para")),
          "\n").as("text_clean"))
    totals.join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_paras"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
      .orderBy("doc_id")
  }

  /** Near-dup CLUSTERS: connected components over the verified near-dup
    * graph — the operator that turns pairwise dedup into dedup GROUPS
    * (pick a canonical doc per cluster, attribute provenance, measure
    * cluster-size distribution). cluster = min doc_id reachable via
    * verified pairs; singletons keep their own id.
    *
    * Iterative min-label propagation: each round is one equi-join of the
    * current labels against the (tiny, candidate-bounded) edge list +
    * a min-aggregate, repeated to fixpoint — the standard distributed CC
    * loop (GraphX runs the same plan). Rounds = graph diameter, which for
    * near-dup clusters is small (dup groups are cliques-ish through the
    * banding), so per-round caching keeps the effective plan shallow;
    * every intermediate cache is released before returning (diameter-deep
    * graphs would swap the cache for checkpoints — same loop). */
  /** At most one cached cluster result is retained per session: a new
    * nearDupClusters call evicts the previous call's cache, so repeated
    * invocations (the bench runs the query 4×) never accumulate. */
  private val lastClusterCache =
    new java.util.concurrent.ConcurrentHashMap[SparkSession, DataFrame]()

  /** Rounds taken by the most recent [[nearDupClusters]] call —
    * observability for the one-job-per-round spec and the scale trend. */
  private[graft] val lastClusterRounds =
    new java.util.concurrent.atomic.AtomicInteger(0)

  def nearDupClusters(docs: DataFrame, jacThreshold: Double = 0.5,
      k: Int = 8, bands: Int = 4, checkpointEvery: Int = 3): DataFrame =
    ccLabels(docs.select(col("doc_id")),
      nearDupVerifiedPairs(docs, jacThreshold, k, bands), checkpointEvery)

  /** Near-dup cluster labels for the documents table, memoized per
    * (session, dir, threshold, k, bands) — the same reusable-artifact
    * argument as [[graft.ops.Similarity.clusterLabels]]: the labeling is
    * computed once and the cluster report, the size spectrum, and
    * keep-best selection all consume it (three registered queries, each
    * of which re-ran the banded join + verify + CC loop before this).
    * First computation lands in the bench build pass; DedupSpec pins
    * memo ≡ definitional [[nearDupClusters]]. */
  private val docClusterMemo =
    new SessionMemo[(String, Double, Int, Int), DataFrame]

  private[graft] def docClusterLabels(s: SparkSession, d: String,
      jacThreshold: Double = 0.5, k: Int = 8, bands: Int = 4): DataFrame =
    docClusterMemo(s, (d, jacThreshold, k, bands)) {
      nearDupClusters(Tables.documents(s, d), jacThreshold, k, bands)
        .localCheckpoint(true)
    }

  /** KEEP-BEST dedup: one surviving document per near-dup cluster, chosen
    * by LENGTH (longest copy, ties to the smaller doc_id) instead of the
    * keep-first rule every other dedup key uses. Production corpora keep
    * the best copy, not the first: near-dup groups are usually one full
    * document plus truncated or boilerplate-wrapped variants, and
    * keep-min-id throws away the full text whenever a fragment got the
    * smaller id. Length is the standard cheap "best" proxy and — unlike a
    * model score — is bit-identical on both engines, so the whole
    * operator stays inside the hash gate.
    *
    * Scale shape: clusters come from the shared candidate-bounded CC loop
    * ([[ccLabels]]); the selection is then ONE hash aggregation —
    * `max_by(doc_id, struct(n_chars, -doc_id))` — whose partial
    * aggregates reduce each partition to one (len, id) pair per cluster
    * before the exchange. The per-cluster sort window the oracle uses
    * (`row_number() OVER (PARTITION BY cluster ORDER BY n DESC, id)`) is
    * the executable spec, not the plan: an argmax needs no sort and no
    * per-cluster partition materialization at 100 TB. */
  def keepBestSurvivors(docs: DataFrame, jacThreshold: Double = 0.5,
      k: Int = 8, bands: Int = 4): DataFrame =
    keepBestSurvivorsFrom(docs, nearDupClusters(docs, jacThreshold, k, bands))

  /** The keep-best argmax over an already-materialized labeling — the
    * form the registered query runs against the session memo. */
  def keepBestSurvivorsFrom(docs: DataFrame, labels: DataFrame): DataFrame = {
    val scored = docs.select(col("doc_id"),
      length(col("text")).cast("long").as("n"))
    labels.join(scored, "doc_id")
      .groupBy(col("cluster"))
      .agg(
        max_by(col("doc_id"), struct(col("n"), (-col("doc_id")).as("ni")))
          .as("doc_id"),
        max(col("n")).as("n_chars_kept"),
        count(lit(1)).cast("long").as("cluster_size"))
      .select(col("cluster"), col("doc_id"), col("n_chars_kept"),
        col("cluster_size"))
      .orderBy("cluster")
  }

  /** The min-label-propagation loop of [[nearDupClusters]], generalized
    * over any (doc_id) node set and (a_id, b_id) edge list so the
    * embedding-similarity clustering ([[Similarity.embeddingClusters]])
    * runs the identical one-job-per-round machinery.
    *
    * Deliberately ONE-HOP per round: pointer jumping (label doubling)
    * was implemented and MEASURED SLOWER at every available scale —
    * jumping over the in-flight frame recomputes the edge join twice
    * (isolated sf0.1 bench: 23.1 s vs 14.1 s for the four CC keys), and
    * jumping through the cached previous labels still lost (15.6 s) —
    * the extra labels-sized join per round outweighs the rounds it
    * saves while diameters stay ≤ ~18 (dense dup components converge in
    * ~5 rounds regardless, SCALE_r07 session 3). Revisit only if a real
    * corpus shows diameters in the hundreds. */
  private[ops] def ccLabels(nodes: DataFrame, rawPairs: DataFrame,
      checkpointEvery: Int): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    val pairs = rawPairs.cache()
    val edges = pairs.union(
        pairs.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
      .withColumnRenamed("a_id", "src").withColumnRenamed("b_id", "dst")
    var labels = nodes.select(col("doc_id"), col("doc_id").as("cluster")).cache()
    val toRelease = scala.collection.mutable.Buffer(pairs, labels)
    var lastCached = labels
    var changed = 1L
    var round = 0
    while (changed > 0) {
      round += 1
      val nbrMin = edges
        .join(labels.select(col("doc_id").as("src"), col("cluster")), "src")
        .groupBy(col("dst").as("doc_id")).agg(min("cluster").as("nbc"))
      // ONE job per round (VERDICT r3 #4): the changed-count rides the
      // label-materialization pass as an accumulator tap in mapPartitions
      // — at 100 TB a second label-sized join per round is the dominant
      // cost of the loop. least() skips nulls, so unmatched left-join
      // rows keep their label; the tap compares old vs new inline.
      // Accumulator hygiene: fresh per round, read only after the one
      // eager action, and never re-read after (cached/checkpointed
      // partitions are not recomputed, so no double counting).
      val acc = spark.sparkContext.longAccumulator(s"cc-changed-r$round")
      val stepped = labels.join(nbrMin, Seq("doc_id"), "left")
        .select(col("doc_id"), col("cluster"),
          least(col("cluster"), col("nbc")).as("nxt"))
        .as[(Long, Long, Long)]
        .mapPartitions { it =>
          it.map { case (id, old, nw) =>
            if (nw != old) acc.add(1L)
            (id, nw)
          }
        }
        .toDF("doc_id", "cluster")
      // every k-th round: eager localCheckpoint instead of cache+count —
      // same single job, but it also truncates lineage so diameter-deep
      // graphs don't grow an unbounded plan tree. k must stay SMALL:
      // each un-truncated round references `labels` twice (the step join
      // and nbrMin), so the logical-plan RENDERING doubles per round —
      // at k=10 a diameter-18 graph (the embedding-threshold components)
      // OOMed the driver building AQE's explain string before any data
      // moved; k=3 caps the nesting at 4× the base plan.
      val next =
        if (round % checkpointEvery == 0) stepped.localCheckpoint()
        else { val c = stepped.cache(); c.count(); c }
      if (sys.env.contains("GRAFT_CC_DEBUG"))
        System.err.println(s"[cc] round=$round changedPrev=$changed " +
          s"planNodes=${stepped.queryExecution.logical.collect { case _ => 1 }.sum} " +
          s"nextPlan=${next.queryExecution.logical.getClass.getSimpleName}/" +
          s"${next.queryExecution.logical.collect { case _ => 1 }.sum}")
      changed = acc.value
      toRelease += next
      lastCached = next
      labels = next
    }
    lastClusterRounds.set(round)
    // fixpoint reached (the convergence count materialized the last
    // round's cache): release every intermediate; the LAST cached frame
    // backs the returned labels — never collected to the driver (at
    // 100 TB the label set IS the corpus). It is evicted by the next
    // call in this session, or at session end.
    val fin = labels
    toRelease.filterNot(_ eq lastCached).foreach(_.unpersist(blocking = false))
    val keep = lastCached
    val prev = lastClusterCache.put(spark, keep)
    if (prev != null && (prev ne keep)) prev.unpersist(blocking = false)
    SessionCleanup.onEnd(spark) {
      lastClusterCache.remove(spark)
      keep.unpersist(blocking = false)
    }
    fin.orderBy("doc_id")
  }

  /** Replicable 30-bit SimHash — the structural twin of [[simhash]] over
    * the DuckDB-replicable rolling-hash family (the same move that gave
    * MinHash its hash-gated pipeline): bit j of the fingerprint is the
    * sign of the ±1 votes of bit j of rollingHash(word) across word
    * OCCURRENCES. 30 bits because the Karp-Rabin hash is mod 1e9+7.
    * Same plan shape as production SimHash's composed form: explode →
    * hash → bit-vote partial aggregates (map-side combined). */
  def simhashReplicable(docs: DataFrame, bits: Int = 30): DataFrame =
    // native one-pass kernel (map-only, codegen'd) — same upgrade the
    // production simhash got; the composed bit-vote form below is kept
    // as the executable spec (equality-asserted in DedupSpec). The trim
    // filter matches the composed groupBy, which emits no row for
    // wordless docs.
    docs.filter(trim(col("text")) =!= "")
      .select(col("doc_id"),
        graft.functions.SimHash.simhash_rolling(col("text"), bits).as("simhash"))

  private[graft] def simhashReplicableComposed(docs: DataFrame,
      bits: Int = 30): DataFrame =
    bitVoteFingerprint(docs,
      w => graft.functions.RollingHash.rolling_hash(w), bits)

  /** Shared bit-vote SimHash pipeline: explode words → per-word hash →
    * ±1 vote per bit → sign-pack. Parameterized by the word-hash column
    * so the production 64-bit form ([[simhashComposed]], xxhash64) and
    * the 30-bit replicable form share one implementation. */
  private def bitVoteFingerprint(docs: DataFrame,
      hashOf: Column => Column, bits: Int): DataFrame = {
    val wh = docs
      .select(col("doc_id"), explode(wordsOf(col("text"))).as("word"))
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

  /** Hamming-close pairs at scale via bit-BLOCK candidate routing: split
    * the fingerprint into `maxHamming + 1` disjoint blocks — by
    * pigeonhole, any pair within hamming `maxHamming` agrees EXACTLY on
    * at least one block — equi-join candidates on (block_idx,
    * block_value), then verify exact `bit_count(xor)` on candidates
    * only. The classic SimHash index (Manku et al., WWW'07 §3): never
    * all-pairs, shuffle keyed by 8-bit block values. Runs on the
    * replicable family so the WHOLE pipeline is hash-gated vs DuckDB. */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
      bits: Int = 30): DataFrame =
    simhashPairsFrom(simhashReplicable(docs, bits), maxHamming, bits)

  /** The production-scale form: 64-bit xxhash64 fingerprints and 16-bit
    * blocks. Wider fingerprints collide exponentially less, so block
    * routing prunes far harder than the 30-bit gated twin (asserted in
    * DedupSpec on this very corpus); the xxhash64 family is not DuckDB-
    * replicable, so this key is rows-only while [[simhashPairs]] carries
    * the hash gate — the same twin pattern as dedup_minhash. */
  def simhashPairs64(docs: DataFrame, maxHamming: Int = 3): DataFrame =
    simhashPairsFrom(simhash(docs), maxHamming, 64)

  /** Pre-verify block-candidate pairs (a_id, b_id, fa, fb) — NOT deduped
    * (a pair appears once per shared block). Exposed separately so
    * scale-trend observability and specs measure candidate mass with the
    * same construction the operator runs. */
  def simhashBlockCandidates(fp: DataFrame, maxHamming: Int,
      bits: Int): DataFrame = {
    val nBlocks = maxHamming + 1
    val width = (bits + nBlocks - 1) / nBlocks
    val blockCols = (0 until nBlocks).map { b =>
      struct(lit(b).as("blk"),
        shiftright(col("simhash"), b * width)
          .bitwiseAND(lit((1L << width) - 1)).as("v"))
    }
    val blocked = fp
      .select(col("doc_id"), col("simhash"), explode(array(blockCols: _*)).as("bb"))
      .select(col("doc_id"), col("simhash"),
        col("bb.blk").as("blk"), col("bb.v").as("v"))
    val a = blocked.select(col("blk"), col("v"), col("doc_id").as("a_id"),
      col("simhash").as("fa"))
    val b = blocked.select(col("blk"), col("v"), col("doc_id").as("b_id"),
      col("simhash").as("fb"))
    a.join(b, Seq("blk", "v")).filter(col("a_id") < col("b_id"))
      .select("a_id", "b_id", "fa", "fb")
  }

  /** Block-routed hamming-close pairs from ANY (doc_id, simhash) frame. */
  def simhashPairsFrom(fp: DataFrame, maxHamming: Int,
      bits: Int): DataFrame =
    simhashBlockCandidates(fp, maxHamming, bits)
      .select(col("a_id"), col("b_id"),
        bit_count(col("fa").bitwiseXOR(col("fb"))).cast("long").as("hamming"))
      // filter BEFORE distinct: hamming is a pure function of the pair,
      // so the dedup exchange only carries hamming-close rows — at scale
      // block collisions vastly outnumber true near-dups.
      .filter(col("hamming") <= maxHamming)
      .distinct()
      .orderBy("a_id", "b_id")

  /** 64-bit SimHash per doc via the native one-pass expression
    * ([[graft.functions.SimHash]]): a pure map over the corpus — no
    * explode, no 64-column vote aggregate, no exchange. */
  def simhash(docs: DataFrame): DataFrame =
    // trim != "" ⇔ at least one non-empty token — matches the composed
    // form, which emits no row for wordless docs.
    docs.filter(trim(col("text")) =!= "")
      .select(col("doc_id"),
        graft.functions.SimHash.simhash64(col("text")).as("simhash"))

  /** The composed (explode + bit-vote aggregate) form the expression
    * replaced — kept as the executable specification; DedupSpec asserts
    * both produce identical fingerprints. */
  private[graft] def simhashComposed(docs: DataFrame): DataFrame =
    bitVoteFingerprint(docs, w => xxhash64(w), 64)

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Truncation-duplicate groups: documents sharing their first `k`
    * chars (crawl re-fetches cut at different lengths — exact dedup
    * misses them, near-dup over-pays). Same digest-groupBy shape as
    * dedup_exact: only (prefix-md5, count, min-id) rows shuffle. */
  def prefixDuplicates(docs: DataFrame, k: Int = 64): DataFrame =
    docs
      .groupBy(md5(substring(col("text"), 1, k).cast("binary")).as("pfx"))
      .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("keep_id"))
      .filter(col("n_docs") > 1)
      .select(col("pfx"), col("n_docs"), col("keep_id"),
        (col("n_docs") - 1).as("n_drop"))
      .orderBy("pfx")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // exact dedup by content digest: keep first doc_id per md5(text).
    "dedup_exact" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy(md5(col("text").cast("binary")).as("h"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id", "h")
        .orderBy("doc_id")),
    // truncation-duplicate detection: docs sharing their first 64 chars
    // (the crawl artifact where one page is fetched whole and again
    // truncated — exact dedup misses it, near-dup over-pays for it).
    // Same digest-groupBy shape as dedup_exact: only (prefix-md5,
    // min-id, count) rows shuffle, payloads stay put; at 100 TB this is
    // the cheapest pass in the dedup ladder and runs first.
    "dedup_prefix" -> ((s, d) =>
      prefixDuplicates(Tables.documents(s, d))),
    // incremental ingest: the doc_id%5==0 batch deduped against the rest
    // (exact digest + banded near-dup, cross-set candidates only).
    "dedup_incremental" -> ((s, d) =>
      incrementalSurvivors(Tables.documents(s, d))),
    // C4/Dolma paragraph pass: drop repeated paragraphs corpus-wide,
    // keep first occurrences, reassemble the docs.
    "dedup_paragraph" -> ((s, d) =>
      paragraphSurvivors(Tables.documents(s, d))),
    // nightly paragraph pass: the new batch's paragraphs probe the
    // existing corpus's paragraph set; only the increment is re-written.
    "dedup_paragraph_incremental" -> ((s, d) =>
      paragraphIncrementalSurvivors(Tables.documents(s, d))),
    // asymmetric containment scoring over the banded candidates.
    "dedup_containment" -> ((s, d) =>
      containmentPairs(Tables.documents(s, d))),
    // crawl-frontier URL canonicalization + collapse.
    "dedup_url_canonical" -> ((s, d) =>
      urlCanonicalSurvivors(Tables.documents(s, d))),
    // estimated-vs-exact Jaccard per banded candidate pair.
    "dedup_minhash_estimate" -> ((s, d) =>
      minhashEstimates(Tables.documents(s, d))),
    // cluster-size spectrum of the near-dup components — the dedup
    // observability row every run should log (how much mass sits in
    // big dup families vs singletons). Two tiny aggs over the labels.
    "dedup_cluster_stats" -> ((s, d) =>
      docClusterLabels(s, d)
        .groupBy(col("cluster")).agg(count(lit(1)).as("cluster_size"))
        .groupBy(col("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"))
        .orderBy("cluster_size")),
    // per-doc n-gram NOVELTY: the fraction of a doc's distinct
    // 3-shingles that appear in NO other document (corpus doc-frequency
    // exactly 1) — boilerplate and template text score near 0, original
    // prose near 1; the inverse signal of every dedup key above, and
    // the standard "diversity budget" column a curation mix reads. One
    // shingle-keyed count (map-side partials; the shuffle carries the
    // shingle vocabulary) + one join back; novelty is a single
    // int/int division, so the 6-dp rounding is engine-safe.
    "text_ngram_novelty" -> ((s, d) => {
      val sh = shingles(Tables.documents(s, d))
      val dfq = sh.groupBy(col("shingle")).agg(count(lit(1)).as("dfreq"))
      sh.join(dfq, Seq("shingle"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_shingles"),
          sum(when(col("dfreq") === 1, 1L).otherwise(0L)).as("n_novel"))
        .withColumn("novelty",
          round(col("n_novel") * 1.0 / col("n_shingles"), 6))
        .orderBy("doc_id")
    }),
    // nearest doc by 3-gram Jaccard for the first 20 docs (exact form;
    // the LSH path replaces the self-join at scale).
    // Bench provenance: 1.40 s inside the 228-query r7 session vs
    // 0.583 s in the r8 isolated min-of-7 with zero code change —
    // within 1.24× of the r6-quiet 0.47 s, i.e. shared-session
    // warm-state noise (the join_theta_range precedent), not a
    // plan regression.
    "dedup_ngram_jaccard" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val sh = shingles(docs)
      val cnt = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
      // query side is 20 docs' shingles — broadcast it so the full corpus
      // side never shuffles (the self-join becomes a broadcast hash join
      // keyed on shingle; at 100 TB the MinHash bands replace this).
      val a = broadcast(shingles(docs.filter(col("doc_id") < 20))
        .select(col("doc_id").as("a_id"), col("shingle")))
      val b = sh.select(col("doc_id").as("b_id"), col("shingle"))
      val inter = a.join(b, "shingle").filter(col("a_id") =!= col("b_id"))
        .groupBy("a_id", "b_id").agg(count(lit(1)).as("inter"))
      val ca = cnt.filter(col("doc_id") < 20)
        .select(col("doc_id").as("a_id"), col("n").as("na"))
      val cb = cnt.select(col("doc_id").as("b_id"), col("n").as("nb"))
      val jac = inter.join(broadcast(ca), "a_id").join(broadcast(cb), "b_id")
        .withColumn("jac", col("inter") * 1.0 / (col("na") + col("nb") - col("inter")))
      jac.withColumn("rn", row_number().over(
          Window.partitionBy("a_id").orderBy(desc("jac"), asc("b_id"))))
        .filter(col("rn") === 1)
        .select(col("a_id"), col("b_id"), round(col("jac"), 6).as("jaccard"))
        .orderBy("a_id")
    }),
    // MinHash signatures + first band bucket (deterministic per doc; the
    // candidate-pair join is exercised in the ScalaTest with planted dups).
    "dedup_minhash" -> ((s, d) =>
      minhashBands(minhashSignatures(Tables.documents(s, d), 16), 16, 4)
        .groupBy("doc_id").agg(count(lit(1)).as("n_bands"),
          min(when(col("band") === 0, col("bucket"))).as("bucket0"))
        .orderBy("doc_id")),
    // SimHash 64-bit fingerprints.
    "dedup_simhash" -> ((s, d) =>
      simhash(Tables.documents(s, d)).orderBy("doc_id")),
    // structural MinHash oracle: band-bucket-size histogram over the
    // DuckDB-replicable hash family (upgrades the MinHash pipeline from
    // rows-only to hash-checked).
    "dedup_minhash_stats" -> ((s, d) =>
      minhashStats(Tables.documents(s, d))),
    // the full candidate-routed dedup: band candidates -> exact Jaccard
    // verify -> drop higher id -> surviving corpus.
    "dedup_near_drop" -> ((s, d) =>
      nearDupSurvivors(Tables.documents(s, d))),
    // maximal exact shared substrings (>= 40 cp) across document pairs:
    // rolling-hash window fingerprints -> hash equi-join -> substring
    // verify -> diagonal gaps-and-islands merge.
    "dedup_substring_spans" -> ((s, d) =>
      substringSpans(Tables.documents(s, d))),
    // connected components of the verified near-dup graph (min reachable
    // doc_id), hash-gated vs a DuckDB RECURSIVE CTE over the same edges.
    "dedup_cluster" -> ((s, d) =>
      docClusterLabels(s, d).orderBy("doc_id")),
    // keep-BEST (longest copy) per near-dup cluster — the production
    // alternative to every keep-first key; single argmax aggregation.
    "dedup_keep_best" -> ((s, d) =>
      keepBestSurvivorsFrom(Tables.documents(s, d), docClusterLabels(s, d))),
    // SimHash near-dup pairs via bit-block routing (Manku et al.),
    // hash-gated end-to-end on the replicable hash family.
    "dedup_simhash_pairs" -> ((s, d) =>
      simhashPairs(Tables.documents(s, d))),
    // wider-block variant (VERDICT r3 #7): maxHamming=2 -> 3 blocks of 10
    // bits. On template-generated corpora the 8-bit blocks admit ~36% of
    // all pairs as candidates; 10-bit blocks (4x fewer collisions per
    // block, 3 blocks instead of 4) prune much harder — the candidate-
    // mass drop is recorded in SCALE_r04.md. Same hash gate.
    "dedup_simhash_pairs_wide" -> ((s, d) =>
      simhashPairs(Tables.documents(s, d), maxHamming = 2)),
    // production 64-bit form: same index, xxhash64 fingerprints (rows-only
    // — the gated 30-bit twin above checks the pipeline; DedupSpec pins
    // this one to the brute-force hamming join exactly).
    "dedup_simhash_pairs64" -> ((s, d) =>
      simhashPairs64(Tables.documents(s, d))),
    // benchmark decontamination: training docs sharing any shingle with
    // the deterministic eval split are dropped before training.
    "text_decontaminate" -> ((s, d) =>
      decontaminate(Tables.documents(s, d))),
    // same semantics at the broadcast-won't-fit scale: Bloom prefilter on
    // the training shingle stream, exact verify on might-contain survivors.
    "text_decontaminate_bloom" -> ((s, d) =>
      decontaminateBloom(Tables.documents(s, d))),
    // Levenshtein verify on LSH candidates — edit-distance fuzzy dedup.
    "dedup_edit_distance" -> ((s, d) =>
      editDistancePairs(Tables.documents(s, d)))
  )

  private lazy val sqlDecontaminate: String =
    s"""WITH ${sqlShinglesCtes()},
       |ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 53 = 0),
       |cont AS (
       |  SELECT DISTINCT t.doc_id FROM sh t JOIN ev ON t.shingle = ev.shingle
       |  WHERE t.doc_id % 53 <> 0)
       |SELECT doc_id, lang, n_chars FROM documents d
       |WHERE doc_id % 53 <> 0
       |  AND NOT EXISTS (SELECT 1 FROM cont c WHERE c.doc_id = d.doc_id)
       |ORDER BY doc_id""".stripMargin

  def oracle: Map[String, String] = Map(
    "dedup_exact" ->
      """SELECT CAST(min(doc_id) AS BIGINT) AS doc_id, md5(text) AS h
        |FROM documents GROUP BY md5(text) ORDER BY doc_id""".stripMargin,
    "dedup_prefix" ->
      """SELECT md5(substr(text, 1, 64)) AS pfx, count(*) AS n_docs,
        |       CAST(min(doc_id) AS BIGINT) AS keep_id,
        |       count(*) - 1 AS n_drop
        |FROM documents GROUP BY 1 HAVING count(*) > 1 ORDER BY pfx""".stripMargin,
    // mirrors paragraphSurvivors: same 12-word chunking (DuckDB's
    // 1-based inclusive list slice clips like Spark's slice), same
    // footer plant, first-occurrence keep as rn=1 over (doc_id, idx),
    // reassembly as ORDER BY-ed string_agg.
    "dedup_paragraph" ->
      s"""WITH ${sqlParagraphCtes()},
         |r AS (
         |  SELECT doc_id, para_idx, para,
         |         row_number() OVER (PARTITION BY para
         |           ORDER BY doc_id, para_idx) AS rn
         |  FROM occ),
         |t AS (SELECT doc_id, count(*) AS n_paras FROM occ GROUP BY doc_id),
         |o AS (
         |  SELECT doc_id, count(*) AS n_kept,
         |         string_agg(para, chr(10) ORDER BY para_idx) AS text_clean
         |  FROM r WHERE rn = 1 GROUP BY doc_id)
         |SELECT t.doc_id, t.n_paras,
         |       coalesce(o.n_kept, 0) AS n_kept,
         |       coalesce(o.text_clean, '') AS text_clean
         |FROM t LEFT JOIN o USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    // identical paragraphize CTEs; the new batch anti-joins the
    // existing corpus's distinct-paragraph set instead of ranking
    // globally.
    "dedup_paragraph_incremental" ->
      s"""WITH ${sqlParagraphCtes()},
         |ex AS (SELECT DISTINCT para FROM occ WHERE doc_id % 5 <> 0),
         |nw AS (SELECT * FROM occ WHERE doc_id % 5 = 0),
         |k AS (SELECT * FROM nw
         |      WHERE para NOT IN (SELECT para FROM ex)),
         |t AS (SELECT doc_id, count(*) AS n_paras FROM nw GROUP BY doc_id),
         |o AS (
         |  SELECT doc_id, count(*) AS n_kept,
         |         string_agg(para, chr(10) ORDER BY para_idx) AS text_clean
         |  FROM k GROUP BY doc_id)
         |SELECT t.doc_id, t.n_paras,
         |       coalesce(o.n_kept, 0) AS n_kept,
         |       coalesce(o.text_clean, '') AS text_clean
         |FROM t LEFT JOIN o USING (doc_id)
         |ORDER BY doc_id""".stripMargin,
    // mirrors incrementalSurvivors: same banding CTEs, cross-set (new ⋈
    // existing) candidates instead of a<b, plus the exact-digest probe.
    "dedup_incremental" ->
      s"""WITH ${sqlBandsCtes()},
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
         |  WHERE a.doc_id % 5 = 0 AND b.doc_id % 5 <> 0),
         |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT c.a_id, c.b_id, count(*) AS inter
         |  FROM cand c JOIN sh sa ON sa.doc_id = c.a_id
         |  JOIN sh sb ON sb.doc_id = c.b_id AND sb.shingle = sa.shingle
         |  GROUP BY 1, 2),
         |dup_near AS (
         |  SELECT DISTINCT i.a_id AS doc_id FROM inter i
         |  JOIN cnt ca ON ca.doc_id = i.a_id
         |  JOIN cnt cb ON cb.doc_id = i.b_id
         |  WHERE i.inter * 1.0 / (ca.n + cb.n - i.inter) >= 0.5),
         |dup_exact AS (
         |  SELECT DISTINCT n.doc_id FROM documents n JOIN documents e
         |    ON md5(n.text) = md5(e.text)
         |   AND n.doc_id % 5 = 0 AND e.doc_id % 5 <> 0)
         |SELECT doc_id, n_chars FROM documents
         |WHERE doc_id % 5 = 0
         |  AND doc_id NOT IN (SELECT doc_id FROM dup_near)
         |  AND doc_id NOT IN (SELECT doc_id FROM dup_exact)
         |ORDER BY doc_id""".stripMargin,
    // same shingle stream, one doc-frequency aggregate, integer-ratio
    // novelty.
    "text_ngram_novelty" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS words FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |ex AS (
        |  SELECT doc_id, words, unnest(range(1, len(words) - 1)) AS i FROM w),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |         words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
        |  FROM ex),
        |dfq AS (SELECT shingle, count(*) AS dfreq FROM sh GROUP BY shingle)
        |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles,
        |       CAST(sum(CASE WHEN dfreq = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_novel,
        |       round(sum(CASE WHEN dfreq = 1 THEN 1 ELSE 0 END) * 1.0
        |             / count(*), 6) AS novelty
        |FROM sh JOIN dfq USING (shingle)
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "dedup_ngram_jaccard" ->
      """WITH w AS (
        |  SELECT doc_id, string_split(text, ' ') AS words FROM documents
        |  WHERE len(string_split(text, ' ')) >= 3),
        |ex AS (
        |  SELECT doc_id, words, unnest(range(1, len(words) - 1)) AS i FROM w),
        |sh AS (
        |  SELECT DISTINCT doc_id,
        |         words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
        |  FROM ex),
        |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
        |inter AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, count(*) AS inter
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id <> b.doc_id
        |  WHERE a.doc_id < 20 GROUP BY 1, 2),
        |jac AS (
        |  SELECT a_id, b_id,
        |         inter * 1.0 / (ca.n + cb.n - inter) AS jac,
        |         row_number() OVER (PARTITION BY a_id
        |           ORDER BY inter * 1.0 / (ca.n + cb.n - inter) DESC, b_id) AS rn
        |  FROM inter JOIN cnt ca ON ca.doc_id = a_id JOIN cnt cb ON cb.doc_id = b_id)
        |SELECT a_id, b_id, round(jac, 6) AS jaccard FROM jac
        |WHERE rn = 1 ORDER BY a_id""".stripMargin,
    // dedup_minhash / dedup_simhash: Spark murmur3/xxhash64 have no DuckDB
    // equivalent → rows-only check + ScalaTest property coverage. The
    // pipelines themselves are hash-gated through the rolling-hash twins
    // below, whose shared CTE chains come from sqlBandsCtes/sqlJacCtes —
    // ONE definition of the hash family, band combiner, and verify logic.
    "dedup_minhash_stats" ->
      s"""WITH ${sqlBandsCtes()},
         |sz AS (SELECT band, bucket, CAST(count(*) AS BIGINT) AS bucket_size
         |       FROM bands GROUP BY 1, 2)
         |SELECT band, bucket_size, CAST(count(*) AS BIGINT) AS n_buckets
         |FROM sz GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // same CTE chain: `sig` already carries m0..m7 (the replicable
    // family), `jac` the exact scores — the estimate is component
    // agreement over the same mins.
    "dedup_minhash_estimate" -> {
      val agree = (0 until 8).map(i =>
        s"(CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END)").mkString(" + ")
      s"""WITH ${sqlJacCtes()},
         |est AS (
         |  SELECT j.a_id, j.b_id, ($agree) / 8.0 AS est_jac,
         |         round(j.jac, 6) AS jac
         |  FROM jac j JOIN sig sa ON sa.doc_id = j.a_id
         |  JOIN sig sb ON sb.doc_id = j.b_id)
         |SELECT a_id, b_id, est_jac, jac,
         |       round(abs(est_jac - jac), 6) AS abs_err
         |FROM est ORDER BY a_id, b_id""".stripMargin
    },
    // mirrors urlCanonicalSurvivors: same URL derivation, same
    // normalization regexes (ASCII classes — Java regex and RE2 agree).
    "dedup_url_canonical" ->
      """WITH u AS (
        |  SELECT doc_id,
        |         CASE WHEN doc_id % 2 = 0
        |           THEN 'HTTPS://WWW.Site'
        |                || CAST((doc_id // 2) % 50 AS VARCHAR)
        |                || '.Example.COM/item/'
        |                || CAST(doc_id // 2 AS VARCHAR)
        |                || '/?utm_source=feed&ref=rss#frag'
        |           ELSE 'https://site'
        |                || CAST((doc_id // 2) % 50 AS VARCHAR)
        |                || '.example.com/item/'
        |                || CAST(doc_id // 2 AS VARCHAR)
        |         END AS url
        |  FROM documents),
        |c AS (
        |  SELECT doc_id,
        |         regexp_replace(lower(regexp_extract(url,
        |             '^[a-zA-Z]+://([^/]+)', 1)), '^www\.', '')
        |         || regexp_replace(regexp_extract(url,
        |             '^[a-zA-Z]+://[^/]+([^?#]*)', 1), '/$', '')
        |           AS canonical_url
        |  FROM u)
        |SELECT canonical_url, CAST(min(doc_id) AS BIGINT) AS keep_id,
        |       count(*) AS n_copies
        |FROM c GROUP BY canonical_url ORDER BY canonical_url""".stripMargin,
    // same CTE chain as the Jaccard family through `inter`/`cnt`; only
    // the score (inter / least) and the contained-side CASE differ.
    "dedup_containment" ->
      s"""WITH ${sqlJacCtes()},
         |con AS (
         |  SELECT i.a_id, i.b_id,
         |         round(i.inter * 1.0 / least(ca.n, cb.n), 6) AS containment,
         |         CASE WHEN ca.n <= cb.n THEN i.a_id ELSE i.b_id END
         |           AS contained_id
         |  FROM inter i JOIN cnt ca ON ca.doc_id = i.a_id
         |  JOIN cnt cb ON cb.doc_id = i.b_id)
         |SELECT a_id, b_id, containment, contained_id FROM con
         |WHERE containment >= 0.6 ORDER BY a_id, b_id""".stripMargin,
    "dedup_near_drop" ->
      s"""WITH ${sqlJacCtes()},
         |dropped AS (SELECT DISTINCT b_id FROM jac WHERE jac >= 0.5)
         |SELECT doc_id, n_chars FROM documents d
         |WHERE NOT EXISTS (SELECT 1 FROM dropped x WHERE x.b_id = d.doc_id)
         |ORDER BY doc_id""".stripMargin,
    // Mirrors substringSpans with the hash join collapsed: Spark joins on
    // the rolling hash then verifies the substrings are equal, which is
    // exactly a join on substring equality (equal substrings always
    // hash-equal; hash-equal-but-unequal rows are filtered) — so the
    // oracle joins on the window text directly.
    "dedup_substring_spans" ->
      """WITH wins AS (
        |  SELECT doc_id, CAST(i AS BIGINT) AS pos,
        |         substr(text, CAST(i AS INT), 40) AS s
        |  FROM (SELECT doc_id, text, unnest(range(1, length(text) - 38)) AS i
        |        FROM documents WHERE length(text) >= 40)),
        |hits AS (
        |  SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.pos AS a_pos, b.pos AS b_pos
        |  FROM wins a JOIN wins b ON a.s = b.s AND a.doc_id < b.doc_id),
        |isl AS (
        |  SELECT a_id, b_id, b_pos - a_pos AS diag, a_pos,
        |         a_pos - row_number() OVER (PARTITION BY a_id, b_id, b_pos - a_pos
        |                                    ORDER BY a_pos) AS grp
        |  FROM hits)
        |SELECT a_id, b_id, min(a_pos) AS a_start,
        |       min(a_pos) + diag AS b_start,
        |       max(a_pos) - min(a_pos) + 40 AS span_len
        |FROM isl GROUP BY a_id, b_id, diag, grp
        |ORDER BY a_id, b_id, a_start, b_start""".stripMargin,
    // Same pipeline through `jac`, then connected components as a
    // transitive-closure RECURSIVE CTE: cluster = min reachable doc_id
    // over the symmetric verified-pair edges — the closed form of the
    // min-label-propagation fixpoint the Spark loop computes.
    "dedup_cluster" ->
      s"""WITH RECURSIVE ${sqlJacCtes()},
         |good AS (SELECT a_id, b_id FROM jac WHERE jac >= 0.5),
         |edges AS (
         |  SELECT a_id AS src, b_id AS dst FROM good
         |  UNION ALL SELECT b_id, a_id FROM good),
         |reach AS (
         |  SELECT doc_id AS id, doc_id AS lab FROM documents
         |  UNION
         |  SELECT e.dst AS id, r.lab FROM reach r JOIN edges e ON e.src = r.id)
         |SELECT id AS doc_id, min(lab) AS cluster
         |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin,
    // the same reach-set chain, then keep the LONGEST doc per cluster
    // (ties to the smaller id). The window form here is the executable
    // spec of the argmax aggregation the Spark side runs.
    "dedup_keep_best" ->
      s"""WITH RECURSIVE ${sqlJacCtes()},
         |good AS (SELECT a_id, b_id FROM jac WHERE jac >= 0.5),
         |edges AS (
         |  SELECT a_id AS src, b_id AS dst FROM good
         |  UNION ALL SELECT b_id, a_id FROM good),
         |reach AS (
         |  SELECT doc_id AS id, doc_id AS lab FROM documents
         |  UNION
         |  SELECT e.dst AS id, r.lab FROM reach r JOIN edges e ON e.src = r.id),
         |labs AS (
         |  SELECT id, min(lab) AS cluster FROM reach GROUP BY id),
         |scored AS (
         |  SELECT l.cluster, d.doc_id,
         |         CAST(length(d.text) AS BIGINT) AS n,
         |         count(*) OVER (PARTITION BY l.cluster) AS cs,
         |         row_number() OVER (PARTITION BY l.cluster
         |           ORDER BY length(d.text) DESC, d.doc_id) AS rn
         |  FROM labs l JOIN documents d ON d.doc_id = l.id)
         |SELECT cluster, doc_id, n AS n_chars_kept,
         |       CAST(cs AS BIGINT) AS cluster_size
         |FROM scored WHERE rn = 1 ORDER BY cluster""".stripMargin,
    // the same reach-set chain rolled up to the size spectrum.
    "dedup_cluster_stats" ->
      s"""WITH RECURSIVE ${sqlJacCtes()},
         |good AS (SELECT a_id, b_id FROM jac WHERE jac >= 0.5),
         |edges AS (
         |  SELECT a_id AS src, b_id AS dst FROM good
         |  UNION ALL SELECT b_id, a_id FROM good),
         |reach AS (
         |  SELECT doc_id AS id, doc_id AS lab FROM documents
         |  UNION
         |  SELECT e.dst AS id, r.lab FROM reach r JOIN edges e ON e.src = r.id),
         |labs AS (
         |  SELECT id, min(lab) AS cluster FROM reach GROUP BY id),
         |sz AS (
         |  SELECT cluster, CAST(count(*) AS BIGINT) AS cluster_size
         |  FROM labs GROUP BY cluster)
         |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters
         |FROM sz GROUP BY cluster_size ORDER BY cluster_size""".stripMargin,
    // Replicates simhashReplicable + simhashPairs exactly: same word
    // split, same rolling-hash bit votes, same block routing, same
    // bit_count(xor) verify — the full SimHash index is hash-checked
    // (once per registered block geometry).
    "dedup_simhash_pairs" -> sqlSimhashPairs(maxHamming = 3),
    "dedup_simhash_pairs_wide" -> sqlSimhashPairs(maxHamming = 2),
    // mirrors decontaminate: same shingle CTEs, eval split by doc_id mod.
    "text_decontaminate" -> sqlDecontaminate,
    // the Bloom prefilter is exact-verified, so the bloom route shares the
    // exact route's oracle verbatim.
    "text_decontaminate_bloom" -> sqlDecontaminate,
    // mirrors editDistancePairs: same banding CTEs through candidates,
    // then DuckDB's own levenshtein on the candidate-bounded pairs.
    "dedup_edit_distance" ->
      s"""WITH ${sqlBandsCtes()},
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
         |  FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
         |   AND a.doc_id < b.doc_id)
         |SELECT c.a_id, c.b_id,
         |       CAST(levenshtein(da.text, db.text) AS BIGINT) AS edit_dist,
         |       round(1.0 - levenshtein(da.text, db.text) * 1.0 /
         |             greatest(length(da.text), length(db.text)), 6) AS edit_sim
         |FROM cand c JOIN documents da ON da.doc_id = c.a_id
         |JOIN documents db ON db.doc_id = c.b_id
         |ORDER BY c.a_id, c.b_id""".stripMargin
  )

  /** DuckDB replication of simhashReplicable + simhashPairs for a given
    * block geometry (nBlocks = maxHamming + 1, width = ceil(30/nBlocks))
    * — mirrors [[simhashBlockCandidates]]'s shift/mask arithmetic. */
  private def sqlSimhashPairs(maxHamming: Int, bits: Int = 30): String = {
    val nBlocks = maxHamming + 1
    val width = (bits + nBlocks - 1) / nBlocks
    val votes = (0 until bits).map(j =>
      s"sum(CASE WHEN (h // ${1L << j}) % 2 = 1 THEN 1 ELSE -1 END) AS v$j")
      .mkString(",\n  ")
    val pack = (0 until bits).map(j =>
      s"CASE WHEN v$j > 0 THEN ${1L << j} ELSE 0 END").mkString("\n    + ")
    val blockVals = (0 until nBlocks).map(b =>
      s"($b, (simhash // ${1L << (b * width)}) % ${1L << width})").mkString(",\n    ")
    s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS words FROM documents),
       |tok AS (SELECT doc_id, unnest(words) AS word FROM w),
       |th AS (SELECT doc_id, ${sqlHashOf("word")} AS h
       |       FROM tok WHERE len(word) > 0),
       |votes AS (SELECT doc_id,
       |  $votes
       |  FROM th GROUP BY doc_id),
       |fp AS (SELECT doc_id, CAST($pack AS BIGINT) AS simhash FROM votes),
       |blk AS (SELECT doc_id, simhash, t.blk, t.v FROM fp CROSS JOIN LATERAL (VALUES
       |    $blockVals) t(blk, v)),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
       |         CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |  FROM blk a JOIN blk b ON a.blk = b.blk AND a.v = b.v
       |   AND a.doc_id < b.doc_id)
       |SELECT a_id, b_id, hamming FROM cand WHERE hamming <= $maxHamming
       |ORDER BY a_id, b_id""".stripMargin
  }

  /** DuckDB replication of the Karp-Rabin rolling hash (mod 1e9+7) —
    * single source of truth for every replicable-family oracle. */
  private def sqlHashOf(e: String): String =
    s"""list_reduce(list_prepend(CAST(0 AS BIGINT),
       |  list_transform(string_split($e, ''), c -> CAST(unicode(c) AS BIGINT))),
       |  (acc, x) -> (acc * 131 + x) % 1000000007)""".stripMargin

  /** Shared oracle CTE chain: shingles → replicable 8-min signatures →
    * band buckets (mirrors shingles + replicableBands). `src` is the
    * relation the pipeline reads — "documents" for the standalone dedup
    * keys, an upstream CTE for composed pipelines (CorpusPrep). */
  /** Shingle-only CTE prefix (w → ex → sh) — the shared word-shingle
    * definition every shingle-consuming oracle builds on. */
  private[graft] def sqlShinglesCtes(src: String = "documents"): String =
    s"""w AS (
       |  SELECT doc_id, string_split(text, ' ') AS words FROM $src
       |  WHERE len(string_split(text, ' ')) >= 3),
       |ex AS (
       |  SELECT doc_id, words, unnest(range(1, len(words) - 1)) AS i FROM w),
       |sh AS (
       |  SELECT DISTINCT doc_id,
       |         words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS shingle
       |  FROM ex)""".stripMargin

  private[graft] def sqlBandsCtes(src: String = "documents"): String = {
    val minCols = (0 until 8).map(i =>
      s"min(${sqlHashOf(s"'$i|' || shingle")}) AS m$i").mkString(",\n  ")
    s"""${sqlShinglesCtes(src)},
       |sig AS (SELECT doc_id,
       |  $minCols
       |  FROM sh GROUP BY doc_id),
       |bands AS (
       |  SELECT doc_id, b.band, b.bucket FROM sig CROSS JOIN LATERAL (VALUES
       |    (0, m0 * 2000000011 + m1), (1, m2 * 2000000011 + m3),
       |    (2, m4 * 2000000011 + m5), (3, m6 * 2000000011 + m7)) b(band, bucket))""".stripMargin
  }

  /** Extends [[sqlBandsCtes]] through candidate pairs and exact-Jaccard
    * scores (mirrors candidatePairs + nearDupVerifiedPairs). */
  private[graft] def sqlJacCtes(src: String = "documents"): String =
    s"""${sqlBandsCtes(src)},
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.bucket = b.bucket
       |   AND a.doc_id < b.doc_id),
       |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT c.a_id, c.b_id, count(*) AS inter
       |  FROM cand c JOIN sh sa ON sa.doc_id = c.a_id
       |  JOIN sh sb ON sb.doc_id = c.b_id AND sb.shingle = sa.shingle
       |  GROUP BY 1, 2),
       |jac AS (
       |  SELECT i.a_id, i.b_id, i.inter * 1.0 / (ca.n + cb.n - i.inter) AS jac
       |  FROM inter i JOIN cnt ca ON ca.doc_id = i.a_id
       |  JOIN cnt cb ON cb.doc_id = i.b_id)""".stripMargin
}
