package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.Tables

/** Dataset profiling + partition-layout operators (EXT; builder north
  * star "data management at 100 TB" — the reference's only profiling is
  * its row-count progress report, prepareupload.py:49-60).
  *
  * - [[profileColumns]] is the one-pass `DESCRIBE`-style corpus audit:
  *   per column, null count / distinct count / min / max. ONE scan of
  *   the table computes every measure (the multi-distinct agg plans as
  *   a single pass with Expand), then the 1×(4·k) row pivots to k rows
  *   driver-free. At 100 TB the exact distinct counts are the expensive
  *   part — swap `countDistinct` for `approx_count_distinct` when a
  *   ±2 % answer is acceptable; the oracle pins the exact form.
  * - [[queries]]' `sink_partitioned_prune` demonstrates the layout that
  *   makes a 100 TB corpus queryable at all: write partitioned by a
  *   low-cardinality column (`lang`), read back with a partition
  *   predicate, and the scan must list only the matching directories
  *   (PartitionFilters, asserted in ProfileSpec) — I/O proportional to
  *   the selected partition, not the corpus.
  */
object Profile {

  private val docCols = Seq("doc_id", "text", "lang", "source", "n_chars")

  def profileColumns(docs: DataFrame): DataFrame = {
    val aggs = docCols.flatMap { c =>
      Seq((count(lit(1)) - count(col(c))).as(s"${c}__nulls"),
        countDistinct(col(c)).as(s"${c}__nd"),
        min(col(c)).cast("string").as(s"${c}__min"),
        max(col(c)).cast("string").as(s"${c}__max"))
    }
    val one = docs.agg(aggs.head, aggs.tail: _*)
    val structs = array(docCols.map { c =>
      struct(lit(c).as("col_name"),
        col(s"${c}__nulls").as("n_nulls"),
        col(s"${c}__nd").as("n_distinct"),
        col(s"${c}__min").as("min_val"),
        col(s"${c}__max").as("max_val"))
    }: _*)
    one.select(explode(structs).as("p")).select("p.*").orderBy("col_name")
  }

  /** Equi-width HISTOGRAM of a numeric column (n_chars, `nb` buckets
    * between the observed min/max) — the distribution profile
    * `profileColumns`' min/max summary can't show (skew, modality,
    * truncation artifacts in a corpus' length distribution).
    *
    * Bucketing is pure INTEGER arithmetic — bucket = least((x - mn) ·
    * nb div (mx - mn + 1), nb - 1) — so both engines compute identical
    * buckets (no FP rounding at the edges, the classic histogram-parity
    * trap). Two scans: a 1-row min/max aggregate broadcast back, then a
    * map-side bucket assignment + a `nb`-key groupBy with map-side
    * partials. Empty buckets are absent on both engines. At 100 TB both
    * scans are scan-bound; fold the bounds pass into a prior
    * profileColumns run when one exists. */
  def histogram(docs: DataFrame, nb: Int = 10): DataFrame = {
    val bounds = docs.agg(min(col("n_chars")).as("mn"),
      max(col("n_chars")).as("mx"))
    docs.crossJoin(broadcast(bounds))
      .select(least(expr(s"((n_chars - mn) * $nb) div (mx - mn + 1)"),
        lit(nb - 1L)).as("bucket"), col("n_chars"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("lo_chars"),
        max(col("n_chars")).as("hi_chars"))
      .orderBy("bucket")
  }

  // one partitioned copy per (session, sfDir), cleaned up with the session
  private val memo =
    new scala.collection.concurrent.TrieMap[(SparkSession, String), String]

  private[graft] def partitionedCopy(s: SparkSession, d: String): String =
    memo.getOrElseUpdate((s, d), {
      val tmp = java.nio.file.Files.createTempDirectory("graft-part").toString
      SessionCleanup.onEnd(s) {
        memo.remove((s, d))
        SessionCleanup.deleteRecursively(tmp)
      }
      Tables.documents(s, d).write.mode("overwrite")
        .partitionBy("lang").parquet(tmp)
      tmp
    })

  // one range-sorted copy per (session, sfDir), cleaned with the session
  private val sortedMemo =
    new scala.collection.concurrent.TrieMap[(SparkSession, String), String]

  /** Range-clustered parquet layout: repartitionByRange on the scan key
    * + sortWithinPartitions, so every file owns a DISJOINT n_chars range
    * and its footer min/max statistics let a filtered scan skip whole
    * files — the sorted-layout half of table maintenance (compaction is
    * [[compactCopy]]). ProfileSpec asserts the per-file ranges really
    * are disjoint; the registered key gates the round trip. */
  private[graft] def sortedCopy(s: SparkSession, d: String): String =
    sortedMemo.getOrElseUpdate((s, d), {
      val tmp = java.nio.file.Files.createTempDirectory("graft-sorted").toString
      SessionCleanup.onEnd(s) {
        sortedMemo.remove((s, d))
        SessionCleanup.deleteRecursively(tmp)
      }
      Tables.documents(s, d)
        .repartitionByRange(4, col("n_chars"))
        .sortWithinPartitions("n_chars")
        .write.mode("overwrite").parquet(tmp)
      tmp
    })

  /** 20-bit Morton interleave of two 10-bit values: bit b of x lands at
    * position 2b, bit b of y at 2b+1. Pure shift/mask arithmetic —
    * identical on Spark (codegen'd) and DuckDB ([[sqlMorton10]] unrolls
    * the same loop into operator syntax). */
  private[graft] def morton10(x: Column, y: Column): Column =
    (0 until 10).map { b =>
      shiftleft(shiftright(x, b).bitwiseAND(lit(1L)), 2 * b)
        .bitwiseOR(shiftleft(shiftright(y, b).bitwiseAND(lit(1L)), 2 * b + 1))
    }.reduce(_ bitwiseOR _)

  private def sqlMorton10(x: String, y: String): String =
    (0 until 10).map(b =>
      s"(((($x) >> $b) & 1) << ${2 * b}) | (((($y) >> $b) & 1) << ${2 * b + 1})")
      .mkString(" | ")

  private val zorderMemo =
    new scala.collection.concurrent.TrieMap[(SparkSession, String), String]

  /** Z-ORDER (Morton-curve) clustered rewrite of the events table on
    * (user_id, day): interleave the low 10 bits of each dimension into a
    * 20-bit z-key, range-partition + sort on it, write. A single-column
    * sort ([[sortedCopy]]) prunes files on ONE predicate column only;
    * the space-filling curve keeps BOTH dimensions localized, so footer
    * min/max statistics skip files for a filter on user_id alone, on day
    * alone, or on the conjunction — the multi-dimensional layout every
    * large table maintenance system converges on. ProfileSpec measures
    * the skipping: for a selective user_id range predicate, the
    * qualifying files cover a strict subset of the z-ordered files while
    * the day-sorted layout cannot skip any.
    *
    * At 100 TB the z-key costs a handful of codegen'd shift/mask ops per
    * row (no UDF, no sketch) and the rewrite is the same one shuffle any
    * re-clustering pays; 10 bits per dimension bounds curve cells at
    * 1024², the right granularity for file-level (not row-level)
    * skipping. */
  private[graft] def zorderCopy(s: SparkSession, d: String): String =
    zorderMemo.getOrElseUpdate((s, d), {
      val tmp = java.nio.file.Files.createTempDirectory("graft-zorder").toString
      SessionCleanup.onEnd(s) {
        zorderMemo.remove((s, d))
        SessionCleanup.deleteRecursively(tmp)
      }
      val zday = expr("unix_micros(ts) div 86400000000").bitwiseAND(lit(1023L))
      Tables.events(s, d)
        .select(col("event_id"), col("user_id"),
          col("user_id").bitwiseAND(lit(1023L)).as("zuser"),
          zday.as("zday"))
        .withColumn("zkey", morton10(col("zuser"), col("zday")))
        .repartitionByRange(8, col("zkey"))
        .sortWithinPartitions("zkey")
        .write.mode("overwrite").parquet(tmp)
      tmp
    })

  private val dppDimMemo =
    new scala.collection.concurrent.TrieMap[(SparkSession, String), String]

  /** Tiny lang→tier dimension written as parquet — the filter side of
    * the dynamic-partition-pruning join. Which langs are 'major' is only
    * discoverable by READING the dim, which is what forces the runtime
    * pruning subquery instead of static predicate pushdown. */
  private[graft] def dppDims(s: SparkSession, d: String): String =
    dppDimMemo.getOrElseUpdate((s, d), {
      val tmp = java.nio.file.Files.createTempDirectory("graft-dppdim").toString
      SessionCleanup.onEnd(s) {
        dppDimMemo.remove((s, d))
        SessionCleanup.deleteRecursively(tmp)
      }
      Tables.documents(s, d).select(col("lang")).distinct()
        .withColumn("tier",
          when(col("lang").isin("en", "zh"), "major").otherwise("minor"))
        .write.mode("overwrite").parquet(tmp)
      tmp
    })

  // one JSONL copy per (session, sfDir, shards), cleaned up with the
  // session — shards is part of the key so a different shard count never
  // silently reuses an old layout
  private val jsonlMemo =
    new scala.collection.concurrent.TrieMap[(SparkSession, String, Int), String]

  private[graft] def jsonlCopy(s: SparkSession, d: String, shards: Int): String =
    jsonlMemo.getOrElseUpdate((s, d, shards), {
      val tmp = java.nio.file.Files.createTempDirectory("graft-jsonl").toString
      SessionCleanup.onEnd(s) {
        jsonlMemo.remove((s, d, shards))
        SessionCleanup.deleteRecursively(tmp)
      }
      // range-repartition on the sort key → shards hold contiguous id
      // ranges (the layout a training loader reads sequentially), and
      // the shard count is the explicit dial (at 100 TB: total/512 MB).
      Tables.documents(s, d)
        .repartitionByRange(shards, col("doc_id"))
        .write.mode("overwrite").json(tmp)
      tmp
    })

  // one compacted copy per (session, sfDir): a deliberately fragmented
  // 64-file write, then the size-targeted compaction rewrite
  private val compactMemo =
    new scala.collection.concurrent.TrieMap[(SparkSession, String), (String, Int)]

  /** Small-file COMPACTION — the table-maintenance pass every long-lived
    * lake table needs: streaming appends and per-task writes fragment a
    * table into thousands of KB-sized files, and at 100 TB the resulting
    * per-file open/footer overhead dominates scan time. The rewrite
    * sizes the output from the DATA (n_out = ⌈total_bytes / target⌉ from
    * the actual file listing, the 512 MB dial scaled to this corpus) and
    * uses `coalesce`, not `repartition`: compaction only needs to merge
    * read-partitions, so the rewrite is shuffle-free — each output task
    * concatenates a set of input files. (`repartition` is the variant
    * when output SIZE BALANCE matters more than avoiding the shuffle,
    * e.g. after skewed deletes.) Returns (root, n_out); the gated query
    * reads the compacted table back — compaction must be row-invisible,
    * which is exactly what the oracle checks. */
  private[graft] def compactCopy(s: SparkSession, d: String): (String, Int) =
    compactMemo.getOrElseUpdate((s, d), {
      val root = java.nio.file.Files.createTempDirectory("graft-compact").toString
      SessionCleanup.onEnd(s) {
        compactMemo.remove((s, d))
        SessionCleanup.deleteRecursively(root)
      }
      Tables.documents(s, d).repartition(64)
        .write.mode("overwrite").parquet(s"$root/small")
      val smallBytes = new java.io.File(s"$root/small").listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.length).sum
      val targetBytes = 256L * 1024
      val nOut = math.max(1, math.ceil(smallBytes.toDouble / targetBytes).toInt)
      s.read.parquet(s"$root/small").coalesce(nOut)
        .write.mode("overwrite").parquet(s"$root/compact")
      (root, nOut)
    })

  /** Per-source distribution-drift score: the two-sample KS statistic
    * of each source's length distribution against the whole corpus —
    * the monitoring row that catches "source X started sending
    * truncated docs" before it poisons a training mix. ECDFs are
    * evaluated on the shared value axis: per-(source, value) counts
    * cumsum along the axis (window PARTITIONED by source), corpus
    * cumsum once. The only unpartitioned window runs over the DISTINCT
    * value axis — domain-bounded (lengths), not corpus-bounded.
    * Every F is an exact integer ratio, so the max |ΔF| is
    * engine-identical before its display rounding. */
  def sourceDriftKs(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perVal = docs.groupBy(col("n_chars")).agg(count(lit(1)).as("c"))
    val total = docs.agg(count(lit(1)).as("n_total"))
    val fAll = perVal
      .withColumn("cum", sum(col("c")).over(Window.orderBy("n_chars")))
      .crossJoin(broadcast(total))
      .select(col("n_chars"),
        (col("cum").cast("double") / col("n_total")).as("f_all"))
    val srcs = docs.groupBy(col("source")).agg(count(lit(1)).as("n_src"))
    val grid = perVal.select("n_chars").crossJoin(broadcast(srcs))
    val perSrcVal = docs.groupBy(col("source"), col("n_chars"))
      .agg(count(lit(1)).as("sc"))
    val fSrc = grid.join(perSrcVal, Seq("source", "n_chars"), "left")
      .withColumn("cum", sum(coalesce(col("sc"), lit(0L))).over(
        Window.partitionBy("source").orderBy("n_chars")))
      .select(col("source"), col("n_chars"), col("n_src"),
        (col("cum").cast("double") / col("n_src")).as("f_src"))
    fSrc.join(fAll, Seq("n_chars"))
      .groupBy(col("source"))
      .agg(max(col("n_src")).as("n_docs"),
        round(max(abs(col("f_src") - col("f_all"))), 6).as("ks"))
      .orderBy("source")
  }

  /** Per-source PSI (population stability index) against the corpus
    * length distribution — the BINNED drift companion to
    * [[sourceDriftKs]]: PSI = Σ_bins (p−q)·ln(p/q) weights tail mass
    * where KS sees only the single worst ECDF gap, so the two together
    * are the standard drift dashboard pair. Bins are [[histogram]]'s
    * integer-exact equi-width buckets (no FP edge ambiguity); both
    * p (source) and q (corpus) take +1/+nb Laplace smoothing so a
    * source-empty bin contributes a finite penalty instead of ±∞, and
    * a single-source corpus scores exactly 0.
    *
    * Work shape: one map-side bucket assignment against broadcast
    * bounds, two small keyed aggregates, and a sources×buckets grid
    * that is dashboard-sized (|sources|·nb rows) — nothing here scales
    * with the corpus beyond the two scans, and the ln() terms follow
    * the round-6dp-after-sum discipline the KS/z-score oracles pin. */
  def sourceDriftPsi(docs: DataFrame, nb: Int = 10): DataFrame = {
    val bounds = docs.agg(min(col("n_chars")).as("mn"),
      max(col("n_chars")).as("mx"))
    val binned = docs.crossJoin(broadcast(bounds))
      .select(col("source"),
        least(expr(s"((n_chars - mn) * $nb) div (mx - mn + 1)"),
          lit(nb - 1L)).as("bucket"))
    val allB = binned.groupBy("bucket").agg(count(lit(1)).as("c_all"))
    val nAll = docs.agg(count(lit(1)).as("n_all"))
    val srcs = docs.groupBy("source").agg(count(lit(1)).as("n_src"))
    val perSrcB = binned.groupBy("source", "bucket")
      .agg(count(lit(1)).as("c_src"))
    srcs.crossJoin(broadcast(allB))
      .join(perSrcB, Seq("source", "bucket"), "left")
      .crossJoin(broadcast(nAll))
      .select(col("source"), col("n_src"),
        ((coalesce(col("c_src"), lit(0L)) + 1.0) / (col("n_src") + nb))
          .as("p"),
        ((col("c_all") + 1.0) / (col("n_all") + nb)).as("q"))
      .groupBy("source")
      .agg(max(col("n_src")).as("n_docs"),
        round(sum((col("p") - col("q")) * log(col("p") / col("q"))), 6)
          .as("psi"))
      .orderBy("source")
  }

  /** Pairwise Pearson correlation MATRIX over a table's numeric measures
    * in ONE scan. All d·(d-1)/2 `corr` aggregates are computed
    * simultaneously in a single aggregate (partial/map-side combine as
    * usual), then the 1-row result unpivots to one row per pair with an
    * inline explode — no driver loop, no per-pair re-scan. The naive
    * form (one `df.stat.corr` job per pair) reads the fact table
    * d·(d-1)/2 times; at 100 TB that's the difference between one pass
    * over the corpus and fifteen. */
  def corrMatrix(df: DataFrame, cols: Seq[String]): DataFrame = {
    val pairs = for { i <- cols.indices; j <- i + 1 until cols.size }
      yield (cols(i), cols(j))
    val aggs = pairs.map { case (a, b) =>
      round(corr(col(a), col(b)), 6).as(s"${a}__${b}") }
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = array(pairs.map { case (a, b) =>
      struct(lit(a).as("col_a"), lit(b).as("col_b"),
        col(s"${a}__${b}").as("r")) }: _*)
    one.select(explode(rows).as("p"))
      .select(col("p.col_a"), col("p.col_b"), col("p.r"))
      .orderBy("col_a", "col_b")
  }

  private[ops] val corrCols =
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** Shannon entropy (bits) of each categorical column's value
    * distribution — the profiling signal drift monitors and
    * mix-balancing reports read (a collapsing `lang` column shows up as
    * falling entropy long before a hard failure). One groupBy per
    * column over (column, count) — the shuffle carries distinct values,
    * never rows — then the −Σ p·log₂p fold over that tiny aggregate
    * with the corpus total as a broadcast scalar. */
  def columnEntropy(df: DataFrame, cols: Seq[String]): DataFrame = {
    val tot = df.agg(count(lit(1)).cast("double").as("n_tot"))
    cols.map { c =>
      df.groupBy(col(c)).agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(tot))
        .agg(count(lit(1)).as("n_distinct"),
          round(-sum((col("cnt") / col("n_tot")) *
            log2(col("cnt") / col("n_tot"))), 6).as("entropy"))
        .select(lit(c).as("col_name"), col("n_distinct"), col("entropy"))
    }.reduce(_ unionByName _).orderBy("col_name")
  }

  /** Exact top-k most frequent values per categorical column — the
    * heavy-hitters panel of every data-quality dashboard. One groupBy
    * per column (shuffle carries distinct values only); the rank window
    * partitions by col_name over the already-tiny aggregate. row_number
    * with the (count desc, value asc) tie-break keeps it deterministic. */
  def heavyHitters(df: DataFrame, cols: Seq[String], k: Int = 3): DataFrame = {
    val counted = cols.map { c =>
      df.groupBy(col(c)).agg(count(lit(1)).as("n"))
        .select(lit(c).as("col_name"), col(c).cast("string").as("value"),
          col("n"))
    }.reduce(_ unionByName _)
    counted
      .withColumn("rnk", row_number().over(Window.partitionBy(col("col_name"))
        .orderBy(desc("n"), asc("value"))).cast("long"))
      .filter(col("rnk") <= k)
      .orderBy("col_name", "rnk")
  }

  // one dynamic-partition-overwrite copy per (session, sfDir)
  private val overwriteMemo =
    new scala.collection.concurrent.TrieMap[(SparkSession, String), String]

  /** Dynamic partition overwrite — the lakehouse backfill primitive
    * (INSERT OVERWRITE ... PARTITION): rewrite ONLY the partitions
    * present in the incoming frame, leave every other partition's files
    * untouched. Here the 'en' partition is re-derived with a corrected
    * source tag while all other languages keep their original bytes
    * (ProfileSpec asserts the untouched partitions' files are
    * physically identical). At 100 TB this is the difference between
    * rewriting one day and rewriting the table. */
  private[graft] def overwriteCopy(s: SparkSession, d: String): String =
    overwriteMemo.getOrElseUpdate((s, d), {
      val tmp = java.nio.file.Files.createTempDirectory("graft-ovw").toString
      SessionCleanup.onEnd(s) {
        overwriteMemo.remove((s, d))
        SessionCleanup.deleteRecursively(tmp)
      }
      val docs = Tables.documents(s, d)
      docs.write.mode("overwrite").partitionBy("lang").parquet(tmp)
      docs.filter(col("lang") === "en")
        .withColumn("source", concat(lit("backfill:"), col("source")))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("lang").parquet(tmp)
      tmp
    })

  /** Per-dimension distribution profile of the embedding column —
    * mean / sample-stddev / min / max for each of the 64 components,
    * the audit every embedding pipeline runs before indexing (a dead
    * dimension shows as sd≈0; an unnormalized batch shows as a range
    * shift). Same single-scan shape as [[corrMatrix]]: all 256
    * aggregates evaluate in ONE pass over the table (map-side partials
    * collapse each partition to one row), and the per-dim layout is an
    * inline literal-struct explode of that single row — never a
    * posexplode of n×64 element rows through a shuffle. Rounding: mean
    * and the exact-selection min/max at 6 dp, stddev at 4 dp (the
    * [[Relational]] `agg_stats_events` discipline). */
  def embeddingDimProfile(emb: DataFrame, dims: Int = 64): DataFrame = {
    val e = emb.select(transform(col("embedding"),
      x => x.cast("double")).as("ed"))
    val aggs = (0 until dims).flatMap { i =>
      val v = col("ed").getItem(i)
      Seq(round(avg(v), 6).as(s"m$i"), round(stddev_samp(v), 4).as(s"s$i"),
        round(min(v), 6).as(s"lo$i"), round(max(v), 6).as(s"hi$i"))
    }
    val one = e.agg(aggs.head, aggs.tail: _*)
    val rows = array((0 until dims).map(i =>
      struct(lit(i.toLong).as("dim"), col(s"m$i").as("mean"),
        col(s"s$i").as("sd"), col(s"lo$i").as("lo"),
        col(s"hi$i").as("hi"))): _*)
    one.select(explode(rows).as("p"))
      .select(col("p.dim"), col("p.mean"), col("p.sd"),
        col("p.lo"), col("p.hi"))
      .orderBy("dim")
  }

  /** Token-WEIGHTED length quantiles — "the document length below which
    * a quarter / half / three quarters of the corpus TOKENS lie", the
    * budget-planning statistic a training pipeline reads (unweighted
    * length quantiles mislead when long docs carry most tokens).
    * Scale shape: the value key (n_chars) is DOMAIN-BOUNDED, so the
    * corpus aggregates to one row per distinct length first (map-side
    * partials; the shuffle carries lengths, not docs) and the
    * cumulative window runs over that model-sized frame — the
    * "aggregate, then window the aggregate" pattern, never a global
    * sort of the corpus (contrast Sampling.budgetPack, which needs
    * per-DOC prefixes and pays the two-level machinery for it). All
    * integers end to end: the quantile test is cum·4 ≥ q·total
    * cross-multiplied, so the gate is exact with no rounding. */
  def weightedLengthQuantiles(docs: DataFrame): DataFrame = {
    val byLen = docs
      .select(col("n_chars"),
        size(Text.words(col("text"))).cast("long").as("w"))
      .groupBy(col("n_chars")).agg(sum(col("w")).as("w"))
    val tot = broadcast(byLen.agg(sum(col("w")).as("total")))
    val cum = byLen
      .withColumn("cum", sum(col("w")).over(
        Window.orderBy("n_chars").rowsBetween(Window.unboundedPreceding, 0)))
      .crossJoin(tot)
    Seq((1, "p25"), (2, "p50"), (3, "p75")).map { case (q, label) =>
      cum.filter(col("cum") * 4 >= col("total") * q)
        .agg(min(col("n_chars")).as("len"))
        .select(lit(label).as("quantile"), col("len").cast("long"))
    }.reduce(_ unionByName _).orderBy("quantile")
  }

  /** VOCABULARY-GROWTH curve (Heaps' law checkpoints) — the corpus
    * statistic that sizes tokenizers and vocab tables: distinct-word
    * count at 1/8, 1/4, 1/2 and all of the corpus (doc_id-prefix
    * checkpoints; ids are dense so the threshold IS the doc count).
    * The scale trick: growth needs NO multi-pass prefix scans — each
    * word's FIRST document (one keyed min) places it on the curve, and
    * every checkpoint is a conditional count over that vocab-sized
    * frame; tokens per checkpoint are conditional sums over the token
    * stream. One corpus pass + one vocab pass total, plus the
    * metadata-only count-star that sizes the thresholds (parquet
    * row-group counts — a third JOB, not a third data scan; ADVICE r9
    * nit records it). The type-token
    * ratio rounds 6 dp HALF_UP on both engines; the Heaps exponent is
    * spec-derived (ProfileSpec), not gated — it is a fit, not a fact.
    */
  def vocabGrowth(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val n = docs.count()
    // degenerate corpora: n < 8 collapses checkpoints to duplicates
    // (keep the distinct ones); an empty corpus yields an empty curve
    // instead of a null-sum NPE below.
    val thrs = Seq(1L, 2L, 4L, 8L).map(k => n * k / 8)
      .distinct.filter(_ > 0)
    if (thrs.isEmpty)
      return Seq.empty[(Long, Long, Long, Double)]
        .toDF("n_docs", "n_tokens", "n_vocab", "ttr")
    val toks = docs.select(col("doc_id"),
        explode(Text.words(col("text"))).as("word"))
      .filter(length(col("word")) > 0)
    val firstDoc = toks.groupBy(col("word"))
      .agg(min(col("doc_id")).as("first_doc"))
    // conditional aggregates: ONE pass over each frame for all four
    // checkpoints (the 8 scalars are model-sized driver values)
    // coalesce: an all-empty-text corpus aggregates zero rows (null
    // sums) — the curve is all-zeros, not an NPE
    val tokExprs = thrs.map(t =>
      coalesce(sum(when(col("doc_id") < t, 1L).otherwise(0L)), lit(0L))
        .as(s"c$t"))
    val tokCounts = toks.agg(tokExprs.head, tokExprs.tail: _*)
      .collect().head
    val vocExprs = thrs.map(t =>
      coalesce(sum(when(col("first_doc") < t, 1L).otherwise(0L)), lit(0L))
        .as(s"v$t"))
    val vocCounts = firstDoc.agg(vocExprs.head, vocExprs.tail: _*)
      .collect().head
    val rows = thrs.zipWithIndex.map { case (t, i) =>
      val nt = tokCounts.getLong(i)
      val nv = vocCounts.getLong(i)
      val ttr = if (nt > 0)
        BigDecimal(nv.toDouble / nt)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      else 0.0
      (t, nt, nv, ttr)
    }
    rows.toDF("n_docs", "n_tokens", "n_vocab", "ttr").orderBy("n_docs")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "profile_columns" -> ((s, d) => profileColumns(Tables.documents(s, d))),
    // Heaps-law vocabulary-growth checkpoints (first-doc trick: one
    // corpus pass + one vocab pass for all four prefixes).
    "profile_vocab_growth" -> ((s, d) =>
      vocabGrowth(Tables.documents(s, d))),
    // token-weighted length quantiles, integer-exact.
    "profile_weighted_quantiles" -> ((s, d) =>
      weightedLengthQuantiles(Tables.documents(s, d))),
    // per-dimension embedding audit: 256 aggregates, one scan.
    "profile_embedding_dims" -> ((s, d) =>
      embeddingDimProfile(Tables.embeddings(s, d))),
    // off-manifold vector detection: CENTROID-DISTANCE z-score (norms
    // are degenerate here — this corpus ships unit-normalized vectors,
    // sd(norm) ≈ 4e-8 — so the meaningful outlier signal is distance
    // to the corpus centroid). One scan for the 64 dim-means (map-side
    // partials, same rounding as profile_embedding_dims), a 1-row
    // broadcast centroid; dist² expands to dot(x,x) − 2·dot(x,c) +
    // dot(c,c) with the native dot whose fold order equals
    // list_inner_product, so distances are bit-identical across
    // engines; corpus mean/sd round 6 dp BEFORE the z, |z| ≥ 2 flags
    // on the 4-dp-rounded score.
    "profile_embedding_outliers" -> ((s, d) => {
      val e = Tables.embeddings(s, d)
        .select(col("vec_id"), transform(col("embedding"),
          x => x.cast("double")).as("ed"))
      val centAgg = (0 until 64).map(i =>
        round(avg(col("ed").getItem(i)), 6).as(s"c$i"))
      val cent = broadcast(e.agg(centAgg.head, centAgg.tail: _*)
        .select(array((0 until 64).map(i => col(s"c$i")): _*).as("c")))
      val dot = graft.ops.Similarity.dot _
      val withD = e.crossJoin(cent)
        .withColumn("dist", sqrt(dot(col("ed"), col("ed"))
          - lit(2.0) * dot(col("ed"), col("c"))
          + dot(col("c"), col("c"))))
      val stats = broadcast(withD.agg(
        round(avg(col("dist")), 6).as("mu"),
        round(stddev_samp(col("dist")), 6).as("sd")))
      withD.crossJoin(stats)
        .select(col("vec_id"), round(col("dist"), 6).as("dist"),
          when(col("sd") > 0,
            round((col("dist") - col("mu")) / col("sd"), 4)).as("z"))
        .withColumn("outlier", col("z").isNotNull && abs(col("z")) >= 2.0)
        .orderBy("vec_id")
    }),
    // exact top-3 values per categorical column.
    "profile_heavy_hitters" -> ((s, d) =>
      heavyHitters(Tables.documents(s, d), Seq("lang", "source"))),
    // dynamic partition overwrite: only the 'en' partition is rewritten
    // (backfilled source tag); read-back must show exactly that.
    "sink_partition_overwrite" -> ((s, d) => {
      val dir = overwriteCopy(s, d)
      s.read.parquet(dir)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    }),
    // full pairwise correlation matrix of lineitem's measures, one scan.
    "profile_corr_matrix" -> ((s, d) =>
      corrMatrix(Tables.lineitem(s, d), corrCols)),
    // Shannon entropy of the categorical distributions.
    "profile_entropy" -> ((s, d) =>
      columnEntropy(Tables.documents(s, d), Seq("lang", "source"))),
    // per-source KS drift vs the corpus length distribution.
    "profile_drift_ks" -> ((s, d) => sourceDriftKs(Tables.documents(s, d))),
    // per-source PSI drift over the 10 histogram buckets.
    "profile_drift_psi" -> ((s, d) => sourceDriftPsi(Tables.documents(s, d))),
    // 10-bucket equi-width length histogram, integer-exact bucketing.
    "profile_histogram" -> ((s, d) => histogram(Tables.documents(s, d))),
    // JSONL shard round-trip — the interchange format training loaders
    // consume. Write N range-sharded JSONL files, read back with the
    // EXPLICIT schema (inference would be a second full pass at 100 TB
    // and type-unstable), must equal the source table exactly.
    "sink_jsonl_shards" -> ((s, d) => {
      val dir = jsonlCopy(s, d, shards = 4)
      s.read.schema(Tables.documents(s, d).schema).json(dir)
        .select(col("doc_id"), col("text"), col("lang"), col("source"),
          col("n_chars"))
        .orderBy("doc_id")
    }),
    // fragment into 64 small files, compact to size-targeted files,
    // read back — compaction must be row-invisible.
    "sink_compact_sized" -> ((s, d) => {
      val (root, _) = compactCopy(s, d)
      s.read.parquet(s"$root/compact")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    }),
    // z-order clustered rewrite → read back with the z-key columns
    // recomputed by the oracle from the raw table; must match exactly
    // (ProfileSpec measures the two-dimensional file skipping).
    "sink_zorder_layout" -> ((s, d) => {
      val dir = zorderCopy(s, d)
      s.read.parquet(dir)
        .select(col("event_id"), col("user_id"), col("zuser"), col("zday"),
          col("zkey"))
        .orderBy("event_id")
    }),
    // range-clustered rewrite → read back; must be row-invisible
    // (ProfileSpec asserts the disjoint per-file ranges that make the
    // footer statistics prune files under an n_chars predicate).
    "sink_sorted_layout" -> ((s, d) => {
      val dir = sortedCopy(s, d)
      s.read.parquet(dir)
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    }),
    // DYNAMIC partition pruning: the partitioned fact joined to a dim
    // whose filter column (tier) is only knowable by reading the dim —
    // Spark runs the dim side first and prunes fact DIRECTORIES at
    // runtime with the discovered lang set (ProfileSpec asserts the
    // dynamicpruning expression lands in the fact scan). The static
    // cousin is sink_partitioned_prune; at 100 TB DPP is what makes
    // star-schema joins read the selected partitions only when the
    // selection lives in the dimension, not the query text.
    "join_dpp_prune" -> ((s, d) => {
      val fact = s.read.parquet(partitionedCopy(s, d))
      val dim = s.read.parquet(dppDims(s, d)).filter(col("tier") === "major")
      fact.join(dim, Seq("lang"))
        .groupBy(col("lang"), col("tier"))
        .agg(count(lit(1)).as("n"), sum(col("n_chars")).as("chars"))
        .orderBy("lang")
    }),
    // write partitioned by lang → read back with a partition predicate;
    // must equal a plain filter on the source table (and ProfileSpec
    // asserts the scan carries PartitionFilters, i.e. directory pruning).
    "sink_partitioned_prune" -> ((s, d) => {
      val dir = partitionedCopy(s, d)
      s.read.parquet(dir)
        .filter(col("lang") === "en")
        .select(col("doc_id"), col("lang"), col("source"), col("n_chars"))
        .orderBy("doc_id")
    })
  )

  def oracle: Map[String, String] = Map(
    // the first-doc trick spelled out: each word's min doc places it on
    // the growth curve; every checkpoint is a conditional count. The
    // threshold CTE dedups degenerate (n < 8) checkpoints exactly like
    // the Spark side — no corpus-size precondition (ADVICE r9 #5).
    "profile_vocab_growth" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS word
        |  FROM documents),
        |tok AS (SELECT doc_id, word FROM toks WHERE length(word) > 0),
        |fd AS (SELECT word, min(doc_id) AS first_doc FROM tok
        |       GROUP BY word),
        |nn AS (SELECT count(*) AS n FROM documents),
        |-- DISTINCT + >0 mirror the engine's degenerate-corpus dedup
        |-- (ADVICE r9 #5): for n < 8 both engines now agree on the
        |-- collapsed checkpoint set, removing the implicit n >= 8
        |-- precondition the gate used to lean on.
        |t AS (SELECT DISTINCT (nn.n * k) // 8 AS thr
        |      FROM (SELECT unnest([1, 2, 4, 8]) AS k) CROSS JOIN nn
        |      WHERE (nn.n * k) // 8 > 0),
        |m AS (
        |  SELECT thr AS n_docs,
        |    (SELECT CAST(count(*) AS BIGINT) FROM tok
        |     WHERE doc_id < thr) AS n_tokens,
        |    (SELECT CAST(count(*) AS BIGINT) FROM fd
        |     WHERE first_doc < thr) AS n_vocab
        |  FROM t)
        |SELECT CAST(n_docs AS BIGINT) AS n_docs, n_tokens, n_vocab,
        |  CASE WHEN n_tokens > 0
        |    THEN round(CAST(n_vocab AS DOUBLE) / n_tokens, 6)
        |    ELSE 0.0 END AS ttr
        |FROM m ORDER BY n_docs""".stripMargin,
    // same per-length token totals, cumulative window, cross-multiplied
    // integer quantile test.
    "profile_weighted_quantiles" ->
      """WITH byl AS (
        |  SELECT n_chars,
        |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS w
        |  FROM documents GROUP BY n_chars),
        |c AS (
        |  SELECT n_chars, sum(w) OVER (ORDER BY n_chars
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |         (SELECT sum(w) FROM byl) AS total
        |  FROM byl)
        |SELECT 'p25' AS quantile, CAST(min(n_chars) AS BIGINT) AS len
        |FROM c WHERE cum * 4 >= total * 1
        |UNION ALL
        |SELECT 'p50', CAST(min(n_chars) AS BIGINT)
        |FROM c WHERE cum * 4 >= total * 2
        |UNION ALL
        |SELECT 'p75', CAST(min(n_chars) AS BIGINT)
        |FROM c WHERE cum * 4 >= total * 3
        |ORDER BY quantile""".stripMargin,
    // per-dimension stats via unnest-with-position; identical rounding.
    "profile_embedding_dims" ->
      """WITH e AS (SELECT CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |x AS (
        |  SELECT CAST(i.i - 1 AS BIGINT) AS dim, emb[i.i] AS v
        |  FROM e CROSS JOIN (SELECT unnest(range(1, 65)) AS i) i)
        |SELECT dim, round(avg(v), 6) AS mean,
        |       round(stddev_samp(v), 4) AS sd,
        |       round(min(v), 6) AS lo, round(max(v), 6) AS hi
        |FROM x GROUP BY dim ORDER BY dim""".stripMargin,
    // identical distance arithmetic (list_inner_product = the native
    // dot's fold order; same left-associated expansion), the same
    // 6-dp dim-means, stats rounded before the z, flag on rounded z.
    "profile_embedding_outliers" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |x AS (
        |  SELECT CAST(i.i - 1 AS BIGINT) AS dim, emb[i.i] AS v
        |  FROM e CROSS JOIN (SELECT unnest(range(1, 65)) AS i) i),
        |cm AS (SELECT dim, round(avg(v), 6) AS m FROM x GROUP BY dim),
        |c AS (SELECT list(m ORDER BY dim) AS c FROM cm),
        |d AS (
        |  SELECT vec_id,
        |         sqrt(list_inner_product(emb, emb)
        |           - 2.0 * list_inner_product(emb, c.c)
        |           + list_inner_product(c.c, c.c)) AS dist
        |  FROM e CROSS JOIN c),
        |st AS (SELECT round(avg(dist), 6) AS mu,
        |              round(stddev_samp(dist), 6) AS sd FROM d)
        |SELECT vec_id, round(dist, 6) AS dist,
        |       CASE WHEN st.sd > 0
        |            THEN round((dist - st.mu) / st.sd, 4) END AS z,
        |       CASE WHEN st.sd > 0
        |            THEN abs(round((dist - st.mu) / st.sd, 4)) >= 2.0
        |            ELSE false END AS outlier
        |FROM d CROSS JOIN st ORDER BY vec_id""".stripMargin,
    // same per-column counts, row_number tie-break, top-3.
    "profile_heavy_hitters" -> Seq("lang", "source").map { c =>
      s"""SELECT '$c' AS col_name, CAST($c AS VARCHAR) AS value,
         |       count(*) AS n
         |FROM documents GROUP BY $c""".stripMargin
    }.mkString(
      "SELECT col_name, value, n, rnk FROM (\n  SELECT *, CAST(row_number()" +
        " OVER (PARTITION BY col_name ORDER BY n DESC, value) AS BIGINT)" +
        " AS rnk FROM (\n", "\nUNION ALL\n",
      "\n))\nWHERE rnk <= 3 ORDER BY col_name, rnk"),
    // the readback after a dynamic overwrite of ONLY the en partition.
    "sink_partition_overwrite" ->
      """SELECT doc_id, lang,
        |       CASE WHEN lang = 'en' THEN 'backfill:' || source
        |            ELSE source END AS source,
        |       n_chars
        |FROM documents ORDER BY doc_id""".stripMargin,
    // one UNION ALL branch per pair, same pair order and rounding.
    "profile_corr_matrix" -> {
      val pairs = for { i <- corrCols.indices; j <- i + 1 until corrCols.size }
        yield (corrCols(i), corrCols(j))
      pairs.map { case (a, b) =>
        s"SELECT '$a' AS col_a, '$b' AS col_b, " +
          s"round(corr($a, $b), 6) AS r FROM lineitem"
      }.mkString("SELECT * FROM (\n", "\nUNION ALL\n",
        "\n) ORDER BY col_a, col_b")
    },
    // same −Σ p·log2 p fold per column, UNION ALL over the two columns.
    "profile_entropy" -> Seq("lang", "source").map { c =>
      s"""SELECT '$c' AS col_name,
         |       CAST(count(*) AS BIGINT) AS n_distinct,
         |       round(-sum(p * log2(p)), 6) AS entropy
         |FROM (SELECT CAST(count(*) AS DOUBLE)
         |               / (SELECT count(*) FROM documents) AS p
         |      FROM documents GROUP BY $c)""".stripMargin
    }.mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY col_name"),
    "profile_drift_ks" ->
      """WITH pv AS (
        |  SELECT n_chars, count(*) AS c FROM documents GROUP BY 1),
        |fall AS (
        |  SELECT n_chars,
        |         CAST(sum(c) OVER (ORDER BY n_chars) AS DOUBLE) /
        |           (SELECT count(*) FROM documents) AS f_all
        |  FROM pv),
        |srcs AS (
        |  SELECT source, count(*) AS n_src FROM documents GROUP BY 1),
        |grid AS (
        |  SELECT s.source, s.n_src, v.n_chars FROM srcs s, pv v),
        |psv AS (
        |  SELECT source, n_chars, count(*) AS sc FROM documents
        |  GROUP BY 1, 2),
        |fsrc AS (
        |  SELECT g.source, g.n_chars, g.n_src,
        |         CAST(sum(coalesce(p.sc, 0)) OVER (
        |           PARTITION BY g.source ORDER BY g.n_chars) AS DOUBLE) /
        |           g.n_src AS f_src
        |  FROM grid g LEFT JOIN psv p
        |    ON p.source = g.source AND p.n_chars = g.n_chars)
        |SELECT f.source, CAST(max(f.n_src) AS BIGINT) AS n_docs,
        |       round(max(abs(f.f_src - a.f_all)), 6) AS ks
        |FROM fsrc f JOIN fall a ON f.n_chars = a.n_chars
        |GROUP BY f.source ORDER BY f.source""".stripMargin,
    // same integer bucket formula as profile_histogram; Laplace +1/+10
    // smoothing on both p and q; sum-then-round-6dp like the KS oracle.
    "profile_drift_psi" ->
      """WITH b AS (SELECT min(n_chars) AS mn, max(n_chars) AS mx FROM documents),
        |n AS (SELECT count(*) AS n_all FROM documents),
        |bb AS (
        |  SELECT source, least(((n_chars - mn) * 10) // (mx - mn + 1), 9)
        |    AS bucket
        |  FROM documents CROSS JOIN b),
        |ca AS (SELECT bucket, count(*) AS c_all FROM bb GROUP BY 1),
        |srcs AS (SELECT source, count(*) AS n_src FROM documents GROUP BY 1),
        |grid AS (SELECT s.source, s.n_src, a.bucket, a.c_all FROM srcs s, ca a),
        |cs AS (SELECT source, bucket, count(*) AS c_src FROM bb GROUP BY 1, 2),
        |t AS (
        |  SELECT g.source, g.n_src,
        |         (coalesce(cs.c_src, 0) + 1.0) / (g.n_src + 10) AS p,
        |         (g.c_all + 1.0) / ((SELECT n_all FROM n) + 10) AS q
        |  FROM grid g LEFT JOIN cs
        |    ON cs.source = g.source AND cs.bucket = g.bucket)
        |SELECT source, CAST(max(n_src) AS BIGINT) AS n_docs,
        |       round(sum((p - q) * ln(p / q)), 6) AS psi
        |FROM t GROUP BY source ORDER BY source""".stripMargin,
    "profile_columns" -> (
      docCols.map { c =>
        s"""SELECT '$c' AS col_name,
           |  CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  CAST(min($c) AS VARCHAR) AS min_val,
           |  CAST(max($c) AS VARCHAR) AS max_val
           |FROM documents""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")),
    // integer bucket arithmetic mirrors histogram() exactly (// is
    // DuckDB's integer division, div is Spark's).
    "profile_histogram" ->
      """WITH b AS (SELECT min(n_chars) AS mn, max(n_chars) AS mx FROM documents)
        |SELECT least(((n_chars - mn) * 10) // (mx - mn + 1), 9) AS bucket,
        |       CAST(count(*) AS BIGINT) AS n_docs,
        |       min(n_chars) AS lo_chars, max(n_chars) AS hi_chars
        |FROM documents CROSS JOIN b
        |GROUP BY 1 ORDER BY bucket""".stripMargin,
    "sink_partitioned_prune" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |WHERE lang = 'en' ORDER BY doc_id""".stripMargin,
    // the join semantics the runtime pruning must preserve exactly.
    "join_dpp_prune" ->
      """WITH dim AS (
        |  SELECT DISTINCT lang,
        |         CASE WHEN lang IN ('en', 'zh') THEN 'major'
        |              ELSE 'minor' END AS tier
        |  FROM documents)
        |SELECT d.lang, dim.tier, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(d.n_chars) AS BIGINT) AS chars
        |FROM documents d JOIN dim USING (lang)
        |WHERE dim.tier = 'major'
        |GROUP BY d.lang, dim.tier ORDER BY d.lang""".stripMargin,
    "sink_jsonl_shards" ->
      """SELECT doc_id, text, lang, source, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin,
    "sink_compact_sized" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin,
    // layout rewrites are row-invisible by contract.
    "sink_sorted_layout" ->
      """SELECT doc_id, lang, source, n_chars FROM documents
        |ORDER BY doc_id""".stripMargin,
    // the oracle recomputes the interleave from the raw table with the
    // same unrolled shift/mask loop the Spark expression compiles.
    "sink_zorder_layout" -> {
      val x = "user_id & 1023"
      val y = "(epoch_us(ts) // 86400000000) & 1023"
      s"""SELECT event_id, user_id,
         |       CAST($x AS BIGINT) AS zuser,
         |       CAST($y AS BIGINT) AS zday,
         |       CAST(${sqlMorton10(x, y)} AS BIGINT) AS zkey
         |FROM events ORDER BY event_id""".stripMargin
    }
  )
}
