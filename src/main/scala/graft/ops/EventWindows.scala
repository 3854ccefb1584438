package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.Tables

/** Stream-shaped window aggregations (SURVEY §2.12), expressed as batch
  * queries over `events` so they are DuckDB-oracle-checkable. The
  * streaming runner (`graft.streaming.Streams`) applies the same
  * transformations to a `readStream` DataFrame — logic is shared, only the
  * source/sink differ (this is the Structured Streaming unification).
  *
  * Grounding: the reference's `set_speed` poll loop (bulkupload.py:363-387)
  * is a 5-second tumbling rate; `.out` progress files are an
  * overwrite-in-place stream (bulkupload.py:334-338).
  */
object EventWindows {

  /** events per 5-second tumbling window (epoch-aligned, as Spark's
    * `window()` and DuckDB's `time_bucket` both are). */
  def tumbling(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "5 seconds"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("n"))

  /** 60-second window sliding every 5 seconds (smoothed rate).
    * Single-aggregation form — the one a watermarked STREAM can run
    * (chained aggregations are not allowed in append mode); its Expand
    * emits 12 rows per EVENT. */
  def sliding(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "60 seconds", "5 seconds"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("n"))

  /** Batch-optimized sliding rate, output-identical to [[sliding]]
    * (asserted in StreamsSpec): pre-aggregate per 5 s tumbling bucket
    * FIRST, then expand each bucket row into the 12 sliding windows
    * covering it and sum the partial counts. The 12× Expand runs over
    * ~n_buckets rows instead of n_events, and the first shuffle carries
    * bucket partials — at 100 TB that is the difference between
    * shuffling 12·n events and shuffling the (tiny) bucket histogram.
    * Exact because slide (5 s) divides width (60 s). */
  def slidingPreAgg(events: DataFrame): DataFrame =
    events.groupBy(window(col("ts"), "5 seconds").as("w5"))
      .agg(count(lit(1)).as("pc"))
      .select(unix_micros(col("w5.start")).as("bs"), col("pc"))
      .withColumn("i", explode(sequence(lit(0L), lit(11L))))
      .groupBy(timestamp_micros(col("bs") - col("i") * lit(5000000L)).as("w_start"))
      .agg(sum(col("pc")).cast("long").as("n"))

  /** Batch twin of the watermarked stream's late-drop (VERDICT r3 #5,
    * `stream_watermark_late`). The events table is stored perfectly
    * time-ordered by event_id (verified: zero inversions), so a replay in
    * id order would never produce a late event and the drop path would be
    * untested. The twin therefore models a deterministic DISORDERED
    * replay: events arrive in 30-minute batches (`ab` = 30-min bucket of
    * ts), shuffled within each batch by the arithmetic interleave
    * (event_id % 7, event_id) — bounded disorder, like a multi-source
    * backfill. The watermark seen by an event is the running max event
    * time over strictly-earlier arrivals minus `delay`; an event is
    * DROPPED iff its ts is more than `delay` behind that watermark
    * (at sf0.01 this drops 3,452 of 10,000 — the drop path does real
    * work). Survivors are counted into the same 5 s tumbling windows as
    * [[tumbling]]. Every piece is pure integer arithmetic, so DuckDB
    * replicates the arrival order — and hence the drops — exactly.
    *
    * Scale shape: the running max is NOT a global single-partition
    * window. The arrival bucket doubles as the scan block (exactly how
    * micro-batches arrive): (1) per-bucket max (map-side combined
    * aggregate, tiny frame), (2) running max over bucket maxima (window
    * over n_buckets rows), broadcast back, (3) within-bucket running max
    * partitioned by bucket — every WindowExec partition is one arrival
    * batch. [[watermarkLateGlobalWindow]] is the one-window composed
    * form, kept as the executable spec (equality in StreamsSpec). */
  def watermarkLateSurvivors(events: DataFrame, delaySec: Long = 600,
      arrivalBucketSec: Long = 1800, shuffleMod: Int = 7): DataFrame = {
    val e = events
      .withColumn("ab", expr(s"unix_micros(ts) div ${arrivalBucketSec * 1000000L}"))
      .withColumn("r", pmod(col("event_id"), lit(shuffleMod)))
    val bucketMax = e.groupBy("ab").agg(max(col("ts")).as("bmax"))
    val prevPrefix = bucketMax
      .withColumn("prev_max", max(col("bmax")).over(
        Window.orderBy("ab").rowsBetween(Window.unboundedPreceding, -1)))
      .select("ab", "prev_max")
    val inWin = Window.partitionBy("ab").orderBy("r", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wm = e.join(broadcast(prevPrefix), Seq("ab"))
      .withColumn("in_max", max(col("ts")).over(inWin))
      // greatest() skips nulls (first event of bucket/stream has none)
      .withColumn("wm_max", greatest(col("in_max"), col("prev_max")))
    wm.filter(col("wm_max").isNull ||
        unix_micros(col("ts")) >= unix_micros(col("wm_max")) - delaySec * 1000000L)
      .groupBy(window(col("ts"), "5 seconds"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("n"))
  }

  /** The single-global-window composed form of [[watermarkLateSurvivors]]
    * — semantically identical (StreamsSpec asserts equality), kept as the
    * spec; the registered query runs the bucket-blocked form. */
  private[graft] def watermarkLateGlobalWindow(events: DataFrame,
      delaySec: Long = 600, arrivalBucketSec: Long = 1800,
      shuffleMod: Int = 7): DataFrame = {
    val e = events
      .withColumn("ab", expr(s"unix_micros(ts) div ${arrivalBucketSec * 1000000L}"))
      .withColumn("r", pmod(col("event_id"), lit(shuffleMod)))
    val w = Window.orderBy("ab", "r", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    e.withColumn("wm_max", max(col("ts")).over(w))
      .filter(col("wm_max").isNull ||
        unix_micros(col("ts")) >= unix_micros(col("wm_max")) - delaySec * 1000000L)
      .groupBy(window(col("ts"), "5 seconds"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("n"))
  }

  /** Purchase→click attribution within a lookback window — the batch
    * twin of a stream-stream INTERVAL JOIN (two watermarked streams
    * joined on user_id with a time-bound condition; StreamsSpec runs
    * the live form on the same data and asserts equality). Shape at
    * 100 TB: an equi-join keyed on user_id — both sides shuffle (or
    * co-partition from the source) by key, never a cartesian; the time
    * bound lives IN the join condition, which is what lets the stream
    * engine bound its state to `lookback` worth of clicks per key
    * instead of the whole history. */
  def intervalJoin(events: DataFrame, lookbackHours: Int = 6): DataFrame = {
    val p = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"),
        col("ts").as("p_ts"))
    val c = events.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
    p.join(c, col("user_id") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $lookbackHours HOURS") &&
        col("c_ts") < col("p_ts"))
      .select(col("p_id"), col("user_id"), col("p_ts"), col("c_id"),
        col("c_ts"))
      .orderBy("p_id", "c_id")
  }

  /** LINEAR (equal-credit) attribution — completes the attribution
    * family next to [[firstTouchAttribution]]: every click inside a
    * purchase's lookback window shares the conversion credit equally
    * (1/n per click), rolled up to credit per click-day — the
    * marketing-mix view. Per-purchase click counts come from a window
    * PARTITIONED by purchase id (no global sort); the credit sum is a
    * keyed day aggregate with map-side partials. Rounding at 6 dp
    * absorbs the sum's reassociation noise (~1e-13 relative). */
  def linearAttribution(events: DataFrame,
      lookbackHours: Int = 6): DataFrame = {
    val pairs = intervalJoin(events, lookbackHours)
    val perPurchase = Window.partitionBy("p_id")
    pairs.withColumn("n_clicks", count(lit(1)).over(perPurchase))
      .withColumn("credit", lit(1.0) / col("n_clicks"))
      .groupBy(to_date(col("c_ts")).as("click_day"))
      .agg(count(lit(1)).as("n_credited_clicks"),
        round(sum(col("credit")), 6).as("credit"))
      .orderBy("click_day")
  }

  private val baseAggMemo = new SessionMemo[String, String]

  /** The MATERIALIZED daily-aggregate base table: per-(day, event_type)
    * count and RAW (unrounded) value sum over every day but the last,
    * written once per (session, dir) — the precomputed artifact
    * incremental aggregate maintenance reads instead of the fact table.
    * Sums are stored raw because parquet round-trips doubles exactly;
    * rounding happens only at the FINAL merge (round-then-add would
    * drift from a direct recompute). */
  private def dailyAggBase(s: SparkSession, d: String): String =
    baseAggMemo.inTempDir(s, d, "graft-inc") { tmp =>
      val ev = Tables.events(s, d)
      val maxDay = ev.agg(max(to_date(col("ts")))).head().getDate(0)
      ev.filter(to_date(col("ts")) < lit(maxDay))
        .groupBy(to_date(col("ts")).as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
        .write.mode("overwrite").parquet(tmp)
      tmp
    }

  /** INCREMENTAL AGGREGATE MAINTENANCE — the warehouse pattern that
    * keeps a 100 TB rollup fresh without re-touching history: count and
    * sum are ALGEBRAIC, so yesterday's per-day partials (the
    * [[dailyAggBase]] parquet artifact) merge with the new day's
    * partials by re-aggregation, and the result provably equals a full
    * recompute — which is exactly what the DuckDB oracle checks (it
    * aggregates the raw fact table directly; the Spark side reads the
    * fact table ONLY for the last day). The sketch twins
    * (agg_hll_sketch_merge / agg_count_min) do this for non-algebraic
    * measures; this key does it for the plain measures every rollup
    * carries. */
  def incrementalMergedTotals(s: SparkSession, d: String): DataFrame = {
    val base = s.read.parquet(dailyAggBase(s, d))
    val ev = Tables.events(s, d)
    val maxDay = ev.agg(max(to_date(col("ts")))).head().getDate(0)
    val inc = ev.filter(to_date(col("ts")) === lit(maxDay))
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sv"))
    base.unionByName(inc)
      .groupBy(col("event_type"))
      .agg(sum(col("n")).as("n_events"),
        round(sum(col("sv")), 2).as("total_value"))
      .orderBy("event_type")
  }

  /** Weekly churn — the retention complement of
    * [[retentionCohorts]]: a user active in week w CHURNS at w if they
    * have no event in week w+1. Weeks are exact integer indexes
    * (floor((days-since-anchor)/7) — floor, not truncation, so events
    * before the 2024-01-01 anchor land in the correct negative week,
    * matching DuckDB's `//` floor-division semantics),
    * activity is a distinct (user, week) frame (the shuffle carries
    * user-weeks, never events), and churn is one self anti-join of
    * that frame against its week-shifted image. The final week is
    * excluded (no w+1 to observe). */
  def weeklyChurn(events: DataFrame): DataFrame = {
    val active = events.select(col("user_id"),
        expr("CAST(floor(datediff(to_date(ts), DATE '2024-01-01') / 7.0) AS BIGINT)")
          .as("week"))
      .distinct()
    val nextShift = active.select(col("user_id"), (col("week") - 1).as("week"))
    val churned = active.join(nextShift, Seq("user_id", "week"), "left_anti")
    val maxWeek = broadcast(active.agg(max(col("week")).as("max_week")))
    active.groupBy(col("week")).agg(count(lit(1)).as("n_active"))
      .join(churned.groupBy(col("week")).agg(count(lit(1)).as("n_churned")),
        Seq("week"), "left")
      .crossJoin(maxWeek)
      .filter(col("week") < col("max_week"))
      .select(col("week"), col("n_active"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"),
        round(coalesce(col("n_churned"), lit(0L)).cast("double") /
          col("n_active"), 6).as("churn_rate"))
      .orderBy("week")
  }

  /** Deterministic A/B experiment readout — the experimentation
    * primitive every product-analytics surface needs: users are
    * assigned to variants by a SALTED HASH of their id (the industry
    * assignment mechanism — stable across sessions, reproducible in any
    * engine, no assignment table to join), conversion = at least one
    * purchase, and the readout is per-variant user counts and
    * conversion rates. First hex nibble < '8' ⇒ variant A (an exact
    * 50/50 split of the hash space, the same md5 family as the Sampling
    * operators). Plan: user-grain conditional max (map-side partials on
    * user_id — the event stream never reaches the variant agg), then a
    * two-row aggregate. */
  def abTest(events: DataFrame): DataFrame = {
    val users = events.groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("converted"))
    users
      .withColumn("variant",
        when(substring(md5(concat(lit("ab1:"),
          col("user_id").cast("string"))), 1, 1) < "8", "A").otherwise("B"))
      .groupBy(col("variant"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("converted")).as("n_converted"),
        round(sum(col("converted")).cast("double") / count(lit(1)), 6)
          .as("conv_rate"))
      .orderBy("variant")
  }

  /** LEFT-OUTER interval join — [[intervalJoin]] keeping UNATTRIBUTED
    * purchases as NULL-click rows (the rows a marketing report actually
    * needs: conversion WITHOUT a preceding click is the organic-traffic
    * line). Same equi-join shape and state story; in the streaming form
    * the unmatched row can only be emitted once the click-side
    * watermark passes the end of the purchase's lookback window — the
    * outer-join-finalization semantics Structured Streaming ties to the
    * watermark ([[graft.streaming.Streams.intervalJoinLeftStream]] is
    * the live twin, StreamsSpec asserts the equivalence). NULL ordering
    * is pinned explicitly (nulls first, matching the oracle's
    * NULLS FIRST) so the row order hashes identically. */
  def intervalJoinLeft(events: DataFrame, lookbackHours: Int = 6): DataFrame = {
    val p = events.filter(col("event_type") === "purchase")
      .select(col("event_id").as("p_id"), col("user_id"),
        col("ts").as("p_ts"))
    val c = events.filter(col("event_type") === "click")
      .select(col("event_id").as("c_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
    p.join(c, col("user_id") === col("c_user") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $lookbackHours HOURS") &&
        col("c_ts") < col("p_ts"), "left")
      .select(col("p_id"), col("user_id"), col("p_ts"), col("c_id"),
        col("c_ts"))
      .orderBy(col("p_id"), col("c_id").asc_nulls_first)
  }

  /** FIRST-TOUCH attribution: each purchase attributed to the user's
    * EARLIEST click inside the lookback window — the marketing twin of
    * [[intervalJoin]] (all pairs) and join_asof (latest-before). Reuses
    * the interval join verbatim, then collapses to one row per purchase
    * with a struct-min aggregate ((c_ts, c_id) lexicographic, so a
    * same-timestamp tie breaks on the lower click id — total order,
    * deterministic). The aggregate is keyed by purchase id, so the
    * per-key state is one struct, map-side combinable; no window over
    * the pair stream. */
  def firstTouchAttribution(events: DataFrame,
      lookbackHours: Int = 6): DataFrame =
    intervalJoin(events, lookbackHours)
      .groupBy(col("p_id"), col("user_id"), col("p_ts"))
      .agg(min(struct(col("c_ts"), col("c_id"))).as("ft"))
      .select(col("p_id"), col("user_id"), col("p_ts"),
        col("ft.c_id").as("first_click_id"),
        col("ft.c_ts").as("first_click_ts"))
      .orderBy("p_id")

  /** Exponential time-decay engagement score per user:
    * sum(value · 0.5^(age_h / halfLife)) with age measured back from the
    * corpus' max timestamp — the recency-weighted aggregate feature
    * stores compute (recent activity counts fully, day-old activity
    * half, etc.). The max-ts scalar broadcasts; the decay weight is a
    * map-side expression; the per-user sum is one shuffle with partial
    * aggregation. Expressed as pow(0.5, _) — not exp/log — so the
    * DuckDB oracle evaluates the identical primitive. */
  def decayWeightedValue(events: DataFrame,
      halfLifeHours: Double = 24.0): DataFrame = {
    val maxTs = events.agg(max(col("ts")).as("t_max"))
    events.crossJoin(broadcast(maxTs))
      .withColumn("age_h",
        (unix_micros(col("t_max")) - unix_micros(col("ts"))) / 3.6e9)
      .groupBy(col("user_id"))
      .agg(
        round(sum(col("value") * pow(lit(0.5), col("age_h") / halfLifeHours)), 4)
          .as("decayed_value"),
        count(lit(1)).as("n_events"))
      .orderBy("user_id")
  }

  /** Per-day view → click → purchase conversion funnel: one conditional
    * aggregation per (user, day) — the shuffle carries user-day rows,
    * never the event stream — then a tiny per-day rollup. Ordering uses
    * the per-day MIN timestamp per stage (strict <, so a stage must
    * happen strictly after the previous one to count). Factored out so
    * the streaming twin ([[graft.streaming.Streams.funnelDailyStream]])
    * and the registered batch query share one definition. */
  def funnelDaily(events: DataFrame): DataFrame = {
    val e = events.filter(col("event_type").isin("view", "click", "purchase"))
    val perUserDay = e
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(
        min(when(col("event_type") === "view", col("ts"))).as("t_v"),
        min(when(col("event_type") === "click", col("ts"))).as("t_c"),
        min(when(col("event_type") === "purchase", col("ts"))).as("t_p"))
    perUserDay.groupBy(col("day"))
      .agg(
        sum(when(col("t_v").isNotNull, 1L).otherwise(0L)).as("n_view"),
        sum(when(col("t_c") > col("t_v"), 1L).otherwise(0L))
          .as("n_click_after_view"),
        sum(when(col("t_c") > col("t_v") && col("t_p") > col("t_c"), 1L)
          .otherwise(0L)).as("n_purchase_funnel"))
      .orderBy("day")
  }

  /** Day-0 cohort retention matrix — the product-analytics staple over
    * the event stream: users grouped by their FIRST active day, then for
    * each (cohort, day-offset) the count of cohort members active that
    * day. Three shuffles, all user- or cohort-keyed with map-side
    * partials: first-day per user, distinct (user, day) activity, then
    * the (cohort, offset) rollup — the activity distinct makes the final
    * count a plain count(*) (each user contributes at most one row per
    * day). At 100 TB the user dimension is the natural bucketing key for
    * the first two. */
  def retentionCohorts(events: DataFrame): DataFrame = {
    val firstDay = events.groupBy(col("user_id"))
      .agg(min(to_date(col("ts"))).as("cohort"))
    val active = events
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    active.join(firstDay, Seq("user_id"))
      .groupBy(col("cohort"),
        datediff(col("day"), col("cohort")).cast("long").as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort", "day_offset")
  }

  /** Per-user event-type transition matrix — the first-order Markov
    * view of behavior (what follows what): lag each user's type stream
    * by one, count (prev → cur) pairs, and rate each row against its
    * source-state total. One window partitioned by user (user streams
    * are short — the window never sees more than one user's events) +
    * two grouped aggs; ordering (ts, event_id) is unique so the lag is
    * deterministic. */
  def typeTransitions(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), col("event_id"))
    val pairs = events
      .withColumn("prev_type", lag(col("event_type"), 1).over(w))
      .filter(col("prev_type").isNotNull)
      .groupBy(col("prev_type"), col("event_type").as("cur_type"))
      .agg(count(lit(1)).as("n"))
    val totals = pairs.groupBy(col("prev_type"))
      .agg(sum(col("n")).as("n_from"))
    pairs.join(totals, Seq("prev_type"))
      .select(col("prev_type"), col("cur_type"), col("n"),
        round(col("n") * 1.0 / col("n_from"), 6).as("p"))
      .orderBy("prev_type", "cur_type")
  }

  /** DAU / trailing-7-day WAU / stickiness per observed day — the
    * engagement rollup. Exact sliding DISTINCT via the support-explode
    * trick: each distinct (user, day) activity row supports the 7 daily
    * windows ending at day..day+6, so exploding a 7-element offset
    * array and re-distincting gives every window's exact user set with
    * a bounded 7× blowup of USER-DAY rows (never raw events) — the
    * standard shape for sliding count-distinct at scale. Output is
    * restricted to days that actually occur. */
  def activeUsers(events: DataFrame): DataFrame = {
    val ud = events
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val dau = ud.groupBy(col("day")).agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(col("user_id"), explode(sequence(lit(0), lit(6))).as("i"),
        col("day"))
      .select(col("user_id"), date_add(col("day"), col("i")).as("day"))
      .distinct()
      .groupBy(col("day")).agg(count(lit(1)).as("wau"))
    dau.join(wau, Seq("day"))
      .select(col("day"), col("dau"), col("wau"),
        round(col("dau").cast("double") / col("wau"), 6).as("stickiness"))
      .orderBy("day")
  }

  /** Windowed (1 h wide / 15 min slide) per-type counts in the
    * SINGLE-aggregation form a watermarked stream can run (chained
    * aggregations are not allowed in append mode). The live twin
    * ([[graft.streaming.Streams.trendingStream]]) runs exactly this. */
  def trendingCounts(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"))

  /** Batch-optimized form of [[trendingCounts]], output-identical
    * (StreamsSpec asserts equality): pre-aggregate per (15-min bucket,
    * type) FIRST, then expand each bucket row into the 4 sliding windows
    * covering it — the Expand and the second shuffle run over the bucket
    * histogram, never the event stream (same trick as slidingPreAgg;
    * exact because the slide divides the width). */
  private[graft] def trendingCountsPreAgg(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "15 minutes").as("wb"), col("event_type"))
      .agg(count(lit(1)).as("pc"))
      .select(unix_micros(col("wb.start")).as("bs"), col("event_type"),
        col("pc"))
      .withColumn("i", explode(sequence(lit(0L), lit(3L))))
      .groupBy(timestamp_micros(col("bs") - col("i") * lit(900000000L))
          .as("w_start"), col("event_type"))
      .agg(sum(col("pc")).cast("long").as("n"))

  /** TRENDING top-k: the k most frequent event types per sliding window
    * — the "what's hot right now" dashboard rollup over the monitor
    * stream. Counts come from the pre-aggregated path; the rank window
    * is PARTITIONED by window start over the (windows × types) frame,
    * so the event stream enters neither the Expand nor a window.
    * Tie-break (n desc, event_type asc) is total on both engines. */
  def trendingTopK(events: DataFrame, k: Int = 3): DataFrame = {
    val w = Window.partitionBy("w_start").orderBy(desc("n"),
      asc("event_type"))
    trendingCountsPreAgg(events)
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .orderBy("w_start", "rk")
  }

  /** Trailing-window rate ANOMALY detection: hourly event counts per
    * type, each bucket scored against the mean/stddev of its previous
    * `trailing` OBSERVED buckets (a rows-frame, not range — hours with
    * zero events produce no bucket, so the baseline slides over observed
    * buckets; a gap-aware baseline is one `sequence()` densify away).
    * The alerting operator the reference's poll-loop progress monitor
    * (bulkupload.py:370-390) grows into at fleet scale: "this hour's
    * error rate is 2σ above its trailing baseline".
    *
    * Scale shape: one (event_type, hour) count aggregation with map-side
    * partials reduces the stream to types×hours rows; the scoring window
    * is PARTITIONED by event_type over that model-sized frame — the
    * stream itself never enters a window.
    *
    * Float discipline: mean and stddev are ROUNDED to 6 dp first, z is
    * computed from the rounded inputs and rounded again, and the flag
    * compares the rounded z — both engines threshold the identical
    * number, so summation-order noise can't flip a flag. stddev 0
    * (six equal baseline counts) yields NULL z / false flag on both. */
  def anomalyZscore(events: DataFrame, trailing: Int = 6,
      zThreshold: Double = 2.0): DataFrame =
    anomalyFromHourly(
      events
        .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hour"))
        .agg(count(lit(1)).as("n")),
      trailing, zThreshold)

  /** The z-score stage of [[anomalyZscore]] over an ALREADY-hourly
    * (event_type, hour, n) frame — split out so the live twin
    * ([[graft.streaming.Streams.anomalyStream]]) can run the identical
    * arithmetic downstream of its sink: a rank/frame window cannot chain
    * onto a streaming aggregation in append mode (same constraint as
    * trendingStream's top-k), so the stream emits the hourly counts and
    * this stage scores them wherever they land. */
  def anomalyFromHourly(hourly: DataFrame, trailing: Int = 6,
      zThreshold: Double = 2.0): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("hour")
      .rowsBetween(-trailing, -1)
    hourly
      .withColumn("n_prev", count(col("n")).over(w))
      .withColumn("mean_n", round(avg(col("n")).over(w), 6))
      .withColumn("sd_n", round(stddev_samp(col("n")).over(w), 6))
      .filter(col("n_prev") === trailing)
      .withColumn("z", when(col("sd_n") > 0,
        round((col("n") - col("mean_n")) / col("sd_n"), 6)))
      .withColumn("is_anomaly", coalesce(abs(col("z")) > zThreshold,
        lit(false)))
      .select("event_type", "hour", "n", "mean_n", "sd_n", "z", "is_anomaly")
      .orderBy("event_type", "hour")
  }

  /** Per-user session windows with a 30-minute gap; end = last event +
    * gap, exactly Spark's session_window semantics. */
  def sessions(events: DataFrame): DataFrame =
    events.groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"), col("n"))

  /** Seasonal-naive forecast BACKTEST — the baseline every capacity/
    * anomaly forecast is judged against (M-competition convention):
    * forecast(hour) = actual(hour − 168 h), evaluated on the final
    * observed week, reported as per-type MAE next to the mean level.
    * A model that can't beat this number isn't a model. Shapes: one
    * keyed hourly aggregate (map-side combine over the event stream),
    * a self-equi-join on (type, hour−168) — sparse-safe: only hours
    * where both sides exist score — and a per-type rollup; the
    * broadcast max-hour scalar pins the backtest window. Hour indexes
    * are floored epoch//3600 on both engines. */
  def seasonalNaiveBacktest(events: DataFrame): DataFrame = {
    val hourly = events.groupBy(col("event_type"),
        floor(unix_timestamp(col("ts")) / 3600).cast("long").as("h"))
      .agg(count(lit(1)).as("n"))
    val maxH = broadcast(hourly.agg(max(col("h")).as("max_h")))
    val prev = hourly.select(col("event_type"),
      (col("h") + 168).as("h"), col("n").as("n_prev"))
    hourly.join(prev, Seq("event_type", "h"))
      .crossJoin(maxH)
      .filter(col("h") > col("max_h") - 168)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_hours"),
        round(avg(abs(col("n") - col("n_prev"))), 6).as("mae"),
        round(avg(col("n")), 6).as("mean_actual"))
      .orderBy("event_type")
  }

  /** Stream-static ENRICHMENT join — the most common structured-
    * streaming pattern after windowed aggregation: the event stream
    * joins a slowly-changing dimension (here customer market segment,
    * keyed c_custkey = user_id + 1) and rolls up per (hour, segment).
    * Stateless on the stream side (each micro-batch hash-joins the
    * broadcast dim — no stream state at all), which is why it scales
    * to any rate; the batch form here is the oracle-gated twin and
    * [[graft.streaming.Streams.enrichStaticStream]] is the live form
    * (StreamsSpec asserts live ≡ batch on finalized hours). */
  def enrichStatic(events: DataFrame, customer: DataFrame): DataFrame =
    events.join(broadcast(customer.select(
        (col("c_custkey") - 1).as("user_id"), col("c_mktsegment"))),
      Seq("user_id"))
      .groupBy(date_trunc("hour", col("ts")).as("hour"),
        col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy("hour", "c_mktsegment")

  /** Event-type co-occurrence with LIFT over sessions — the
    * market-basket association rollup (\"users who view in a session
    * also purchase in it\"): unit of analysis is the per-user
    * 30-min-gap session (the same islands the sessionize oracle
    * derives), support counts are
    * sessions-containing-both, and lift = P(t1,t2)/(P(t1)·P(t2)) says
    * whether the pair co-occurs beyond chance. Shapes: one distinct
    * (session, type) frame (the shuffle carries session-types, never
    * events), a self-join keyed by SESSION (bounded fan-out — ≤
    * |types|² per session), and type-count broadcasts; output is
    * pair-count-sized. */
  def cooccurrenceLift(events: DataFrame): DataFrame = {
    // per-USER session islands derived explicitly: session_window
    // inside a groupBy would sessionize per (user, TYPE) — every
    // grouping key becomes part of the session identity — which is the
    // wrong unit here. Exact microsecond arithmetic (unix_micros =
    // epoch_us) keeps the 30-min break identical to the oracle's
    // full-precision interval compare.
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"))
    val us = unix_micros(col("ts"))
    val brk = when(lag(us, 1).over(w).isNull ||
      us - lag(us, 1).over(w) >= 1800L * 1000000L, 1).otherwise(0)
    // four consumers (session count, per-type counts, both self-join
    // sides) re-ran the lag + running-sum + distinct chain without a
    // cut — checkpoint the session-type frame once (r16 optimization
    // round; A/B-measured, see OPTIMIZATION_r16.md)
    val st = events
      .withColumn("brk", brk)
      .withColumn("sid", sum(col("brk")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("user_id", "sid", "event_type").distinct()
      .localCheckpoint()
    val nSessions = broadcast(st.select("user_id", "sid").distinct()
      .agg(count(lit(1)).as("n_total")))
    val perType = st.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_type"))
    val a = st.select(col("user_id"), col("sid"),
      col("event_type").as("t1"))
    val b = st.select(col("user_id"), col("sid"),
      col("event_type").as("t2"))
    a.join(b, Seq("user_id", "sid")).filter(col("t1") < col("t2"))
      .groupBy(col("t1"), col("t2")).agg(count(lit(1)).as("n_both"))
      .join(broadcast(perType.select(col("event_type").as("t1"),
        col("n_type").as("n1"))), Seq("t1"))
      .join(broadcast(perType.select(col("event_type").as("t2"),
        col("n_type").as("n2"))), Seq("t2"))
      .crossJoin(broadcast(nSessions))
      .select(col("t1"), col("t2"), col("n_both"), col("n1"), col("n2"),
        round(col("n_both").cast("double") * col("n_total") /
          (col("n1") * col("n2")), 6).as("lift"))
      .orderBy("t1", "t2")
  }

  /** Bot-likeness by inter-event REGULARITY — the classic cheap bot
    * signal a training-data pipeline filters on before events (or the
    * docs they vouch for) enter a corpus: humans burst and pause, so
    * their gap coefficient of variation (sd/mean) is high; schedulers
    * and scrapers tick, so theirs is near zero. One user-partitioned
    * lag for gaps (the shuffle carries events keyed by user — no global
    * window), one keyed aggregate for the moments. Gap seconds are
    * floored identically on both engines (events carry microseconds);
    * mean/sd round at 6 dp BEFORE the ratio, so cv and the flag are
    * engine-identical; users with fewer than two gaps carry no sd and
    * are excluded. */
  def botScores(events: DataFrame, cvThreshold: Double = 0.3): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    events
      .withColumn("prev", lag(col("ts"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("user_id"),
        (unix_timestamp(col("ts")) - unix_timestamp(col("prev"))).as("gap"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_gaps"),
        round(avg(col("gap")), 6).as("mean_gap"),
        round(stddev_samp(col("gap")), 6).as("sd_gap"))
      .filter(col("n_gaps") >= 2)
      .withColumn("cv", when(col("mean_gap") > 0,
        round(col("sd_gap") / col("mean_gap"), 6)))
      .withColumn("bot_like",
        col("cv").isNotNull && col("cv") < cvThreshold)
      .orderBy("user_id")
  }

  /** Per-user sessionization report — the batch gaps-and-islands
    * rollup every product-analytics pipeline ships next to the
    * streaming session window: sessions are 30-minute-gap islands
    * (the SAME grouping [[sessions]] uses, so the batch and stream
    * definitions cannot drift), and the report is session count,
    * event count, events/session, summed ACTIVE span (last−first
    * event per session, no gap padding) and the largest session.
    *
    * Scale shape: `session_window` is one keyed aggregate — Spark
    * sorts WITHIN each user's partition-local group, never globally;
    * the per-user rollup is a second keyed aggregate over
    * session-sized rows. The DuckDB oracle derives the same islands
    * with lag()+cumulative-sum — the executable gaps-and-islands
    * spec. Seconds are floored on both engines (events carry
    * microsecond precision; Spark unix_timestamp floors, the oracle
    * floors epoch() explicitly). */
  def sessionizeStats(events: DataFrame): DataFrame = {
    val se = events
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"), min(col("ts")).as("t0"),
        max(col("ts")).as("t1"))
    se.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(col("n")).as("n_events"),
        round(sum(col("n")).cast("double") / count(lit(1)), 4)
          .as("events_per_session"),
        sum(unix_timestamp(col("t1")) - unix_timestamp(col("t0")))
          .as("active_secs"),
        max(col("n")).as("max_session_events"))
      .orderBy("user_id")
  }

  /** Concurrent-session load per hour — the INTERVAL-OVERLAP
    * aggregation ("how many intervals cover each point/bucket"), done
    * the way it scales: each session row SCATTERS to the hours it
    * covers (closed-interval convention on the hour of s_start..s_end)
    * and a plain hash aggregate counts per hour. The naive form is a
    * theta join (hours × sessions with an overlap predicate) — a
    * nested-loop whose cost is |hours|·|sessions| at 100 TB; the
    * scatter is linear in Σ hours-per-session, which the 30-minute gap
    * bounds for any real corpus. The DuckDB oracle RUNS the naive
    * theta form — the executable spec this plan must equal.
    *
    * n_users < n_sessions when one user's adjacent sessions touch the
    * same hour; both counts are per-hour hash aggregates (the distinct
    * shuffles (h, user) partials, never the session list). */
  def sessionConcurrency(events: DataFrame): DataFrame = {
    val se = sessions(events)
    val h1 = floor(unix_timestamp(col("s_start")) / 3600).cast("long")
    val h2 = floor(unix_timestamp(col("s_end")) / 3600).cast("long")
    se.select(col("user_id"), explode(sequence(h1, h2)).as("h"))
      .groupBy(col("h"))
      .agg(count(lit(1)).as("n_sessions"),
        countDistinct(col("user_id")).as("n_users"))
      .select(timestamp_seconds(col("h") * 3600).as("hour"),
        col("n_sessions"), col("n_users"))
      .orderBy("hour")
  }

  /** RFM segmentation — the classic user-value rollup (recency /
    * frequency / monetary, each scored 1-4 by corpus quartile). The
    * scale-honest form: per-user metrics are ONE grouped aggregate; the
    * quartile thresholds are a 1-row broadcast (never a global ntile
    * window, which would sort all users on one partition — the
    * distributed shape [[Relational]] win_ntile documents as
    * group-sized). Monetary sums in exact integer cents so the
    * threshold comparisons are ulp-proof across engines; thresholds
    * compare UNROUNDED (same strictly-between-order-statistics argument
    * as events_value_winsorize). Output is the 4×4×4 segment rollup —
    * segment-sized, not user-sized. */
  def rfmSegments(events: DataFrame): DataFrame = {
    val maxTs = events.agg(max(col("ts")).as("corpus_max"))
    val per = events
      .groupBy(col("user_id"))
      .agg(max(col("ts")).as("last_ts"), count(lit(1)).as("freq"),
        sum(round(col("value") * 100, 0).cast("long")).as("cents"))
      .crossJoin(broadcast(maxTs))
      .select(col("user_id"),
        floor((unix_timestamp(col("corpus_max")) -
          unix_timestamp(col("last_ts"))) / 86400L).cast("long")
          .as("rec_days"),
        col("freq"), col("cents"))
    val q = per.agg(
      percentile(col("rec_days"), lit(0.25)).as("r1"),
      percentile(col("rec_days"), lit(0.5)).as("r2"),
      percentile(col("rec_days"), lit(0.75)).as("r3"),
      percentile(col("freq"), lit(0.25)).as("f1"),
      percentile(col("freq"), lit(0.5)).as("f2"),
      percentile(col("freq"), lit(0.75)).as("f3"),
      percentile(col("cents"), lit(0.25)).as("m1"),
      percentile(col("cents"), lit(0.5)).as("m2"),
      percentile(col("cents"), lit(0.75)).as("m3"))
    def score(v: Column, q1: Column, q2: Column, q3: Column): Column =
      (lit(1) + (v > q1).cast("int") + (v > q2).cast("int") +
        (v > q3).cast("int")).cast("long")
    per.crossJoin(broadcast(q))
      .select(col("user_id"), col("cents"),
        score(col("rec_days"), col("r1"), col("r2"), col("r3")).as("r_q"),
        score(col("freq"), col("f1"), col("f2"), col("f3")).as("f_q"),
        score(col("cents"), col("m1"), col("m2"), col("m3")).as("m_q"))
      .groupBy(col("r_q"), col("f_q"), col("m_q"))
      .agg(count(lit(1)).as("n_users"),
        round(avg(col("cents")) / 100.0, 4).as("avg_monetary"))
      .orderBy("r_q", "f_q", "m_q")
  }

  /** Seasonality profile: activity by (day-of-week, hour-of-day) — the
    * load-shape matrix capacity planning and anomaly baselines read.
    * One hash aggregate; dow is 0=Sunday…6=Saturday (both engines'
    * native numbering after Spark's 1-based shift). The mean folds over
    * exact integer cents (one division at the end) — with 168 cells a
    * float sum's addition-order ulp WILL land on a round() boundary
    * somewhere, and did at sf0.001/sf0.1. */
  def seasonality(events: DataFrame): DataFrame =
    events
      .groupBy((dayofweek(col("ts")) - 1).cast("long").as("dow"),
        hour(col("ts")).cast("long").as("hod"))
      .agg(count(lit(1)).as("n"),
        countDistinct(col("user_id")).as("n_users"),
        sum(round(col("value") * 100, 0).cast("long")).as("cents"))
      .select(col("dow"), col("hod"), col("n"), col("n_users"),
        round(col("cents") / 100.0 / col("n"), 4).as("avg_value"))
      .orderBy("dow", "hod")

  /** Top-k 3-step user paths (path mining): each user's event sequence
    * ordered by (ts, event_id), trigrams formed with lead() over the
    * user-partitioned window — never a per-user collect_list, so state
    * is O(1) per row and the partition is user-sized at 100 TB. Nulls
    * from the two tail rows propagate through concat and are dropped.
    * count + top-k via TakeOrderedAndProject. */
  def userPathTrigrams(events: DataFrame, k: Int = 20): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    events
      .select(concat(col("event_type"), lit(">"),
        lead("event_type", 1).over(w), lit(">"),
        lead("event_type", 2).over(w)).as("path"))
      .filter(col("path").isNotNull)
      .groupBy(col("path")).agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), asc("path"))
      .limit(k)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // quartile-scored RFM segment rollup (broadcast thresholds).
    "events_rfm" -> ((s, d) => rfmSegments(Tables.events(s, d))),
    // top-20 3-step event-type paths.
    "events_user_paths" -> ((s, d) => userPathTrigrams(Tables.events(s, d))),
    // (dow × hour) activity matrix.
    "events_seasonality" -> ((s, d) => seasonality(Tables.events(s, d))),
    "stream_rate_tumbling" -> ((s, d) =>
      tumbling(Tables.events(s, d)).orderBy("w_start")),
    // set_speed's Δcount/Δt per 5 s window (bulkupload.py:381-384) —
    // the per-window rate, vs math_rate's whole-stream rate.
    "agg_rate" -> ((s, d) =>
      tumbling(Tables.events(s, d))
        .select(col("w_start"), col("n"),
          round(col("n") / 5.0, 6).as("per_sec"))
        .orderBy("w_start")),
    "stream_sliding" -> ((s, d) =>
      slidingPreAgg(Tables.events(s, d)).orderBy("w_start")),
    "stream_session" -> ((s, d) =>
      sessions(Tables.events(s, d)).orderBy("user_id", "s_start")),
    // batch twin of the watermark late-drop (arrival order = event_id;
    // running-max watermark - 10 min; survivors per 5 s window).
    "stream_watermark_late" -> ((s, d) =>
      watermarkLateSurvivors(Tables.events(s, d)).orderBy("w_start")),
    "stream_interval_join" -> ((s, d) =>
      intervalJoin(Tables.events(s, d))),
    // left-outer form: unattributed purchases survive as NULL-click rows.
    "stream_interval_join_left" -> ((s, d) =>
      intervalJoinLeft(Tables.events(s, d))),
    // hash-assigned A/B experiment readout.
    "events_ab_test" -> ((s, d) => abTest(Tables.events(s, d))),
    // incremental aggregate maintenance: materialized base + last-day
    // increment re-aggregated == full recompute (the oracle).
    "agg_incremental_merge" -> ((s, d) => incrementalMergedTotals(s, d)),
    // weekly churn over exact integer week indexes.
    "events_churn_weekly" -> ((s, d) => weeklyChurn(Tables.events(s, d))),
    // equal-credit attribution per click-day.
    "events_attribution_linear" -> ((s, d) =>
      linearAttribution(Tables.events(s, d))),
    // purchase → earliest in-window click (first-touch attribution).
    "events_attribution" -> ((s, d) =>
      firstTouchAttribution(Tables.events(s, d))),
    // recency-weighted per-user engagement (24 h half-life).
    "events_decay_weighted" -> ((s, d) =>
      decayWeightedValue(Tables.events(s, d))),
    // per-day view → click → purchase conversion funnel (see funnelDaily;
    // the streaming twin runs the same two-level aggregation live).
    "funnel_daily_conversion" -> ((s, d) => funnelDaily(Tables.events(s, d))),
    // TIME-to-convert: per converting user, seconds from first view to
    // first purchase (integer epoch-second difference — exact), rolled
    // up by conversion day with exact interpolated percentiles. Two
    // type-filtered min-aggregates (map-side partials) + one user join;
    // the percentile inputs are BIGINTs, so the interpolated p50/p90
    // are deterministic doubles on both engines (the agg_percentile
    // precedent). The funnel's "how fast", where funnel_daily_conversion
    // is the "how many".
    "events_time_to_convert" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val firstView = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_view"))
      val firstPurchase = ev.filter(col("event_type") === "purchase")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t_buy"))
      firstView.join(firstPurchase, Seq("user_id"))
        .filter(col("t_buy") >= col("t_view"))
        .withColumn("latency_s",
          expr("unix_micros(t_buy) div 1000000 - unix_micros(t_view) div 1000000"))
        .groupBy(to_date(col("t_buy")).as("day"))
        .agg(count(lit(1)).as("n_conversions"),
          round(percentile(col("latency_s"), lit(0.5)), 4).as("p50_s"),
          round(percentile(col("latency_s"), lit(0.9)), 4).as("p90_s"),
          max(col("latency_s")).as("max_s"))
        .orderBy("day")
    }),
    // day-0 cohorts × day-offset activity counts.
    "events_retention_cohorts" -> ((s, d) =>
      retentionCohorts(Tables.events(s, d))),
    // first-order type-transition counts and rates.
    "events_type_transitions" -> ((s, d) =>
      typeTransitions(Tables.events(s, d))),
    // cohort LIFETIME VALUE: purchases rolled up by (first-seen day,
    // age) with the running cumulative — the revenue companion to
    // events_retention_cohorts. Determinism note: cell revenue rounds
    // 2 dp FIRST (the one unordered float sum), and the cumulative is a
    // window sum over those already-identical doubles in a pinned
    // (age) order — so the running totals agree bit-for-bit too. Cells
    // are cohort×age-sized; the user-level shuffle is the cohort min.
    "events_cohort_ltv" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val cohort = ev.groupBy(col("user_id"))
        .agg(min(to_date(col("ts"))).as("cohort_day"))
      val cells = ev.filter(col("event_type") === "purchase")
        .select(col("user_id"), to_date(col("ts")).as("day"), col("value"))
        .join(cohort, Seq("user_id"))
        .withColumn("age", datediff(col("day"), col("cohort_day")).cast("long"))
        .groupBy(col("cohort_day"), col("age"))
        .agg(count(lit(1)).as("n_purchases"),
          round(sum(col("value")), 2).as("rev"))
      val w = Window.partitionBy(col("cohort_day")).orderBy(col("age"))
      cells
        .withColumn("cum_rev", round(sum(col("rev")).over(w), 2))
        .orderBy("cohort_day", "age")
    }),
    // DAU / trailing-7d WAU / stickiness per observed day.
    "events_active_users" -> ((s, d) =>
      activeUsers(Tables.events(s, d))),
    // trailing-6-hour z-score per (event_type, hour) — the alerting op.
    "events_anomaly_zscore" -> ((s, d) =>
      anomalyZscore(Tables.events(s, d))),
    // top-3 event types per sliding hour window (15-min slide).
    "stream_trending_topk" -> ((s, d) =>
      trendingTopK(Tables.events(s, d))),
    // concurrent sessions/users per hour (interval-overlap aggregate,
    // scatter plan vs the oracle's theta-join spec).
    "events_session_concurrency" -> ((s, d) =>
      sessionConcurrency(Tables.events(s, d))),
    // per-user 30-min-gap session rollup (batch gaps-and-islands).
    "events_sessionize" -> ((s, d) =>
      sessionizeStats(Tables.events(s, d))),
    // inter-event-gap regularity (cv) bot signal per user.
    "events_bot_score" -> ((s, d) =>
      botScores(Tables.events(s, d))),
    // session-level event-type co-occurrence with lift (market-basket).
    "events_cooccurrence_lift" -> ((s, d) =>
      cooccurrenceLift(Tables.events(s, d))),
    // stream-static enrichment join (batch twin; live form in Streams).
    "stream_enrich_static" -> ((s, d) =>
      enrichStatic(Tables.events(s, d), Tables.customer(s, d))),
    // seasonal-naive (t-168h) backtest MAE per type on the final week.
    "events_forecast_snaive" -> ((s, d) =>
      seasonalNaiveBacktest(Tables.events(s, d)))
  )

  def oracle: Map[String, String] = Map(
    // same integer-cents metrics, quantile_cont thresholds, 1-4 scores.
    "events_rfm" ->
      """WITH per AS (
        |  SELECT user_id,
        |         CAST(floor(epoch((SELECT max(ts) FROM events) - max(ts))
        |                    / 86400) AS BIGINT) AS rec_days,
        |         count(*) AS freq,
        |         sum(CAST(round(value * 100) AS BIGINT)) AS cents
        |  FROM events GROUP BY user_id),
        |q AS (
        |  SELECT quantile_cont(rec_days, 0.25) AS r1,
        |         quantile_cont(rec_days, 0.5)  AS r2,
        |         quantile_cont(rec_days, 0.75) AS r3,
        |         quantile_cont(freq, 0.25) AS f1,
        |         quantile_cont(freq, 0.5)  AS f2,
        |         quantile_cont(freq, 0.75) AS f3,
        |         quantile_cont(cents, 0.25) AS m1,
        |         quantile_cont(cents, 0.5)  AS m2,
        |         quantile_cont(cents, 0.75) AS m3
        |  FROM per)
        |SELECT r_q, f_q, m_q, count(*) AS n_users,
        |       round(avg(cents) / 100.0, 4) AS avg_monetary
        |FROM (
        |  SELECT CAST(1 + (rec_days > r1)::INT + (rec_days > r2)::INT
        |              + (rec_days > r3)::INT AS BIGINT) AS r_q,
        |         CAST(1 + (freq > f1)::INT + (freq > f2)::INT
        |              + (freq > f3)::INT AS BIGINT) AS f_q,
        |         CAST(1 + (cents > m1)::INT + (cents > m2)::INT
        |              + (cents > m3)::INT AS BIGINT) AS m_q,
        |         cents
        |  FROM per, q)
        |GROUP BY r_q, f_q, m_q ORDER BY r_q, f_q, m_q""".stripMargin,
    // list-per-user spec form: same (ts, event_id) order, same trigrams.
    "events_user_paths" ->
      """WITH seq AS (
        |  SELECT user_id, list(event_type ORDER BY ts, event_id) AS types
        |  FROM events GROUP BY user_id),
        |tri AS (
        |  SELECT unnest(list_transform(range(1, len(types) - 1),
        |           i -> types[i] || '>' || types[i+1] || '>' || types[i+2]))
        |           AS path
        |  FROM seq WHERE len(types) >= 3)
        |SELECT path, count(*) AS n FROM tri
        |GROUP BY path ORDER BY n DESC, path LIMIT 20""".stripMargin,
    // DuckDB dayofweek() is already 0=Sunday — matches the Spark shift;
    // mean via exact integer cents, divided once (ulp-proof).
    "events_seasonality" ->
      """SELECT CAST(dayofweek(ts) AS BIGINT) AS dow,
        |       CAST(hour(ts) AS BIGINT) AS hod,
        |       count(*) AS n,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |       round(sum(CAST(round(value * 100) AS BIGINT)) / 100.0
        |             / count(*), 4) AS avg_value
        |FROM events GROUP BY 1, 2 ORDER BY dow, hod""".stripMargin,
    // same pair set as stream_interval_join, collapsed to the earliest
    // (c_ts, c_id) per purchase — row_number mirrors the struct-min.
    "events_attribution" ->
      """WITH pairs AS (
        |  SELECT p.event_id AS p_id, p.user_id, p.ts AS p_ts,
        |         c.event_id AS c_id, c.ts AS c_ts
        |  FROM events p JOIN events c
        |    ON p.event_type = 'purchase' AND c.event_type = 'click'
        |   AND c.user_id = p.user_id
        |   AND c.ts >= p.ts - INTERVAL 6 HOURS AND c.ts < p.ts)
        |SELECT p_id, user_id, p_ts, c_id AS first_click_id,
        |       c_ts AS first_click_ts
        |FROM (SELECT *, row_number() OVER (PARTITION BY p_id
        |        ORDER BY c_ts, c_id) AS rn FROM pairs)
        |WHERE rn = 1 ORDER BY p_id""".stripMargin,
    // identical pow(0.5, age/halflife) primitive on both engines.
    "events_decay_weighted" ->
      """WITH m AS (SELECT max(ts) AS t_max FROM events)
        |SELECT user_id,
        |       round(sum(value * pow(0.5,
        |         ((epoch_us(t_max) - epoch_us(ts)) / 3600000000.0) / 24.0)), 4)
        |         AS decayed_value,
        |       CAST(count(*) AS BIGINT) AS n_events
        |FROM events, m GROUP BY user_id ORDER BY user_id""".stripMargin,
    "stream_rate_tumbling" ->
      """SELECT time_bucket(INTERVAL '5 seconds', ts) AS w_start, count(*) AS n
        |FROM events GROUP BY 1 ORDER BY w_start""".stripMargin,
    "agg_rate" ->
      """SELECT w_start, n, round(n / 5.0, 6) AS per_sec FROM (
        |  SELECT time_bucket(INTERVAL '5 seconds', ts) AS w_start, count(*) AS n
        |  FROM events GROUP BY 1)
        |ORDER BY w_start""".stripMargin,
    // sliding window = each event contributes to the 12 5-second-aligned
    // windows covering it: w_start = bucket5(ts) - i*5s, i in 0..11.
    "stream_sliding" ->
      """SELECT w_start, count(*) AS n FROM (
        |  SELECT time_bucket(INTERVAL '5 seconds', ts)
        |         - i * INTERVAL '5 seconds' AS w_start
        |  FROM events, (SELECT unnest(range(0, 12)) AS i))
        |GROUP BY w_start ORDER BY w_start""".stripMargin,
    // gaps-and-islands; new session when gap >= 30 min (Spark's session
    // windows are [start, last+gap), so an exactly-30-min gap splits).
    "stream_session" ->
      """WITH o AS (
        |  SELECT user_id, ts,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |              OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
        |              THEN 1 ELSE 0 END AS brk
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |g AS (
        |  SELECT user_id, ts,
        |         sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM o)
        |SELECT user_id, min(ts) AS s_start,
        |       max(ts) + INTERVAL '30 minutes' AS s_end, count(*) AS n
        |FROM g GROUP BY user_id, sid ORDER BY user_id, s_start""".stripMargin,
    // Replicates watermarkLateSurvivors: same integer-arithmetic arrival
    // order (30-min bucket, % 7 interleave), running-max watermark
    // computed directly (one global window — fine for an oracle; the
    // Spark side runs the bucket-blocked scan with identical semantics).
    "stream_watermark_late" ->
      """WITH a AS (
        |  SELECT event_id, ts, epoch_us(ts) // 1800000000 AS ab
        |  FROM events),
        |wm AS (
        |  SELECT ts, max(ts) OVER (ORDER BY ab, event_id % 7, event_id
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS w
        |  FROM a),
        |keep AS (
        |  SELECT ts FROM wm
        |  WHERE w IS NULL OR ts >= w - INTERVAL '10 minutes')
        |SELECT time_bucket(INTERVAL '5 seconds', ts) AS w_start, count(*) AS n
        |FROM keep GROUP BY 1 ORDER BY w_start""".stripMargin,
    "stream_interval_join" ->
      """SELECT p.event_id AS p_id, p.user_id, p.ts AS p_ts,
        |       c.event_id AS c_id, c.ts AS c_ts
        |FROM events p JOIN events c
        |  ON p.user_id = c.user_id
        | AND p.event_type = 'purchase' AND c.event_type = 'click'
        | AND c.ts >= p.ts - INTERVAL 6 HOUR AND c.ts < p.ts
        |ORDER BY p_id, c_id""".stripMargin,
    // same interval pairs, per-purchase window count, 1/n credit,
    // day rollup rounded 6 dp.
    "events_attribution_linear" ->
      """WITH pr AS (
        |  SELECT p.event_id AS p_id, c.ts AS c_ts
        |  FROM events p JOIN events c
        |    ON p.user_id = c.user_id
        |   AND p.event_type = 'purchase' AND c.event_type = 'click'
        |   AND c.ts >= p.ts - INTERVAL 6 HOUR AND c.ts < p.ts),
        |w AS (
        |  SELECT c_ts,
        |         CAST(1.0 AS DOUBLE) / count(*) OVER (PARTITION BY p_id)
        |           AS credit
        |  FROM pr)
        |SELECT CAST(c_ts AS DATE) AS click_day,
        |       count(*) AS n_credited_clicks,
        |       round(sum(credit), 6) AS credit
        |FROM w GROUP BY CAST(c_ts AS DATE) ORDER BY click_day""".stripMargin,
    // the incremental-maintenance gate IS a direct full recompute:
    // base partials + increment must land on the same totals.
    "agg_incremental_merge" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |       round(sum(value), 2) AS total_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // same integer week indexes, distinct user-weeks, anti-join churn.
    "events_churn_weekly" ->
      """WITH uw AS (
        |  SELECT DISTINCT user_id,
        |         datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) // 7
        |           AS week
        |  FROM events),
        |ch AS (
        |  SELECT a.user_id, a.week FROM uw a
        |  WHERE NOT EXISTS (
        |    SELECT 1 FROM uw b
        |    WHERE b.user_id = a.user_id AND b.week = a.week + 1)),
        |act AS (SELECT week, count(*) AS n_active FROM uw GROUP BY week),
        |chn AS (SELECT week, count(*) AS n_churned FROM ch GROUP BY week),
        |mx AS (SELECT max(week) AS max_week FROM uw)
        |SELECT CAST(a.week AS BIGINT) AS week,
        |       CAST(a.n_active AS BIGINT) AS n_active,
        |       CAST(COALESCE(c.n_churned, 0) AS BIGINT) AS n_churned,
        |       round(CAST(COALESCE(c.n_churned, 0) AS DOUBLE) / a.n_active, 6)
        |         AS churn_rate
        |FROM act a LEFT JOIN chn c ON c.week = a.week CROSS JOIN mx
        |WHERE a.week < mx.max_week
        |ORDER BY week""".stripMargin,
    // same salted-hash assignment (md5 nibble), same user-grain
    // conditional max, rounded rate.
    "events_ab_test" ->
      """WITH u AS (
        |  SELECT user_id,
        |         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |           AS converted
        |  FROM events GROUP BY user_id),
        |a AS (
        |  SELECT CASE WHEN substr(md5(concat('ab1:',
        |           CAST(user_id AS VARCHAR))), 1, 1) < '8'
        |         THEN 'A' ELSE 'B' END AS variant, converted
        |  FROM u)
        |SELECT variant, count(*) AS n_users,
        |       CAST(sum(converted) AS BIGINT) AS n_converted,
        |       round(CAST(sum(converted) AS DOUBLE) / count(*), 6)
        |         AS conv_rate
        |FROM a GROUP BY variant ORDER BY variant""".stripMargin,
    // purchase-side filter in WHERE (left-preserved side), click-side
    // conditions in ON; NULLS FIRST matches Spark's asc_nulls_first.
    "stream_interval_join_left" ->
      """SELECT p.event_id AS p_id, p.user_id, p.ts AS p_ts,
        |       c.event_id AS c_id, c.ts AS c_ts
        |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        |LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
        |  ON p.user_id = c.user_id
        | AND c.ts >= p.ts - INTERVAL 6 HOUR AND c.ts < p.ts
        |ORDER BY p_id, c_id NULLS FIRST""".stripMargin,
    // NULL comparisons fall out identically: t_c > t_v is false-ish
    // (not counted) when either side is NULL in both engines' CASE.
    // same first-view/first-purchase mins, integer epoch-second latency,
    // quantile_cont percentiles.
    "events_time_to_convert" ->
      """WITH v AS (
        |  SELECT user_id, min(ts) AS t_view FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |p AS (
        |  SELECT user_id, min(ts) AS t_buy FROM events
        |  WHERE event_type = 'purchase' GROUP BY user_id),
        |c AS (
        |  SELECT v.user_id, t_view, t_buy,
        |         epoch_us(t_buy) // 1000000 - epoch_us(t_view) // 1000000
        |           AS latency_s
        |  FROM v JOIN p ON v.user_id = p.user_id
        |  WHERE t_buy >= t_view)
        |SELECT CAST(t_buy AS DATE) AS day,
        |       CAST(count(*) AS BIGINT) AS n_conversions,
        |       round(quantile_cont(CAST(latency_s AS DOUBLE), 0.5), 4) AS p50_s,
        |       round(quantile_cont(CAST(latency_s AS DOUBLE), 0.9), 4) AS p90_s,
        |       CAST(max(latency_s) AS BIGINT) AS max_s
        |FROM c GROUP BY 1 ORDER BY day""".stripMargin,
    "funnel_daily_conversion" ->
      """WITH ud AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |         min(CASE WHEN event_type = 'view' THEN ts END) AS t_v,
        |         min(CASE WHEN event_type = 'click' THEN ts END) AS t_c,
        |         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_p
        |  FROM events
        |  WHERE event_type IN ('view', 'click', 'purchase')
        |  GROUP BY user_id, CAST(ts AS DATE))
        |SELECT day,
        |  CAST(sum(CASE WHEN t_v IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_view,
        |  CAST(sum(CASE WHEN t_c > t_v THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_click_after_view,
        |  CAST(sum(CASE WHEN t_c > t_v AND t_p > t_c THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_purchase_funnel
        |FROM ud GROUP BY day ORDER BY day""".stripMargin,
    "events_retention_cohorts" ->
      """WITH fd AS (
        |  SELECT user_id, min(CAST(ts AS DATE)) AS cohort
        |  FROM events GROUP BY user_id),
        |act AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events)
        |SELECT fd.cohort,
        |       CAST(datediff('day', fd.cohort, act.day) AS BIGINT)
        |         AS day_offset,
        |       CAST(count(*) AS BIGINT) AS n_users
        |FROM act JOIN fd ON act.user_id = fd.user_id
        |GROUP BY 1, 2 ORDER BY cohort, day_offset""".stripMargin,
    // same support-explode construction; day+i is date arithmetic on
    // both engines and the stickiness is an exact integer ratio.
    "events_active_users" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
        |dau AS (
        |  SELECT day, CAST(count(*) AS BIGINT) AS dau FROM ud GROUP BY 1),
        |sup AS (
        |  SELECT DISTINCT user_id, day + CAST(t.i AS INTEGER) AS day
        |  FROM ud, unnest(range(0, 7)) AS t(i)),
        |wau AS (
        |  SELECT day, CAST(count(*) AS BIGINT) AS wau FROM sup GROUP BY 1)
        |SELECT d.day, d.dau, w.wau,
        |       round(CAST(d.dau AS DOUBLE) / w.wau, 6) AS stickiness
        |FROM dau d JOIN wau w ON d.day = w.day
        |ORDER BY d.day""".stripMargin,
    // cells round FIRST; the cumulative window reads identical doubles
    // in pinned age order on both engines.
    "events_cohort_ltv" ->
      """WITH c AS (
        |  SELECT user_id, min(CAST(ts AS DATE)) AS cohort_day
        |  FROM events GROUP BY user_id),
        |p AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, value
        |  FROM events WHERE event_type = 'purchase'),
        |cells AS (
        |  SELECT cohort_day, CAST(day - cohort_day AS BIGINT) AS age,
        |         CAST(count(*) AS BIGINT) AS n_purchases,
        |         round(sum(value), 2) AS rev
        |  FROM p JOIN c USING (user_id) GROUP BY 1, 2)
        |SELECT cohort_day, age, n_purchases, rev,
        |       round(sum(rev) OVER (
        |         PARTITION BY cohort_day ORDER BY age), 2) AS cum_rev
        |FROM cells ORDER BY cohort_day, age""".stripMargin,
    "events_type_transitions" ->
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |         lag(event_type) OVER (
        |           PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        |  FROM events),
        |pairs AS (
        |  SELECT prev_type, event_type AS cur_type,
        |         CAST(count(*) AS BIGINT) AS n
        |  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2),
        |tot AS (
        |  SELECT prev_type, sum(n) AS n_from FROM pairs GROUP BY 1)
        |SELECT p.prev_type, p.cur_type, p.n,
        |       round(p.n * 1.0 / t.n_from, 6) AS p
        |FROM pairs p JOIN tot t ON p.prev_type = t.prev_type
        |ORDER BY p.prev_type, p.cur_type""".stripMargin,
    // mirrors anomalyZscore: identical rows-frame trailing window,
    // identical round-before-compare discipline (mean/sd rounded 6 dp,
    // z from the rounded inputs, flag on the rounded z).
    "events_anomaly_zscore" ->
      """WITH h AS (
        |  SELECT event_type, date_trunc('hour', ts) AS hour,
        |         count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |s AS (
        |  SELECT event_type, hour, n,
        |         count(n) OVER w AS n_prev,
        |         round(avg(n) OVER w, 6) AS mean_n,
        |         round(stddev_samp(n) OVER w, 6) AS sd_n
        |  FROM h
        |  WINDOW w AS (PARTITION BY event_type ORDER BY hour
        |    ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)),
        |z AS (
        |  SELECT event_type, hour, n, mean_n, sd_n,
        |         CASE WHEN sd_n > 0
        |              THEN round((n - mean_n) / sd_n, 6) END AS z
        |  FROM s WHERE n_prev = 6)
        |SELECT event_type, hour, n, mean_n, sd_n, z,
        |       coalesce(abs(z) > 2.0, false) AS is_anomaly
        |FROM z ORDER BY event_type, hour""".stripMargin,
    // each event contributes to the 4 15-min-aligned windows covering
    // it (the stream_sliding expansion), then per-window rank.
    "stream_trending_topk" ->
      """WITH e AS (
        |  SELECT time_bucket(INTERVAL '15 minutes', ts)
        |           - i * INTERVAL '15 minutes' AS w_start,
        |         event_type
        |  FROM events, (SELECT unnest(range(0, 4)) AS i)),
        |c AS (SELECT w_start, event_type, count(*) AS n
        |      FROM e GROUP BY 1, 2),
        |r AS (
        |  SELECT w_start, event_type, n,
        |         CAST(row_number() OVER (PARTITION BY w_start
        |           ORDER BY n DESC, event_type) AS BIGINT) AS rk
        |  FROM c)
        |SELECT w_start, event_type, n, rk FROM r
        |WHERE rk <= 3 ORDER BY w_start, rk""".stripMargin,
    // the NAIVE theta form of the interval-overlap aggregate: an hour
    // grid joined to sessions on the overlap predicate. This quadratic
    // join is the executable spec the Spark scatter plan must equal.
    // Sessions re-derive via the same gaps-and-islands chain as
    // stream_session; hour-of via integer epoch division, and the hour
    // re-materializes as a plain (UTC) TIMESTAMP on both engines.
    "events_session_concurrency" ->
      """WITH o AS (
        |  SELECT user_id, ts,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |              OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
        |              THEN 1 ELSE 0 END AS brk
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |g AS (
        |  SELECT user_id, ts,
        |         sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM o),
        |se AS (
        |  SELECT user_id,
        |         CAST(epoch(date_trunc('hour', min(ts))) AS BIGINT)
        |           // 3600 AS h1,
        |         CAST(epoch(date_trunc('hour',
        |           max(ts) + INTERVAL '30 minutes')) AS BIGINT) // 3600 AS h2
        |  FROM g GROUP BY user_id, sid),
        |bounds AS (SELECT min(h1) AS hlo, max(h2) AS hhi FROM se),
        |hrs AS (
        |  SELECT unnest(generate_series(bounds.hlo, bounds.hhi)) AS h
        |  FROM bounds),
        |j AS (
        |  SELECT hrs.h, se.user_id FROM hrs
        |  JOIN se ON se.h1 <= hrs.h AND se.h2 >= hrs.h)
        |SELECT TIMESTAMP '1970-01-01' + h * INTERVAL '3600 seconds' AS hour,
        |       CAST(count(*) AS BIGINT) AS n_sessions,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM j GROUP BY h ORDER BY hour""".stripMargin,
    // same lag+cumsum islands as the concurrency oracle; per-session
    // floors epoch seconds (events carry microseconds) before the diff.
    "events_sessionize" ->
      """WITH o AS (
        |  SELECT user_id, ts,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |              OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
        |              THEN 1 ELSE 0 END AS brk
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |g AS (
        |  SELECT user_id, ts,
        |         sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM o),
        |se AS (
        |  SELECT user_id, sid, count(*) AS n,
        |         CAST(floor(epoch(max(ts))) AS BIGINT)
        |           - CAST(floor(epoch(min(ts))) AS BIGINT) AS span
        |  FROM g GROUP BY user_id, sid)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions,
        |       CAST(sum(n) AS BIGINT) AS n_events,
        |       round(CAST(sum(n) AS DOUBLE) / count(*), 4)
        |         AS events_per_session,
        |       CAST(sum(span) AS BIGINT) AS active_secs,
        |       CAST(max(n) AS BIGINT) AS max_session_events
        |FROM se GROUP BY user_id ORDER BY user_id""".stripMargin,
    // same floored gaps, same (ts, event_id) order pin, moments rounded
    // before the ratio, flag on the rounded cv.
    "events_bot_score" ->
      """WITH g AS (
        |  SELECT user_id,
        |         CAST(floor(epoch(ts)) AS BIGINT)
        |           - CAST(floor(epoch(lag(ts) OVER w)) AS BIGINT) AS gap
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |a AS (
        |  SELECT user_id, CAST(count(*) AS BIGINT) AS n_gaps,
        |         round(avg(gap), 6) AS mean_gap,
        |         round(stddev_samp(gap), 6) AS sd_gap
        |  FROM g WHERE gap IS NOT NULL GROUP BY user_id)
        |SELECT user_id, n_gaps, mean_gap, sd_gap,
        |       CASE WHEN mean_gap > 0
        |            THEN round(sd_gap / mean_gap, 6) END AS cv,
        |       CASE WHEN mean_gap > 0
        |            THEN round(sd_gap / mean_gap, 6) < 0.3
        |            ELSE false END AS bot_like
        |FROM a WHERE n_gaps >= 2 ORDER BY user_id""".stripMargin,
    // same session islands; support = distinct (session, type); lift
    // multiplication left-associated identically.
    "events_cooccurrence_lift" ->
      """WITH o AS (
        |  SELECT user_id, ts, event_type,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |              OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
        |              THEN 1 ELSE 0 END AS brk
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |g AS (
        |  SELECT user_id, event_type,
        |         sum(brk) OVER (PARTITION BY user_id ORDER BY ts
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM o),
        |st AS (SELECT DISTINCT user_id, sid, event_type FROM g),
        |tot AS (SELECT count(*) AS n_total
        |        FROM (SELECT DISTINCT user_id, sid FROM st)),
        |pt AS (SELECT event_type, count(*) AS n_type FROM st
        |       GROUP BY event_type),
        |pairs AS (
        |  SELECT a.event_type AS t1, b.event_type AS t2,
        |         count(*) AS n_both
        |  FROM st a JOIN st b ON a.user_id = b.user_id AND a.sid = b.sid
        |    AND a.event_type < b.event_type
        |  GROUP BY 1, 2)
        |SELECT t1, t2, CAST(n_both AS BIGINT) AS n_both,
        |       CAST(p1.n_type AS BIGINT) AS n1,
        |       CAST(p2.n_type AS BIGINT) AS n2,
        |       round(CAST(n_both AS DOUBLE) * tot.n_total
        |         / (p1.n_type * p2.n_type), 6) AS lift
        |FROM pairs JOIN pt p1 ON p1.event_type = pairs.t1
        |JOIN pt p2 ON p2.event_type = pairs.t2 CROSS JOIN tot
        |ORDER BY t1, t2""".stripMargin,
    // plain dim join + hour-truncated rollup: the executable spec of
    // the stream-static enrichment.
    "stream_enrich_static" ->
      """SELECT date_trunc('hour', ts) AS hour, c_mktsegment,
        |       CAST(count(*) AS BIGINT) AS n,
        |       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
        |FROM events JOIN customer ON c_custkey = user_id + 1
        |GROUP BY 1, 2 ORDER BY hour, c_mktsegment""".stripMargin,
    // same floored hour indexes, same inner self-join at lag 168, same
    // final-week window off the broadcast max hour.
    "events_forecast_snaive" ->
      """WITH ht AS (
        |  SELECT event_type,
        |         CAST(floor(epoch(ts)) AS BIGINT) // 3600 AS h,
        |         count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |mx AS (SELECT max(h) AS max_h FROM ht),
        |j AS (
        |  SELECT a.event_type, a.n, b.n AS n_prev
        |  FROM ht a JOIN ht b ON b.event_type = a.event_type
        |    AND b.h = a.h - 168
        |  CROSS JOIN mx WHERE a.h > mx.max_h - 168)
        |SELECT event_type, CAST(count(*) AS BIGINT) AS n_hours,
        |       round(avg(abs(n - n_prev)), 6) AS mae,
        |       round(avg(n), 6) AS mean_actual
        |FROM j GROUP BY event_type ORDER BY event_type""".stripMargin
  )
}
