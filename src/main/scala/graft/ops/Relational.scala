package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.model.Tables

/** Relational breadth over the TPC-H-ish star schema (SURVEY §2.3-2.6).
  *
  * Each EXT operator generalizes a REF behavior (see SURVEY §2 table); the
  * physical concerns are stated per query:
  *   - dimension joins broadcast the small side explicitly so the fact
  *     table never shuffles (`join_broadcast_dim`, `join_theta_range`);
  *   - large equi-joins rely on Catalyst + AQE (sort-merge <-> broadcast
  *     switch at runtime) — no hand scheduling (`join_equi_hash`);
  *   - aggregations are partial+final hash aggregates for free; only the
  *     grouped result (tiny) crosses the shuffle;
  *   - top-k is orderBy+limit which Spark plans as TakeOrderedAndProject
  *     (per-partition heap, no global sort).
  */
object Relational {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ordered LISTAGG per group (string_agg): collect_set is a partial
    // aggregate (map-side combine over the 5 distinct priorities), the
    // sort+join happen on the final group-sized arrays — never a
    // per-row window. The export-report op every summary email runs.
    "agg_string_agg" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          concat_ws(",", array_sort(collect_set(col("o_orderpriority"))))
            .as("priorities"))
        .orderBy("o_orderstatus")),
    // cumulative distribution within each segment — the "what share of
    // this segment is at or below my balance" percentile-rank twin.
    // Partitioned window (segment-sized partitions, never global); ties
    // share a value, so the result is row-order-independent, and the
    // ratio is a pure int/int division — identical on both engines.
    "win_cume_dist" -> ((s, d) =>
      Tables.customer(s, d)
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"),
          round(cume_dist().over(Window.partitionBy(col("c_mktsegment"))
            .orderBy(col("c_acctbal"))), 6).as("cd"))
        .orderBy("c_custkey")),
    // orders ⋈ customer FK equi-join + grouped agg (generalizes
    // join_manifest_results, bulkupload.py:253-261).
    "join_equi_hash" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val c = Tables.customer(s, d)
      o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("c_custkey"), col("c_name"))
        .agg(count(col("o_orderkey")).as("n_orders"),
             round(sum(col("o_totalprice")), 2).as("total_spent"))
        .orderBy("c_custkey")
    }),
    // fact ⋈ small dims — broadcast both dims, zero shuffle on customer.
    "join_broadcast_dim" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val n = broadcast(Tables.nation(s, d))
      val r = broadcast(Tables.region(s, d))
      c.join(n, c("c_nationkey") === n("n_nationkey"))
        .join(r, n("n_regionkey") === r("r_regionkey"))
        .groupBy(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"),
             round(avg(col("c_acctbal")), 4).as("avg_bal"))
        .orderBy("r_name", "n_name")
    }),
    // non-equi band join → BroadcastNestedLoopJoin over a 3-row bands side.
    // BENCH r5 recorded an 0.37→1.09 s regression with no code change;
    // measured in isolation (r6, SPARK_GRAFT_BENCH_ONLY, min-of-7 at
    // sf0.1 local[32]) this query runs 0.24 s — faster than the equi-join
    // peers — so the r5 number was shared-JVM warm-state noise from the
    // 96-query bench (GC/code-cache pressure inherited from preceding
    // heavy queries), not a plan defect: the plan is a map-side-only BNLJ
    // against a 3-row broadcast, which is the 100 TB-correct shape.
    "join_theta_range" -> ((s, d) => {
      val o = Tables.orders(s, d)
      val bands = broadcast(s.createDataFrame(Seq(
        (0.0, 50000.0, "low"), (50000.0, 150000.0, "mid"),
        (150000.0, 1e12, "high"))).toDF("lo", "hi", "band"))
      o.join(bands, o("o_totalprice") >= bands("lo") && o("o_totalprice") < bands("hi"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("total"))
        .orderBy("band")
    }),
    // customers with/without orders — left outer keeps the zero-order rows.
    "join_outer" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val o = Tables.orders(s, d)
      c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_orders"))
        .orderBy("c_custkey")
    }),
    // TPC-H Q1 shape: the canonical partial+final grouped aggregate with a
    // pushed-down shipdate filter (check: PushedFilters in .explain).
    "agg_group_by" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("sum_disc_price"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),
    // exact distinct per group (HLL++ approx variant is bench-only:
    // approx results are not oracle-stable).
    "agg_distinct" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .orderBy("event_type")),
    // bivariate statistics per group — corr is scale-free (round 6);
    // covariance is price-scale (round 2, same discipline as money sums).
    "agg_corr" -> ((s, d) =>
      Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("r"),
          round(covar_samp(col("l_quantity"), col("l_extendedprice")), 2)
            .as("cov"))
        .orderBy("l_returnflag")),
    // subtotal hierarchy region→nation (generalizes end_reporting totals).
    "agg_rollup" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val n = broadcast(Tables.nation(s, d))
      val r = broadcast(Tables.region(s, d))
      c.join(n, c("c_nationkey") === n("n_nationkey"))
        .join(r, n("n_regionkey") === r("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_cust"))
        .orderBy(asc_nulls_first("r_name"), asc_nulls_first("n_name"))
    }),
    // explicit GROUPING SETS (the general form rollup/cube specialize):
    // two independent one-column groupings + the grand total in ONE scan
    // (plans as a single Expand pass, not three aggregations).
    "agg_grouping_sets" -> ((s, d) => {
      Tables.orders(s, d).createOrReplaceTempView("orders_gs")
      s.sql("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
              |       round(sum(o_totalprice), 2) AS total
              |FROM orders_gs
              |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
              |ORDER BY o_orderstatus NULLS FIRST,
              |         o_orderpriority NULLS FIRST""".stripMargin)
    }),
    // long→wide PIVOT: order counts by status × priority as a 3×5 grid.
    // The priority values are listed EXPLICITLY so Spark skips the
    // distinct-collect pre-pass and the output schema is static. Spark
    // plans Dataset.pivot as TWO aggregations (partial+final over
    // (status, priority), then a regroup by status that lays the grid
    // out wide) — both exchanges carry group-sized rows only, so the
    // fact table still shuffles nothing but counters; the oracle's
    // conditional-sum form is the single-agg equivalent of the same
    // semantics. Absent cells are 0 (not null) on both engines.
    "agg_pivot" -> ((s, d) => {
      val prios = Seq("1-URGENT" -> "urgent", "2-HIGH" -> "high",
        "3-MEDIUM" -> "medium", "4-NOT SPECIFIED" -> "not_specified",
        "5-LOW" -> "low")
      Tables.orders(s, d)
        .groupBy(col("o_orderstatus"))
        .pivot("o_orderpriority", prios.map(_._1))
        .agg(count(lit(1)))
        .select(col("o_orderstatus") +:
          prios.map { case (v, a) =>
            coalesce(col(s"`$v`"), lit(0L)).as(a) }: _*)
        .orderBy("o_orderstatus")
    }),
    // wide→long UNPIVOT (melt): per-nation customer stats stacked to
    // (nation, metric, value) rows — the normalization step every
    // profiling export runs. Values share one DOUBLE type by contract;
    // the melt is pure projection+Expand over the (tiny) grouped result.
    "agg_unpivot" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val n = broadcast(Tables.nation(s, d))
      val wide = c.join(n, c("c_nationkey") === n("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(count(lit(1)).cast("double").as("n_cust"),
             round(avg(col("c_acctbal")), 4).as("avg_bal"),
             round(max(col("c_acctbal")), 2).as("max_bal"))
      wide.unpivot(Array(col("n_name")),
          Array(col("n_cust"), col("avg_bal"), col("max_bal")),
          "metric", "value")
        .orderBy("n_name", "metric")
    }),
    // full grouping-set lattice over the dim hierarchy.
    "agg_cube" -> ((s, d) => {
      val c = Tables.customer(s, d)
      val n = broadcast(Tables.nation(s, d))
      val r = broadcast(Tables.region(s, d))
      c.join(n, c("c_nationkey") === n("n_nationkey"))
        .join(r, n("n_regionkey") === r("r_regionkey"))
        .cube(col("r_name"), col("c_mktsegment"))
        .agg(count(lit(1)).as("n_cust"))
        .orderBy(asc_nulls_first("r_name"), asc_nulls_first("c_mktsegment"))
    }),
    // customers ⟗ orders — both null sides preserved.
    "join_full_outer" -> ((s, d) => {
      val c = Tables.customer(s, d).filter(col("c_custkey") % 2 === 0)
      val o = Tables.orders(s, d).filter(col("o_custkey") % 3 === 0)
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_orders"))
      c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
        .select(col("c_custkey"), col("o_custkey"), col("n_orders"))
        .orderBy(asc_nulls_first("c_custkey"), asc_nulls_first("o_custkey"))
    }),
    // per-group stats; stddev_samp matches DuckDB's sample semantics.
    "agg_stats_events" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
             round(min(col("value")), 6).as("min_v"),
             round(max(col("value")), 6).as("max_v"),
             round(avg(col("value")), 4).as("avg_v"),
             round(stddev_samp(col("value")), 4).as("sd_v"))
        .orderBy("event_type")),
    // percentile-clip outlier cleaning (winsorize at p1/p99) — the
    // metric-hygiene pass before any averaged dashboard: exact per-type
    // bounds (one grouped agg, broadcast back — the bounds table is
    // type-sized), then a map-side clip and one summary agg. Clip
    // decisions compare raw values against the UNROUNDED interpolated
    // percentile: an interpolated bound lies strictly between adjacent
    // order statistics (or IS a data value when the rank is integral),
    // so engine-ulp differences cannot flip a comparison; only the
    // averages need the usual rounding.
    "events_value_winsorize" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val bounds = ev.groupBy(col("event_type"))
        .agg(percentile(col("value"), lit(0.01)).as("lo"),
             percentile(col("value"), lit(0.99)).as("hi"))
      ev.join(broadcast(bounds), Seq("event_type"))
        .withColumn("clipped",
          least(greatest(col("value"), col("lo")), col("hi")))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("value") < col("lo"), 1L).otherwise(0L)).as("n_lo"),
          sum(when(col("value") > col("hi"), 1L).otherwise(0L)).as("n_hi"),
          round(avg(col("value")), 4).as("avg_raw"),
          round(avg(col("clipped")), 4).as("avg_winsor"))
        .orderBy("event_type")
    }),
    // robust outlier screen: median/MAD per type (the mean/stddev pair
    // breaks down at a single wild value; median and MAD have 50%
    // breakdown — the robust-statistics standard for metric streams).
    // Flag |v − med| > 3·1.4826·MAD (1.4826 ≈ Φ⁻¹-consistency constant,
    // so the threshold reads "3 robust sigmas"). Same two-pass shape as
    // winsorize: each pass is one grouped agg broadcast back (the
    // per-type stats table is type-sized), the flag compare is map-side.
    // Comparisons use the UNROUNDED interpolated medians — winsorize's
    // strictly-between argument applies — and only the reported columns
    // round. At 100 TB swap the exact percentile for approx_percentile;
    // the oracle pins the exact form.
    "events_outliers_mad" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val med = ev.groupBy(col("event_type"))
        .agg(percentile(col("value"), lit(0.5)).as("med"))
      val mad = ev.join(broadcast(med), Seq("event_type"))
        .groupBy(col("event_type"), col("med"))
        .agg(percentile(abs(col("value") - col("med")), lit(0.5)).as("mad"))
      ev.join(broadcast(mad), Seq("event_type"))
        .groupBy(col("event_type"), col("med"), col("mad"))
        .agg(count(lit(1)).as("n"),
          sum(when(abs(col("value") - col("med")) >
            lit(3.0) * lit(1.4826) * col("mad"), 1L).otherwise(0L))
            .as("n_outliers"))
        .select(col("event_type"), col("n"), col("n_outliers"),
          round(col("med"), 6).as("med"), round(col("mad"), 6).as("mad_v"))
        .orderBy("event_type")
    }),
    // exact linear-interpolated percentiles per group.
    "agg_percentile" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(round(percentile(col("o_totalprice"), lit(0.5)), 4).as("p50"),
             round(percentile(col("o_totalprice"), lit(0.9)), 4).as("p90"),
             count(lit(1)).as("n"))
        .orderBy("o_orderpriority")),
    // quartile assignment per group, summarized (deterministic total order).
    "win_ntile" -> ((s, d) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(asc("o_totalprice"), asc("o_orderkey"))
      Tables.orders(s, d)
        .withColumn("quartile", ntile(4).over(w).cast("long"))
        .groupBy(col("o_orderpriority"), col("quartile"))
        .agg(count(lit(1)).as("n"),
             round(min(col("o_totalprice")), 2).as("lo"),
             round(max(col("o_totalprice")), 2).as("hi"))
        .orderBy("o_orderpriority", "quartile")
    }),
    // HLL++ sketch distinct — the 100 TB form of agg_distinct (one pass, no
    // per-key state explosion). Approximate ⇒ rows-only check, not oracle.
    "agg_approx_distinct" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(approx_count_distinct(col("user_id"), 0.02).as("n_users_approx"))
        .orderBy("event_type")),
    // Greenwald-Khanna sketch percentiles — the 100 TB form of
    // agg_percentile (bounded sketch state per group vs the exact form's
    // full sort). Approximate ⇒ rows-only; ContractSpec bounds the rank
    // error quantitatively, mirroring the HLL key's backing.
    "agg_approx_percentile" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .agg(round(percentile_approx(col("o_totalprice"), lit(0.5), lit(1000)), 4)
            .as("p50_approx"),
          round(percentile_approx(col("o_totalprice"), lit(0.9), lit(1000)), 4)
            .as("p90_approx"),
          count(lit(1)).as("n"))
        .orderBy("o_orderpriority")),
    // top-k: TakeOrderedAndProject (heap per partition, no global sort).
    "limit_topk" -> ((s, d) =>
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
        .limit(10)),
    // per-group MODE with a total tie-break (count desc, value asc) —
    // Spark's built-in `mode` is tie-nondeterministic, so the portable
    // form is count-per-(group, value) + a rank window over the tiny
    // (groups × distinct values) aggregate, never over the fact table.
    "agg_mode" -> ((s, d) => {
      val counts = Tables.lineitem(s, d)
        .groupBy(col("l_returnflag"), col("l_quantity"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy(col("l_returnflag"))
        .orderBy(desc("n"), asc("l_quantity"))
      counts.withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("l_returnflag"), col("l_quantity").as("mode_qty"),
          col("n"))
        .orderBy("l_returnflag")
    }),
    // MULTISET difference: every lineitem orderkey occurrence minus ONE
    // occurrence per urgent order — bag semantics (`exceptAll`), which
    // set_except_pending's DISTINCT form cannot express. Plans as a
    // count-aggregate + replicate (map-side partials absorb hot keys),
    // not a join.
    "set_except_all" -> ((s, d) => {
      val li = Tables.lineitem(s, d).select(col("l_orderkey").as("k"))
      val urgent = Tables.orders(s, d)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey").as("k"))
      li.exceptAll(urgent).orderBy("k")
    }),
    // MULTISET intersection: min of per-side multiplicities per key.
    "set_intersect_all" -> ((s, d) => {
      val all = Tables.lineitem(s, d).select(col("l_orderkey").as("k"))
      val heavy = Tables.lineitem(s, d)
        .filter(col("l_quantity") > 25)
        .select(col("l_orderkey").as("k"))
      all.intersectAll(heavy).orderBy("k")
    }),
    // MERGEABLE cardinality sketches (Apache DataSketches HLL, built into
    // Spark) — the warehouse pattern for incremental distinct counts at
    // 100 TB: one binary sketch per (event_type, day) partition,
    // persistable and re-aggregable, then hll_union_agg rolls days up to
    // event_type WITHOUT re-touching the fact table. agg_approx_distinct
    // answers one query; this materializes the reusable intermediate.
    // Gate: sketch updates are order-independent and deterministic, so
    // "merged estimate within 3% + 2 of exact" is a stable boolean the
    // DuckDB oracle predicts as constant true; the exact per-type count
    // rides along, making the row hash-comparable end to end.
    "agg_hll_sketch_merge" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val daySketches = ev
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(hll_sketch_agg(col("user_id"), 12).as("sk"))
      val merged = daySketches.groupBy(col("event_type"))
        .agg(hll_sketch_estimate(hll_union_agg(col("sk"), allowDifferentLgConfigK = false))
          .as("est"))
      val exact = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"))
      merged.join(exact, Seq("event_type"))
        .select(col("event_type"), col("n_users"),
          (abs(col("est") - col("n_users")) <= col("n_users") * 0.03 + lit(2.0))
            .as("within_tol"))
        .orderBy("event_type")
    }),
    // DISCRETE percentiles — the exact-SELECTION quantile family
    // (percentile_disc WITHIN GROUP): unlike the interpolating
    // percentile/approx keys, every output is a VALUE THAT EXISTS in
    // the data, so the gate needs no rounding at all. The oracle spells
    // out the definition (smallest value whose cume_dist reaches p)
    // instead of trusting DuckDB's quantile_disc indexing to agree on
    // even-count groups.
    "agg_percentile_disc" -> ((s, d) =>
      Tables.events(s, d).groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY value)").as("p25"),
          expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").as("p50"),
          expr("percentile_disc(0.75) WITHIN GROUP (ORDER BY value)").as("p75"))
        .orderBy("event_type")),
    // MERGEABLE frequency sketches (Count-Min, built into Spark) — the
    // companion to agg_hll_sketch_merge for POINT-FREQUENCY queries at
    // 100 TB: one small binary sketch per day partition, merged by
    // counter addition (integer sums — order-independent, so with a
    // fixed seed every estimate is a DETERMINISTIC integer), then any
    // item's frequency is answered from the merged sketch without
    // re-touching the fact table. The merged sketch and the probe list
    // are model-sized driver artifacts (same license as IVF centroids);
    // the verdict column rides a literal map so the emitted frame is
    // computed in Spark. Gate: CMS never underestimates and with a
    // fixed seed overshoot is a fixed integer ≤ ⌈eps·N⌉ here, so
    // "exact ≤ est ≤ exact + ⌈eps·N⌉" is a stable boolean the oracle
    // predicts as constant true; the exact top-5 heavy users ride
    // along, hash-comparable end to end.
    // SCOPE of the constant-true claim: the eps·N overshoot bound holds
    // per-probe only with the sketch's configured confidence (0.99); the
    // seed makes each estimate deterministic AT A GIVEN SF, and the
    // boolean has been verified at sf0.001 (spec) and sf0.01 (oracle
    // gate) — at an unverified larger SF a hash collision could flip it,
    // so treat it as validated at the oracle scales, not as a theorem.
    "agg_count_min" -> ((s, d) => {
      val ev = Tables.events(s, d)
      val daySketches = ev
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count_min_sketch(col("user_id"), lit(0.001), lit(0.99),
          lit(42)).as("sk"))
        .select("sk").collect().map(_.getAs[Array[Byte]](0))
      val merged = daySketches
        .map(b => org.apache.spark.util.sketch.CountMinSketch
          .readFrom(new java.io.ByteArrayInputStream(b)))
        .reduce((a, b) => a.mergeInPlace(b))
      val topk = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n_events"))
        .orderBy(col("n_events").desc, col("user_id")).limit(5)
      val users = topk.select("user_id").collect().map(_.getLong(0))
      val ests = users.map(u => merged.estimateCount(u))
      val bound = math.ceil(0.001 * ev.count()).toLong
      val estMap = map_from_arrays(typedLit(users.toSeq), typedLit(ests.toSeq))
      topk.withColumn("est", estMap(col("user_id")))
        .select(col("user_id"), col("n_events"),
          (col("est") >= col("n_events") &&
            col("est") <= col("n_events") + bound).as("within_tol"))
        .orderBy(col("n_events").desc, col("user_id"))
    })
  )

  /** Block width for the two-block trailing-window decomposition:
    * the window width itself (3600 preceding + current), so every
    * trailing window spans at most two blocks. */
  private[graft] val TrailingBlockW = 3601L


  /** SPARSE two-block compose (r16 optimization round, guide §2.3/§2.4
    * "shuffle fewer bytes / remove shuffles"): the same two-block
    * decomposition the r15 dense-grid form computed, but over the
    * BUCKET ROWS themselves instead of a dense per-second grid — the
    * dense grid existed only so the suffix of the previous block could
    * be found at a FIXED row offset (lag 3600); this form finds it
    * with an explicit PROBE row pinned at sec − 3600 instead, so the
    * grid-fill rows (span × types − buckets of them, ~99% of the grid
    * on the sf0.1 corpus) are never materialized, joined, or sorted.
    *
    * Construction: each bucket row explodes into itself plus one probe
    * at psec = sec − 3600 (probes are aggregate-neutral: cnt0 = 0,
    * mn/mx null). Blocks tile the epoch directly — blk = psec div
    * [[TrailingBlockW]] — no grid bounds collect needed (the tiling
    * base cancels out of every within-block aggregate). Cumulative
    * prefix (asc) and suffix (desc) aggregates within (event_type,
    * blk) give, at a real row, prefix = agg over [blockStart(sec),
    * sec], and at a probe, suffix = agg over [sec − 3600,
    * blockEnd(sec − 3600)] — the desc sort orders a probe AFTER the
    * real row at the same second (probe flag ascending), so a bucket
    * exactly at the window edge is included. Window width = block
    * width ⇒ the window spans at most two adjacent blocks:
    *   - sec − 3600 in the SAME block (only when sec is its block's
    *     last second): prefix alone is the window;
    *   - otherwise window = suffix(sec − 3600) ∪ prefix(sec), adjacent
    *     and disjoint, and seconds with no bucket contribute nothing —
    *     which is exactly why no dense fill is needed (an empty suffix
    *     reads sum 0 / min-max null, and least/greatest skip nulls,
    *     the same convention the dense compose relies on).
    * One groupBy on (event_type, src_sec) reunites each real row with
    * its probe — a single exchange; a self-join here would duplicate
    * the whole upstream subtree (scan → agg → windows) since Catalyst
    * does not share common subplans.
    *
    * Scale: window input is 2 × buckets ≤ 2 × span × types — bounded
    * by BOTH the corpus and the span, strictly tighter than the dense
    * grid's span × types at every density, and the 1-row bounds
    * collect (a driver job) is gone. Measured on the sf0.1 bench key:
    * 20.5 s → see OPTIMIZATION_r16.md; dense regime re-measured in
    * SCALE_r16_densewindow_auto_sparse.jsonl. Output is bit-identical to
    * the r15 dense-grid compose over the same buckets: ContractSpec pins
    * blocked ≡ bucketed row-for-row, and the key shares the bucketed
    * oracle verbatim. */
  private[graft] def sparseTwoBlockCompose(b: DataFrame): DataFrame = {
    // probe-row null literals take their types from the INPUT schema
    // (ADVICE r16 #4): hard-coding DOUBLE silently coerced (or failed
    // analysis for) any future caller whose value column is decimal/
    // float; the events table's mn/mx are double today, so this is
    // type-identical for every current caller.
    val mnNull = lit(null).cast(b.schema("mn").dataType)
    val mxNull = lit(null).cast(b.schema("mx").dataType)
    val rows = b
      .select(col("event_type"), col("sec"), col("cnt"), col("mn"),
        col("mx"), explode(array(lit(0), lit(1))).as("probe"))
      .select(col("event_type"), col("sec").as("src_sec"), col("probe"),
        when(col("probe") === 1, col("sec") - 3600)
          .otherwise(col("sec")).as("psec"),
        when(col("probe") === 1, lit(0L))
          .otherwise(col("cnt")).as("cnt0"),
        when(col("probe") === 1, mnNull)
          .otherwise(col("mn")).as("mn"),
        when(col("probe") === 1, mxNull)
          .otherwise(col("mx")).as("mx"))
      .withColumn("blk", expr(s"psec div $TrailingBlockW"))
    val wPre = Window.partitionBy(col("event_type"), col("blk"))
      .orderBy(col("psec"), col("probe"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wSuf = Window.partitionBy(col("event_type"), col("blk"))
      .orderBy(col("psec").desc, col("probe"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // one select for all six windowed columns → exactly two Window
    // nodes (one per sort order); a withColumn chain interleaves
    // re-sorts (the dense plan paid six Sorts for this reason)
    val agg = rows.select(col("event_type"), col("src_sec"), col("probe"),
      sum(col("cnt0")).over(wPre).as("pcnt"),
      min(col("mn")).over(wPre).as("pmn"),
      max(col("mx")).over(wPre).as("pmx"),
      sum(col("cnt0")).over(wSuf).as("scnt"),
      min(col("mn")).over(wSuf).as("smn"),
      max(col("mx")).over(wSuf).as("smx"))
    // each (type, src_sec) group holds exactly one real + one probe
    // row, so these conditional aggregates are selections, not folds
    val merged = agg.groupBy(col("event_type"), col("src_sec").as("sec"))
      .agg(max(when(col("probe") === 0, col("pcnt"))).as("pcnt"),
        min(when(col("probe") === 0, col("pmn"))).as("pmn"),
        max(when(col("probe") === 0, col("pmx"))).as("pmx"),
        max(when(col("probe") === 1, col("scnt"))).as("lscnt"),
        min(when(col("probe") === 1, col("smn"))).as("lsmn"),
        max(when(col("probe") === 1, col("smx"))).as("lsmx"))
    val oneBlock =
      expr(s"(sec - 3600) div $TrailingBlockW") ===
        expr(s"sec div $TrailingBlockW")
    merged.select(col("event_type"), col("sec"),
      when(oneBlock, col("pcnt"))
        .otherwise(col("lscnt") + col("pcnt")).as("n_1h"),
      round(when(oneBlock, col("pmn"))
        .otherwise(least(col("lsmn"), col("pmn"))), 6).as("min_1h"),
      round(when(oneBlock, col("pmx"))
        .otherwise(greatest(col("lsmx"), col("pmx"))), 6).as("max_1h"))
  }

  /** Routing cost model, FIT to the measured curves rather than a
    * single-point ratio (r16 crossover capture,
    * SCALE_r16_densewindow_crossover.jsonl + SCALE_r16_densewindow
    * .jsonl): the bucketed window's per-row cost is frame re-scan
    * PLUS a large per-row constant (sort + window bookkeeping that
    * dominates at sub-saturation density — a frame-only model
    * under-prices sparse buckets and mispredicted the measured
    * 100k-events/day point by 3×). Solving the three measured
    * bucketed points (10k/100k/1M events per day over one day:
    * 0.73 / 6.04 / 49.13 s) for t = J + nb·(frame + C)·u gives
    * C ≈ 3,170 re-scan units per bucket row and u ≈ 17 ns, with the
    * fitted J ≈ 0.28 s matching the observed job overhead; the
    * blocked form's 2.64 s over the same 432k grid rows then prices
    * at ≈ 327 units per dense-grid row. The dial compares
    * nb·(frame + C) against 327·span; both measured crossover sides
    * route correctly under it (10k/day → bucketed, 100k/day →
    * blocked), and far from the crossover any sane constants agree. */
  private[graft] val BucketedRowConstUnits = 3170.0

  /** r16-optimization re-fit for the SPARSE blocked form
    * (SCALE_r16_densewindow_sparse.jsonl + the 10k/100k re-capture):
    * the sparse compose has NO span term — its cost is
    * ≈ [[SparseBlockedRowUnits]] units per bucket (2 union rows × the
    * measured ~18-unit slope from the 100k→1M delta: +0.17 s over
    * +565k union rows at u ≈ 17 ns) plus a FIXED branch price
    * [[BlockedBranchFixedUnits]] (~0.9 s of extra stages: the
    * explode, two window sorts, the probe-rejoin groupBy — measured
    * as the blocked key's floor at 10k events/day, 1.99 s vs the
    * bucketed key's 1.34 s). Per-row the sparse compose beats even
    * the bucketed window's CONSTANT (36 ≪ 3,170), so the dial is no
    * longer a frame-size crossover: a type routes blocked as soon as
    * its modeled bucketed-excess work pays its share of the branch's
    * fixed price. */
  private[graft] val SparseBlockedRowUnits = 36.0
  private[graft] val BlockedBranchFixedUnits = 53e6

  /** Per-type route for the trailing-hour window: `stats` rows are
    * (event_type, nBuckets, min_sec, max_sec). The bucketed form pays
    * nBuckets × (E[frame buckets] + [[BucketedRowConstUnits]]) units
    * (Spark re-evaluates a sliding frame's CONTENTS per row — the
    * SCALE_r15 §3 finding — plus the fitted per-row constant), with
    * E[frame] = min(3600 × density, nBuckets); the sparse blocked
    * form pays [[SparseBlockedRowUnits]] × nBuckets plus its share of
    * the branch's fixed stage price, amortized over the types that
    * actually ROUTE blocked (ADVICE r16 #1: amortizing over ALL types
    * shrank the threshold to fixed/n while a lone borderline type
    * still paid the full branch price — a misroute toward blocked
    * when few types clear the dial). The winner set is found by
    * iterating to a fixpoint from the conservative end: first route
    * with the FULL fixed price (only types that pay for the branch
    * alone), then re-amortize over the current winners and re-route —
    * the set only grows, so the loop terminates, and an empty first
    * round stays all-bucketed (conservative toward bucketed, which
    * has no fixed branch of its own beyond the plan both share).
    * Reproduces every measured point: 10k/day → bucketed, 100k/day+ →
    * blocked, sf0.01 → bucketed, sf0.1 → blocked; ties go to
    * bucketed. */
  private[graft] def trailingRoutePlan(
      stats: Seq[(String, Long, Long, Long)]): Map[String, String] = {
    val gains = stats.map { case (t, nb, lo, hi) =>
      val span = (hi - lo + 1).toDouble
      val frame = math.min(3600.0 * nb / span, nb.toDouble)
      t -> nb * (frame + BucketedRowConstUnits - SparseBlockedRowUnits)
    }
    var winners = gains.filter(_._2 > BlockedBranchFixedUnits)
    var grown = true
    while (grown && winners.nonEmpty && winners.size < gains.size) {
      val next = gains.filter(
        _._2 > BlockedBranchFixedUnits / winners.size)
      grown = next.size > winners.size
      winners = next
    }
    val blocked = winners.map(_._1).toSet
    gains.map { case (t, _) =>
      t -> (if (blocked(t)) "blocked" else "bucketed")
    }.toMap
  }

  /** The auto-routed trailing-hour window (win_range_trailing_auto).
    * Buckets once (the input both forms share), computes per-type
    * density stats (one |types|-row collect — model-sized license),
    * routes each type via [[trailingRoutePlan]], and unions the two
    * branches: sparse types run the plain range window over their
    * buckets, dense types run the two-block linear composition —
    * since the r16 optimization round the SPARSE compose
    * ([[sparseTwoBlockCompose]] over the type-filtered buckets), so
    * the dense per-second grid, its per-type bounds machinery and the
    * offset fan-out join are gone from this branch too (auto 3.65 →
    * 2.02 s at 1M events/day, OPTIMIZATION_r16.md). The
    * bucket table feeds the stats agg and both branches —
    * localCheckpoint at the triple-evaluation boundary (standing
    * convention). */
  private[graft] def trailingHourAuto(s: SparkSession,
      events: DataFrame): DataFrame = {
    val ev = events
      .withColumn("sec", expr("unix_micros(ts) div 1000000"))
    val b = ev.groupBy(col("event_type"), col("sec"))
      .agg(count(lit(1)).as("cnt"), min(col("value")).as("mn"),
        max(col("value")).as("mx"))
      .localCheckpoint()
    val stats = b.groupBy(col("event_type"))
      .agg(count(lit(1)).as("nb"), min(col("sec")).as("lo"),
        max(col("sec")).as("hi"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    val plan = trailingRoutePlan(stats)
    val bucketedTypes = stats.collect {
      case (t, _, _, _) if plan(t) == "bucketed" => t }
    val blockedStats = stats.filter { case (t, _, _, _) =>
      plan(t) == "blocked" }
    val parts = Seq.newBuilder[DataFrame]
    if (bucketedTypes.nonEmpty || stats.isEmpty) {
      val base =
        if (stats.isEmpty) b
        else b.filter(col("event_type").isin(bucketedTypes: _*))
      val w = Window.partitionBy(col("event_type")).orderBy(col("sec"))
        .rangeBetween(-3600, Window.currentRow)
      parts += base.select(col("event_type"), col("sec"),
        sum(col("cnt")).over(w).as("n_1h"),
        round(min(col("mn")).over(w), 6).as("min_1h"),
        round(max(col("mx")).over(w), 6).as("max_1h"))
    }
    if (blockedStats.nonEmpty) {
      val blockedTypes = blockedStats.map { case (t, _, _, _) => t }
      parts += sparseTwoBlockCompose(
        b.filter(col("event_type").isin(blockedTypes: _*)))
    }
    parts.result().reduce(_.unionByName(_))
      .orderBy("event_type", "sec")
  }

  def oracle: Map[String, String] = Map(
    // the HLL gate: exact counts plus the deterministic-sketch tolerance
    // boolean, which the oracle predicts as constant true (see the query's
    // comment for why that is stable).
    "agg_hll_sketch_merge" ->
      """SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |       true AS within_tol
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // percentile_disc spelled out: smallest value whose cume_dist >= p.
    "agg_percentile_disc" ->
      """WITH c AS (
        |  SELECT event_type, value,
        |         cume_dist() OVER (PARTITION BY event_type ORDER BY value)
        |           AS cd
        |  FROM events)
        |SELECT event_type,
        |       (SELECT count(*) FROM events e
        |        WHERE e.event_type = c.event_type) AS n,
        |       min(CASE WHEN cd >= 0.25 THEN value END) AS p25,
        |       min(CASE WHEN cd >= 0.5 THEN value END) AS p50,
        |       min(CASE WHEN cd >= 0.75 THEN value END) AS p75
        |FROM c GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the CMS gate: exact top-5 heavy users plus the deterministic-sketch
    // bound boolean, constant true (see the query's comment).
    "agg_count_min" ->
      """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |       true AS within_tol
        |FROM events GROUP BY user_id
        |ORDER BY n_events DESC, user_id LIMIT 5""".stripMargin,
    "agg_string_agg" ->
      """SELECT o_orderstatus, count(*) AS n,
        |       string_agg(DISTINCT o_orderpriority, ','
        |                  ORDER BY o_orderpriority) AS priorities
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "win_cume_dist" ->
      """SELECT c_custkey, c_mktsegment, c_acctbal,
        |       round(cume_dist() OVER (PARTITION BY c_mktsegment
        |                               ORDER BY c_acctbal), 6) AS cd
        |FROM customer ORDER BY c_custkey""".stripMargin,
    "join_equi_hash" ->
      """SELECT c.c_custkey, c.c_name, count(o.o_orderkey) AS n_orders,
        |       round(sum(o.o_totalprice), 2) AS total_spent
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY c.c_custkey, c.c_name ORDER BY c.c_custkey""".stripMargin,
    "join_broadcast_dim" ->
      """SELECT r.r_name, n.n_name, count(*) AS n_cust,
        |       round(avg(c.c_acctbal), 4) AS avg_bal
        |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY r.r_name, n.n_name ORDER BY r.r_name, n.n_name""".stripMargin,
    "join_theta_range" ->
      """SELECT b.band, count(*) AS n, round(sum(o.o_totalprice), 2) AS total
        |FROM orders o JOIN (VALUES (0.0, 50000.0, 'low'),
        |  (50000.0, 150000.0, 'mid'), (150000.0, 1e12, 'high')) AS b(lo, hi, band)
        |ON o.o_totalprice >= b.lo AND o.o_totalprice < b.hi
        |GROUP BY b.band ORDER BY b.band""".stripMargin,
    "join_outer" ->
      """SELECT c.c_custkey, count(o.o_orderkey) AS n_orders
        |FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
        |GROUP BY c.c_custkey ORDER BY c.c_custkey""".stripMargin,
    "agg_group_by" ->
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       round(sum(l_extendedprice), 2) AS sum_base_price,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |       round(avg(l_quantity), 4) AS avg_qty,
        |       count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "agg_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "agg_rollup" ->
      """SELECT r.r_name, n.n_name, count(*) AS n_cust
        |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY ROLLUP (r.r_name, n.n_name)
        |ORDER BY r.r_name NULLS FIRST, n.n_name NULLS FIRST""".stripMargin,
    "agg_corr" ->
      """SELECT l_returnflag, count(*) AS n,
        |  round(corr(l_quantity, l_extendedprice), 6) AS r,
        |  round(covar_samp(l_quantity, l_extendedprice), 2) AS cov
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "agg_grouping_sets" ->
      """SELECT o_orderstatus, o_orderpriority, count(*) AS n,
        |       round(sum(o_totalprice), 2) AS total
        |FROM orders
        |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        |ORDER BY o_orderstatus NULLS FIRST,
        |         o_orderpriority NULLS FIRST""".stripMargin,
    // the conditional-sum form IS the pivot's semantics (one grouped
    // pass; absent cells count 0), so it mirrors the Spark plan too.
    "agg_pivot" ->
      """SELECT o_orderstatus,
        |  CAST(count(*) FILTER (o_orderpriority = '1-URGENT') AS BIGINT) AS urgent,
        |  CAST(count(*) FILTER (o_orderpriority = '2-HIGH') AS BIGINT) AS high,
        |  CAST(count(*) FILTER (o_orderpriority = '3-MEDIUM') AS BIGINT) AS medium,
        |  CAST(count(*) FILTER (o_orderpriority = '4-NOT SPECIFIED') AS BIGINT) AS not_specified,
        |  CAST(count(*) FILTER (o_orderpriority = '5-LOW') AS BIGINT) AS low
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "agg_unpivot" ->
      """WITH wide AS (
        |  SELECT n.n_name,
        |         CAST(count(*) AS DOUBLE) AS n_cust,
        |         round(avg(c.c_acctbal), 4) AS avg_bal,
        |         round(max(c.c_acctbal), 2) AS max_bal
        |  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |  GROUP BY n.n_name)
        |SELECT n_name, metric, value FROM (
        |  SELECT n_name, 'n_cust' AS metric, n_cust AS value FROM wide
        |  UNION ALL
        |  SELECT n_name, 'avg_bal', avg_bal FROM wide
        |  UNION ALL
        |  SELECT n_name, 'max_bal', max_bal FROM wide)
        |ORDER BY n_name, metric""".stripMargin,
    "agg_cube" ->
      """SELECT r.r_name, c.c_mktsegment, count(*) AS n_cust
        |FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
        |JOIN region r ON n.n_regionkey = r.r_regionkey
        |GROUP BY CUBE (r.r_name, c.c_mktsegment)
        |ORDER BY r.r_name NULLS FIRST, c.c_mktsegment NULLS FIRST""".stripMargin,
    "join_full_outer" ->
      """WITH c AS (SELECT c_custkey FROM customer WHERE c_custkey % 2 = 0),
        |o AS (SELECT o_custkey, count(*) AS n_orders FROM orders
        |      WHERE o_custkey % 3 = 0 GROUP BY o_custkey)
        |SELECT c.c_custkey, o.o_custkey, o.n_orders
        |FROM c FULL OUTER JOIN o ON c.c_custkey = o.o_custkey
        |ORDER BY c.c_custkey NULLS FIRST, o.o_custkey NULLS FIRST""".stripMargin,
    "agg_stats_events" ->
      """SELECT event_type, count(*) AS n,
        |       round(min(value), 6) AS min_v, round(max(value), 6) AS max_v,
        |       round(avg(value), 4) AS avg_v, round(stddev_samp(value), 4) AS sd_v
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "agg_percentile" ->
      """SELECT o_orderpriority,
        |       round(quantile_cont(o_totalprice, 0.5), 4) AS p50,
        |       round(quantile_cont(o_totalprice, 0.9), 4) AS p90,
        |       count(*) AS n
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "events_value_winsorize" ->
      """WITH b AS (
        |  SELECT event_type,
        |         quantile_cont(value, 0.01) AS lo,
        |         quantile_cont(value, 0.99) AS hi
        |  FROM events GROUP BY event_type)
        |SELECT e.event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN e.value < b.lo THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_lo,
        |  CAST(sum(CASE WHEN e.value > b.hi THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_hi,
        |  round(avg(e.value), 4) AS avg_raw,
        |  round(avg(least(greatest(e.value, b.lo), b.hi)), 4) AS avg_winsor
        |FROM events e JOIN b ON e.event_type = b.event_type
        |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin,
    // same two medians (quantile_cont interpolation matches Spark's
    // percentile), same unrounded threshold compare, same 3·1.4826 fold.
    "events_outliers_mad" ->
      """WITH m AS (
        |  SELECT event_type, quantile_cont(value, 0.5) AS med
        |  FROM events GROUP BY event_type),
        |md AS (
        |  SELECT e.event_type, m.med,
        |         quantile_cont(abs(e.value - m.med), 0.5) AS mad
        |  FROM events e JOIN m USING (event_type)
        |  GROUP BY e.event_type, m.med)
        |SELECT e.event_type, CAST(count(*) AS BIGINT) AS n,
        |       CAST(sum(CASE WHEN abs(e.value - md.med) >
        |                3.0 * 1.4826 * md.mad THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_outliers,
        |       round(md.med, 6) AS med, round(md.mad, 6) AS mad_v
        |FROM events e JOIN md USING (event_type)
        |GROUP BY e.event_type, md.med, md.mad
        |ORDER BY e.event_type""".stripMargin,
    "win_ntile" ->
      """SELECT o_orderpriority, quartile, count(*) AS n,
        |       round(min(o_totalprice), 2) AS lo,
        |       round(max(o_totalprice), 2) AS hi
        |FROM (SELECT o_orderpriority, o_totalprice,
        |        ntile(4) OVER (PARTITION BY o_orderpriority
        |          ORDER BY o_totalprice, o_orderkey) AS quartile
        |      FROM orders)
        |GROUP BY o_orderpriority, quartile
        |ORDER BY o_orderpriority, quartile""".stripMargin,
    "limit_topk" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "agg_mode" ->
      """SELECT l_returnflag, mode_qty, n FROM (
        |  SELECT l_returnflag, l_quantity AS mode_qty, count(*) AS n,
        |         row_number() OVER (PARTITION BY l_returnflag
        |           ORDER BY count(*) DESC, l_quantity) AS rk
        |  FROM lineitem GROUP BY l_returnflag, l_quantity)
        |WHERE rk = 1 ORDER BY l_returnflag""".stripMargin,
    "set_except_all" ->
      """SELECT * FROM (
        |  SELECT l_orderkey AS k FROM lineitem
        |  EXCEPT ALL
        |  SELECT o_orderkey AS k FROM orders
        |  WHERE o_orderpriority = '1-URGENT')
        |ORDER BY k""".stripMargin,
    "set_intersect_all" ->
      """SELECT * FROM (
        |  SELECT l_orderkey AS k FROM lineitem
        |  INTERSECT ALL
        |  SELECT l_orderkey AS k FROM lineitem WHERE l_quantity > 25)
        |ORDER BY k""".stripMargin
  )

  // ----- §2.5 window functions -----

  def windowQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // AUTO_INCREMENT as a window (olrcdb.py:40) — id over path order.
    "win_row_number_id" -> ((s, d) =>
      Manifest.fromDocuments(s, d).select("id", "path").orderBy("id")),
    // rank per group, top 3 orders per customer (ties broken by orderkey).
    "win_rank_topk" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(desc("o_totalprice"), asc("o_orderkey"))
      Tables.orders(s, d)
        .withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= 3)
        .select(col("o_custkey"), col("rnk"), col("o_orderkey"), col("o_totalprice"))
        .orderBy("o_custkey", "rnk")
    }),
    // running uploaded-count made relational (bulkupload.py:195-197).
    "win_running_total" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      daily.withColumn("running",
          sum(col("n")).over(Window.orderBy("day")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .orderBy("day")
    }),
    // Δcount vs previous day — set_speed's math (bulkupload.py:369-384).
    "win_lag_delta" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      daily.withColumn("delta",
          col("n") - lag(col("n"), 1).over(Window.orderBy("day")))
        .orderBy("day")
    }),
    // 7-day trailing moving average of the daily event rate — the
    // smoothing window every monitoring dashboard draws. The window runs
    // over the DAILY aggregate (one map-side-partial count reduces the
    // stream first), rows-frame so partial leading windows average the
    // rows that exist — identical semantics on both engines.
    "win_moving_avg" -> ((s, d) => {
      val daily = Tables.events(s, d)
        .groupBy(to_date(col("ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      daily.withColumn("ma7",
          round(avg(col("n")).over(Window.orderBy("day")
            .rowsBetween(-6, Window.currentRow)), 4))
        .orderBy("day")
    }),
    // trailing-HOUR sliding stats per event over a RANGE frame — "how
    // busy was this stream in the hour before this event": the frame is
    // keyed by TIME (epoch seconds, range [-3600, 0]), not row count,
    // so burstiness changes the frame size — the per-event form of the
    // rate monitor. RANGE peers (equal timestamps) enter the frame
    // identically on both engines. The gated stats are count/min/max —
    // SELECTIONS, exact regardless of evaluation order; a windowed
    // avg(value) is a float SUM whose engine-dependent order flips the
    // 4-dp rounding on ~1 row in 10k (measured), so it stays out of the
    // hash gate. Partitioned by event_type (never a global window); at
    // 100 TB a pathologically hot single type uses the pre-aggregated
    // bucket form (EventWindows.trendingCountsPreAgg pattern) —
    // per-second buckets first, window over buckets.
    "win_range_trailing" -> ((s, d) => {
      val sec = expr("unix_micros(ts) div 1000000")
      val w = Window.partitionBy(col("event_type")).orderBy(col("sec"))
        .rangeBetween(-3600, Window.currentRow)
      Tables.events(s, d)
        .withColumn("sec", sec)
        .select(col("event_id"), col("event_type"),
          count(lit(1)).over(w).as("n_1h"),
          round(min(col("value")).over(w), 6).as("min_1h"),
          round(max(col("value")).over(w), 6).as("max_1h"))
        .orderBy("event_id")
    }),
    // the 100 TB form of the trailing range window (r15, from the
    // SCALE_r15 §2 linear finding): pre-aggregate per (type, second)
    // FIRST — one hash agg with map-side partials — then run the
    // range window over the BUCKETS. count/min/max compose exactly
    // (the window's value over any second equals the per-event key's
    // value for events in that second), so this is the identical
    // statistic, but the window input is bounded by seconds × types
    // (86,400 × |types| per day) instead of the event count: at
    // billions of events/day the sort under the window no longer
    // scales with data at all. Below saturation the input still
    // grows with distinct (type, second) pairs — the sparse decade
    // reads 8.99× (SCALE_r15_events_sf1.jsonl) — the bound engages
    // once every second is occupied. The per-event key above stays
    // registered as the row-grain truth.
    "win_range_trailing_bucketed" -> ((s, d) => {
      val sec = expr("unix_micros(ts) div 1000000")
      val w = Window.partitionBy(col("event_type")).orderBy(col("sec"))
        .rangeBetween(-3600, Window.currentRow)
      Tables.events(s, d)
        .withColumn("sec", sec)
        .groupBy(col("event_type"), col("sec"))
        .agg(count(lit(1)).as("cnt"), min(col("value")).as("mn"),
          max(col("value")).as("mx"))
        .select(col("event_type"), col("sec"),
          sum(col("cnt")).over(w).as("n_1h"),
          round(min(col("mn")).over(w), 6).as("min_1h"),
          round(max(col("mx")).over(w), 6).as("max_1h"))
        .orderBy("event_type", "sec")
    }),
    // the LINEAR-TIME form of the same statistic (r15): Spark
    // re-evaluates min/max over a SLIDING frame's contents per row
    // (only growing frames update incrementally), so even the
    // bucketed key above pays O(buckets × frame) — measured 43.7 s at
    // 1M events/1 day, where the frame holds ~3,600 buckets. This
    // key uses the classic two-block sliding-window decomposition
    // instead: CUMULATIVE (incremental) prefix and suffix aggregates
    // within fixed 3,601-second blocks compose each trailing window
    // from exactly one suffix and one prefix — zero per-row frame
    // re-scans. r16 optimization: the compose runs SPARSE, directly
    // over the bucket rows plus one probe row per bucket at
    // sec − 3600 ([[sparseTwoBlockCompose]]) — the r15 dense
    // per-second grid existed only to make the previous block's
    // suffix a fixed lag-3600 offset, and its fill rows (~99% of
    // span × types on this corpus) paid three exchanges and six
    // sorts for rows that contribute nothing. Window input is now
    // 2 × buckets ≤ 2 × span × types: bounded by the corpus AND the
    // span — still flat at any 100 TB density, without the sparse-
    // regime grid tax. Output and oracle are the bucketed key's
    // verbatim (ContractSpec pins blocked ≡ bucketed row-for-row).
    "win_range_trailing_blocked" -> ((s, d) => {
      val b = Tables.events(s, d)
        .withColumn("sec", expr("unix_micros(ts) div 1000000"))
        .groupBy(col("event_type"), col("sec"))
        .agg(count(lit(1)).as("cnt"), min(col("value")).as("mn"),
          max(col("value")).as("mx"))
      sparseTwoBlockCompose(b).orderBy("event_type", "sec")
    }),
    // density-ADAPTIVE trailing window (r16, VERDICT r15 #1): a real
    // pipeline doesn't know its density a priori. This key measures
    // each type's density from the bucket stats the plan needs anyway
    // and routes PER TYPE between the bucketed range window and the
    // two-block compose on the measured cost model (the bpeLearnAuto /
    // dedup_embedding_ivf_auto dial precedent). Since the r16
    // optimization round the blocked branch is the SPARSE compose
    // (probe rows, no dense grid), whose cost has no span term at all
    // — the dial therefore routes on whether a type's modeled
    // bucketed-excess work (nb × (frame + const)) pays the blocked
    // branch's fixed stage price, reproducing every measured density
    // point (see trailingRoutePlan). Identical statistic at the
    // identical grain — the oracle is the bucketed key's verbatim.
    "win_range_trailing_auto" -> ((s, d) =>
      trailingHourAuto(s, Tables.events(s, d))),
    // first/last/nth-value per group over an EXPLICIT full frame —
    // "customer's first order value vs their latest vs their second".
    // The default frame (unbounded preceding → current row) makes
    // last_value echo the current row; the full frame is the form that
    // means what it says, and it's identical on both engines. Ordering
    // (o_orderdate, o_orderkey) is unique, so no value ambiguity.
    "win_first_last" -> ((s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.orders(s, d)
        .select(col("o_custkey"), col("o_orderkey"),
          first(col("o_totalprice")).over(w).as("first_price"),
          last(col("o_totalprice")).over(w).as("last_price"),
          nth_value(col("o_totalprice"), 2).over(w).as("second_price"))
        .orderBy("o_custkey", "o_orderkey")
    }),
    // relative standing within a group — percent_rank/cume_dist over a
    // UNIQUE ordering (totalprice, orderkey), so both are exact integer
    // ratios and the rounding never sits on an engine boundary.
    "win_percent_rank" -> ((s, d) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice"), col("o_orderkey"))
      Tables.orders(s, d)
        .select(col("o_orderpriority"), col("o_orderkey"),
          round(percent_rank().over(w), 6).as("pr"),
          round(cume_dist().over(w), 6).as("cd"))
        .orderBy("o_orderpriority", "o_orderkey")
    })
  )

  def windowOracle: Map[String, String] = Map(
    "win_row_number_id" ->
      """WITH manifest AS (
        |  SELECT CAST(row_number() OVER (ORDER BY source || '/doc_' || doc_id || '.txt') AS BIGINT) AS id,
        |         source || '/doc_' || doc_id || '.txt' AS path
        |  FROM documents)
        |SELECT id, path FROM manifest ORDER BY id""".stripMargin,
    "win_rank_topk" ->
      """SELECT o_custkey, rnk, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         CAST(row_number() OVER (PARTITION BY o_custkey
        |              ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rnk
        |  FROM orders)
        |WHERE rnk <= 3 ORDER BY o_custkey, rnk""".stripMargin,
    "win_running_total" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, count(*) AS n FROM events GROUP BY 1)
        |SELECT day, n, CAST(sum(n) OVER (ORDER BY day
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running
        |FROM daily ORDER BY day""".stripMargin,
    "win_lag_delta" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, count(*) AS n FROM events GROUP BY 1)
        |SELECT day, n, n - lag(n, 1) OVER (ORDER BY day) AS delta
        |FROM daily ORDER BY day""".stripMargin,
    "win_moving_avg" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day, count(*) AS n
        |  FROM events GROUP BY 1)
        |SELECT day, n, round(avg(n) OVER (ORDER BY day
        |  ROWS BETWEEN 6 PRECEDING AND CURRENT ROW), 4) AS ma7
        |FROM daily ORDER BY day""".stripMargin,
    // same epoch-second RANGE frame; 3600 PRECEDING is inclusive on
    // both engines, and RANGE peers (equal seconds) agree.
    "win_range_trailing" ->
      """SELECT event_id, event_type,
        |  CAST(count(*) OVER w AS BIGINT) AS n_1h,
        |  round(min(value) OVER w, 6) AS min_1h,
        |  round(max(value) OVER w, 6) AS max_1h
        |FROM (SELECT event_id, event_type, value,
        |        epoch_us(ts) // 1000000 AS sec FROM events)
        |WINDOW w AS (PARTITION BY event_type ORDER BY sec
        |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    // the bucketed form must equal the same statistic computed over
    // per-second buckets — sum-of-counts / min-of-mins / max-of-maxes
    // over the range window.
    "win_range_trailing_bucketed" ->
      """WITH b AS (
        |  SELECT event_type, epoch_us(ts) // 1000000 AS sec,
        |         CAST(count(*) AS BIGINT) AS cnt,
        |         min(value) AS mn, max(value) AS mx
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, sec,
        |  CAST(sum(cnt) OVER w AS BIGINT) AS n_1h,
        |  round(min(mn) OVER w, 6) AS min_1h,
        |  round(max(mx) OVER w, 6) AS max_1h
        |FROM b
        |WINDOW w AS (PARTITION BY event_type ORDER BY sec
        |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        |ORDER BY event_type, sec""".stripMargin,
    // the auto-routed form computes the IDENTICAL statistic at the
    // identical grain whichever way each type routes — the bucketed
    // key's oracle verbatim.
    "win_range_trailing_auto" ->
      """WITH b AS (
        |  SELECT event_type, epoch_us(ts) // 1000000 AS sec,
        |         CAST(count(*) AS BIGINT) AS cnt,
        |         min(value) AS mn, max(value) AS mx
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, sec,
        |  CAST(sum(cnt) OVER w AS BIGINT) AS n_1h,
        |  round(min(mn) OVER w, 6) AS min_1h,
        |  round(max(mx) OVER w, 6) AS max_1h
        |FROM b
        |WINDOW w AS (PARTITION BY event_type ORDER BY sec
        |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        |ORDER BY event_type, sec""".stripMargin,
    // the blocked (linear-time) form computes the IDENTICAL statistic
    // at the identical grain — same oracle as the bucketed key.
    "win_range_trailing_blocked" ->
      """WITH b AS (
        |  SELECT event_type, epoch_us(ts) // 1000000 AS sec,
        |         CAST(count(*) AS BIGINT) AS cnt,
        |         min(value) AS mn, max(value) AS mx
        |  FROM events GROUP BY 1, 2)
        |SELECT event_type, sec,
        |  CAST(sum(cnt) OVER w AS BIGINT) AS n_1h,
        |  round(min(mn) OVER w, 6) AS min_1h,
        |  round(max(mx) OVER w, 6) AS max_1h
        |FROM b
        |WINDOW w AS (PARTITION BY event_type ORDER BY sec
        |             RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        |ORDER BY event_type, sec""".stripMargin,
    "win_first_last" ->
      """SELECT o_custkey, o_orderkey,
        |  first_value(o_totalprice) OVER w AS first_price,
        |  last_value(o_totalprice) OVER w AS last_price,
        |  nth_value(o_totalprice, 2) OVER w AS second_price
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey
        |             ORDER BY o_orderdate, o_orderkey
        |             ROWS BETWEEN UNBOUNDED PRECEDING
        |                      AND UNBOUNDED FOLLOWING)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "win_percent_rank" ->
      """SELECT o_orderpriority, o_orderkey,
        |  round(percent_rank() OVER w, 6) AS pr,
        |  round(cume_dist() OVER w, 6) AS cd
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderpriority, o_orderkey""".stripMargin
  )
}
