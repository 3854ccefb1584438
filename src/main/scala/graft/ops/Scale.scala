package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.model.Tables

/** Scale-out mechanisms for operators whose naive form does not survive
  * 1000× data (SURVEY §7 "hard parts").
  */
object Scale {

  /** Spec observability: materialization counter of the range-sorted
    * partitions in the most recent [[assignIdsByRange]] call. ScaleSpec
    * asserts it equals the partition count after a full derivation — i.e.
    * the distributed sort ran exactly once, not once per pass. */
  private[graft] var lastSortScans: Option[org.apache.spark.util.LongAccumulator] = None

  /** Distributed dense-id assignment — the 100 TB form of
    * `row_number().over(Window.orderBy(key))`, which plans as a
    * single-partition sort (every row through one task).
    *
    * Here: range-repartition by the key (distributed total sort), then a
    * zipWithIndex-style two-phase pass — count rows per partition (tiny
    * job), prefix-sum the offsets on the driver, add the local index.
    * Ids depend only on the global key order, so they are identical to the
    * window form for any unique key (asserted in ScaleSpec) and stable
    * across cluster sizes/partition boundaries.
    *
    * The sorted input is persisted (MEMORY_AND_DISK) across the two
    * passes: the count pass materializes the sorted partitions into the
    * block store and the id pass reads them back, so the range shuffle's
    * reduce-side sort runs ONCE — at 100 TB the unpersisted form pays a
    * doubled full sort.
    *
    * With `cacheResult = true` (what memoizing callers like
    * Manifest.fromDocuments use) the RESULT frame is cached and
    * materialized here and the intermediate sorted RDD is released
    * immediately — the data is never stored twice. With the default, the
    * intermediate stays pinned so the returned lazy frame stays cheap,
    * and is released when the owning session ends ([[SessionCleanup]]);
    * callers that know when they are done use [[assignIdsByRangeCounted]]
    * and release it themselves.
    */
  def assignIdsByRange(df: DataFrame, key: String, idCol: String = "id",
      partitions: Int = 0, cacheResult: Boolean = false): DataFrame = {
    val AssignedIds(out, _, release) = assignIdsByRangeCounted(df, key, idCol, partitions)
    val spark = df.sparkSession
    if (cacheResult) {
      out.cache()
      out.count() // materialize the id'd frame, then drop the intermediate
      release()
      SessionCleanup.onEnd(spark) { out.unpersist(blocking = false) }
    } else {
      SessionCleanup.onEnd(spark) { release() }
    }
    out
  }

  /** An id-assigned frame, its row count, and `release`, which drops the
    * persisted range-sorted partitions the frame reads from (later actions
    * on `frame` recompute them). */
  final case class AssignedIds(frame: DataFrame, rows: Long, release: () => Unit)

  /** [[assignIdsByRange]]'s one implementation. The row count comes free
    * from the per-partition counts the offsets are built from, and the
    * caller owns the sorted intermediate: call `release()` once the frame
    * has been written or materialized. */
  def assignIdsByRangeCounted(df: DataFrame, key: String, idCol: String = "id",
      partitions: Int = 0): AssignedIds = {
    val spark = df.sparkSession
    val n = if (partitions > 0) partitions
      else spark.conf.get("spark.sql.shuffle.partitions", "8").toInt
    val sorted = df.repartitionByRange(n, col(key)).sortWithinPartitions(key)
    val schema = StructType(StructField(idCol, LongType, nullable = false)
      +: sorted.schema.fields)
    val scans = spark.sparkContext.longAccumulator("graft.assignIds.sortScans")
    lastSortScans = Some(scans)
    val rdd = sorted.rdd
      .mapPartitions({ it => scans.add(1); it }, preservesPartitioning = true)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val counts = rdd.mapPartitions(it => Iterator(it.size), preservesPartitioning = true)
      .collect()
    val offsets = counts.scanLeft(0L)(_ + _)
    val withIds = rdd.mapPartitionsWithIndex { (p, it) =>
      var i = offsets(p)
      it.map { r => i += 1; Row.fromSeq(i +: r.toSeq) }
    }
    AssignedIds(spark.createDataFrame(withIds, schema), offsets.last,
      () => { rdd.unpersist(blocking = false); () })
  }

  /** Salted equi-join for skewed keys: the large (skewed) side gets a
    * deterministic salt in [0, factor) derived from its whole row hash;
    * the small side is replicated `factor` times. The shuffle key becomes
    * (key, salt) so one hot key spreads over `factor` reducers instead of
    * melting one. (AQE's skew-join split does this adaptively for
    * sort-merge joins; explicit salting also covers aggregations and
    * pre-AQE planning.) Results are identical to the plain join —
    * asserted in ScaleSpec. */
  def saltedJoin(large: DataFrame, small: DataFrame, key: String,
      factor: Int): DataFrame = {
    val saltSrc = large.columns.map(col)
    val salted = large.withColumn("_salt",
      pmod(xxhash64(saltSrc: _*), lit(factor)).cast("int"))
    val replicated = small
      .withColumn("_salt", explode(sequence(lit(0), lit(factor - 1))))
      .withColumn("_salt", col("_salt").cast("int"))
    salted.join(replicated, Seq(key, "_salt")).drop("_salt")
  }

  /** Bucketed write: pre-shuffle a table once by its join key so every
    * later equi-join/aggregation on that key is exchange-free (the
    * bucketing metadata proves co-location to the planner). This is the
    * amortize-the-shuffle move for fact tables joined repeatedly on the
    * same key at 100 TB: pay one clustered write, skip the exchange in
    * every downstream job. Requires a saveAsTable (bucket info lives in
    * the catalog); see ScaleSpec for the exchange-free plan assertion. */
  def writeBucketed(df: DataFrame, table: String, key: String,
      buckets: Int): Unit =
    df.write.format("parquet")
      .bucketBy(buckets, key).sortBy(key)
      .mode("overwrite").saveAsTable(table)

  /** Two-level aggregation for skewed group keys: partial-aggregate on
    * (key, salt) first, then final on key. For algebraic aggregates this
    * is exactly what partial+final hash aggregation already does — this
    * form exists for aggregates whose per-key state is large (e.g.
    * collect-like), where the first level bounds state per reducer. */
  def saltedCount(df: DataFrame, key: String, factor: Int,
      countAs: String = "n"): DataFrame = {
    val salted = df.withColumn("_salt",
      pmod(xxhash64(df.columns.map(col): _*), lit(factor)).cast("int"))
    salted.groupBy(col(key), col("_salt")).agg(count(lit(1)).as("_pc"))
      .groupBy(col(key)).agg(sum(col("_pc")).cast("long").as(countAs))
  }

  /** Bucketed tables are written once per (session, sf dir) — the whole
    * point of bucketing is paying the clustered write once and skipping
    * the exchange in every later join. */
  private val bucketMemo =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String), (String, String)]()

  /** One conf-isolated child session per parent for join_bloom_prune,
    * memoized (ADVICE r8 #4: newSession-per-invocation accumulated a
    * SparkSession/SQLConf per bench run). The legacy/parity confs are
    * COPIED from the parent instead of hardcoded, so the child cannot
    * drift silently if the shared session's init changes; the bloom
    * confs themselves stay child-only by construction. */
  private val bloomSessionMemo = new java.util.concurrent.ConcurrentHashMap[
    SparkSession, SparkSession]()

  private def bloomSession(s0: SparkSession): SparkSession =
    bloomSessionMemo.computeIfAbsent(s0, { parent =>
      SessionCleanup.onEnd(parent) { bloomSessionMemo.remove(parent) }
      val s = parent.newSession()
      Seq("spark.sql.legacy.parquet.nanosAsLong",
        "spark.sql.session.timeZone").foreach { k =>
        parent.conf.getOption(k).foreach(v => s.conf.set(k, v))
      }
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      s.conf.set("spark.sql.optimizer.runtime.bloomFilter." +
        "applicationSideScanSizeThreshold", "0")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s
    })

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Pathologically skewed equi-join through the explicit salting
    // machinery: l_returnflag has 3 distinct values, so a plain shuffle
    // join lands ~1/3 of the fact table on ONE reducer each; saltedJoin
    // spreads every flag over `factor` (key, salt) reducers. The result
    // is identical to the plain join (also asserted in ScaleSpec) — here
    // it is oracle-gated against DuckDB's plain join.
    "join_salted_skew" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_returnflag").as("flag"), col("l_quantity"))
      val dim = Tables.lineitem(s, d)
        .select(col("l_returnflag").as("flag")).distinct()
        .withColumn("grp", concat(lit("grp_"), col("flag")))
      saltedJoin(li, dim, "flag", factor = 8)
        .groupBy("flag", "grp")
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
          count(lit(1)).as("n"))
        .orderBy("flag")
    }),
    // Co-located join through the bucketing machinery: orders and
    // customer are bucketed by custkey ONCE (amortized clustered write),
    // after which the equi-join needs no exchange on either side —
    // ScaleSpec asserts the exchange-free plan; here the RESULT is
    // oracle-gated against DuckDB's plain join.
    "join_bucketed_colocated" -> ((s, d) => {
      val (ot, ct) = bucketMemo.computeIfAbsent((s, d), { case (sp, dir) =>
        val suffix = java.lang.Long.toHexString(
          java.util.UUID.nameUUIDFromBytes(dir.getBytes("UTF-8"))
            .getMostSignificantBits & Long.MaxValue)
        val o = s"orders_bkt_$suffix"
        val c = s"customer_bkt_$suffix"
        writeBucketed(Tables.orders(sp, dir)
          .select(col("o_custkey"), col("o_totalprice")), o, "o_custkey", 8)
        writeBucketed(Tables.customer(sp, dir)
          .select(col("c_custkey"), col("c_mktsegment")), c, "c_custkey", 8)
        // capture the table locations NOW: at application end the SQL
        // path can silently no-op mid-shutdown, so fall back to deleting
        // the table directories directly.
        val warehouse = sp.conf.get("spark.sql.warehouse.dir", "")
          .stripPrefix("file:")
        SessionCleanup.onEnd(sp) {
          bucketMemo.remove((sp, dir))
          Seq(o, c).foreach { t =>
            try sp.sql(s"DROP TABLE IF EXISTS $t")
            catch { case _: Throwable => () }
            if (warehouse.nonEmpty)
              SessionCleanup.deleteRecursively(s"$warehouse/$t")
          }
        }
        (o, c)
      })
      s.table(ot).join(s.table(ct), col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(round(sum(col("o_totalprice")), 2).as("sum_price"),
          count(lit(1)).as("n"))
        .orderBy("c_mktsegment")
    }),
    // RUNTIME BLOOM-FILTER join pruning — the row-level sibling of
    // join_dpp_prune's directory pruning: when the build side of a
    // shuffle join is selective, Spark's InjectRuntimeFilter builds a
    // bloom filter over its join keys as a subquery and pushes a
    // might_contain(...) predicate into the PROBE side's scan, so most
    // fact rows die before the exchange instead of after it. At 100 TB
    // this fires by default (the probe side exceeds the 10 GB
    // application-side threshold); locally the thresholds are lowered
    // to demonstrate the SAME plan, and broadcast is disabled because
    // the rule only applies to shuffle joins. The confs live on an
    // ISOLATED child session (newSession shares the SparkContext but
    // owns its SQLConf) — they must be set at materialization time,
    // and leaking them into the shared session would perturb every
    // other key's plan. ScaleSpec asserts might_contain +
    // bloom_filter_agg in the executed plan; the oracle is the plain
    // join (runtime filtering must never change results).
    "join_bloom_prune" -> ((s0, d) => {
      val s = bloomSession(s0)
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d).filter(col("o_totalprice") > 400000)
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          round(sum(col("l_extendedprice")), 2).as("rev"))
        .orderBy("o_orderpriority")
    }),
    // Interval-overlap JOIN through binning — the scale pattern for
    // range joins (the genomics/telemetry cousin of join_theta_range):
    // a naive overlap join is a theta nested-loop over |A|·|B| pairs;
    // binning scatters each interval to the hour bins it covers (linear
    // in Σ bins-per-interval, bounded here by the 30-min session gap),
    // equi-joins on bin (hash join, shuffle keyed by bin), dedups the
    // pair, and verifies the EXACT overlap predicate on the candidates
    // only. Correct because two overlapping intervals always share the
    // bin of any common instant. Per-bin skew = concurrent sessions in
    // that hour — the salting machinery above applies if an hour goes
    // hot. The DuckDB oracle RUNS the naive theta form (its IEJoin):
    // the executable spec this plan must equal. Intervals are per-user
    // 30-min-gap session active spans [min ts, max ts] (the same
    // islands events_sessionize gates); output is overlapping
    // cross-user session-pair counts.
    "join_interval_overlap" -> ((s, d) => {
      val se = Tables.events(s, d)
        .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
        .agg(min(col("ts")).as("t0"), max(col("ts")).as("t1"))
        .select(col("user_id"), col("t0"), col("t1"))
      val h0 = floor(unix_timestamp(col("t0")) / 3600).cast("long")
      val h1 = floor(unix_timestamp(col("t1")) / 3600).cast("long")
      // both self-join sides read the binned sessions — checkpoint
      // once so the session_window aggregation runs once, not twice
      // (r16 optimization round; A/B-measured)
      val binned = se.select(col("user_id"), col("t0"), col("t1"),
        explode(sequence(h0, h1)).as("bin"))
        .localCheckpoint()
      val a = binned.select(col("bin"), col("user_id").as("user_a"),
        col("t0").as("a0"), col("t1").as("a1"))
      val b = binned.select(col("bin"), col("user_id").as("user_b"),
        col("t0").as("b0"), col("t1").as("b1"))
      a.join(b, Seq("bin"))
        .filter(col("user_a") < col("user_b") &&
          col("a0") <= col("b1") && col("b0") <= col("a1"))
        // session identity = (user, start): one user cannot start two
        // sessions at the same instant, so the dedup key is exact
        .select("user_a", "user_b", "a0", "b0").distinct()
        .groupBy("user_a", "user_b")
        .agg(count(lit(1)).as("n_overlaps"))
        .orderBy("user_a", "user_b")
    })
  )

  def oracle: Map[String, String] = Map(
    "join_salted_skew" ->
      """WITH dim AS (
        |  SELECT DISTINCT l_returnflag AS flag,
        |         'grp_' || l_returnflag AS grp
        |  FROM lineitem)
        |SELECT li.l_returnflag AS flag, d.grp AS grp,
        |       round(sum(li.l_quantity), 2) AS sum_qty,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM lineitem li JOIN dim d ON li.l_returnflag = d.flag
        |GROUP BY 1, 2 ORDER BY flag""".stripMargin,
    "join_bucketed_colocated" ->
      """SELECT c.c_mktsegment,
        |       round(sum(o.o_totalprice), 2) AS sum_price,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin,
    // the plain join: runtime bloom pruning must never change results.
    "join_bloom_prune" ->
      """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |       round(sum(l_extendedprice), 2) AS rev
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_totalprice > 400000
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,
    // the NAIVE theta overlap join (DuckDB plans it as an IEJoin) over
    // the same lag+cumsum session islands events_sessionize verifies —
    // the executable spec the binned candidate-routed plan must equal.
    "join_interval_overlap" ->
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
        |  SELECT user_id, min(ts) AS t0, max(ts) AS t1
        |  FROM g GROUP BY user_id, sid)
        |SELECT a.user_id AS user_a, b.user_id AS user_b,
        |       CAST(count(*) AS BIGINT) AS n_overlaps
        |FROM se a JOIN se b
        |  ON a.user_id < b.user_id AND a.t0 <= b.t1 AND b.t0 <= a.t1
        |GROUP BY 1, 2 ORDER BY user_a, user_b""".stripMargin
  )
}
