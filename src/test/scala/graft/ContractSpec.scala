package graft

import org.scalatest.funsuite.AnyFunSuite

/** Driver-contract invariants over the whole query registry. */
class ContractSpec extends AnyFunSuite with TempDirs {
  lazy val spark = TestSpark.spark

  test("every oracle entry has a query; keys are the SURVEY §2 names") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((o -- q).isEmpty, s"oracle without query: ${o -- q}")
    assert(q.nonEmpty && o.size >= 60)
  }

  test("no registry key is silently shadowed by the map concatenation") {
    import graft.ops._
    val parts = Seq(Relational.queries, Relational.windowQueries,
      PathFns.queries, Segments.queries, Text.queries, Dedup.queries,
      Similarity.queries, EventWindows.queries, Fingerprints.queries,
      Multimodal.queries, graft.sources.FsScan.queries, AsOf.queries,
      Scale.queries, graft.sources.Jdbc.queries,
      graft.sources.FileFormats.queries, CorpusPrep.queries,
      Sampling.queries, TermStats.queries, Profile.queries,
      Graphs.queries)
    val dupes = parts.flatMap(_.keys)
      .groupBy(identity).collect { case (k, vs) if vs.size > 1 => k }
    assert(dupes.isEmpty, s"keys registered twice (one shadows the other): $dupes")
    assert(SparkEntry.queries.size ==
      parts.map(_.size).sum + (SparkEntry.queries.keySet --
        parts.flatMap(_.keys).toSet).size)
  }

  test("every query is deterministic: two runs produce identical row sequences") {
    val flaky = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val a = fn(spark, TestSpark.sf0001).collect().map(_.toString).toSeq
      val b = fn(spark, TestSpark.sf0001).collect().map(_.toString).toSeq
      if (a == b) None else Some(name)
    }
    assert(flaky.isEmpty, s"nondeterministic queries: $flaky")
  }

  test("entry() returns at least one row at sf0.001 (t1 gate)") {
    assert(SparkEntry.entry(spark).count() >= 1)
  }

  test("funnel stages are monotone: view >= click-after-view >= " +
      "purchase-after-click, with real conversions present") {
    val rows = SparkEntry
      .queries("funnel_daily_conversion")(spark, TestSpark.sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (v, c, p) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(v >= c && c >= p, r)
    }
    assert(rows.map(_.getLong(2)).sum > 0, "no click-after-view conversions")
  }

  test("agg_grouping_sets covers both groupings plus the grand total in " +
      "one Expand pass") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("agg_grouping_sets")(spark, TestSpark.sf0001)
    val rows = out.collect()
    val orders = graft.model.Tables.orders(spark, TestSpark.sf0001)
    val nStatus = orders.select("o_orderstatus").distinct().count()
    val nPrio = orders.select("o_orderpriority").distinct().count()
    assert(rows.length == nStatus + nPrio + 1)
    val grand = rows.filter(r => r.isNullAt(0) && r.isNullAt(1))
    assert(grand.length == 1 && grand.head.getLong(2) == orders.count())
    // one scan, one Expand — not three separate aggregations
    val plan = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("Scan parquet".r.findAllIn(plan).length == 1, plan)
    assert(plan.contains("Expand"), plan)
  }

  test("win_range_trailing_bucketed (r15) is the EXACT per-event " +
      "statistic: every event's trailing-1h count/min/max equals the " +
      "bucketed key's value at that event's (type, second)") {
    import org.apache.spark.sql.functions._
    val perEvent = SparkEntry.queries("win_range_trailing")(
      spark, TestSpark.sf0001)
    val bucketed = SparkEntry.queries("win_range_trailing_bucketed")(
      spark, TestSpark.sf0001)
    val ev = graft.model.Tables.events(spark, TestSpark.sf0001)
      .select(col("event_id"),
        expr("unix_micros(ts) div 1000000").as("sec"))
    val joined = perEvent.join(ev, "event_id")
      .join(bucketed.withColumnRenamed("n_1h", "bn")
          .withColumnRenamed("min_1h", "bmin")
          .withColumnRenamed("max_1h", "bmax"),
        Seq("event_type", "sec"))
    assert(joined.count() == perEvent.count(),
      "every event must find its bucket row")
    assert(joined.filter(col("n_1h") =!= col("bn") ||
        col("min_1h") =!= col("bmin") ||
        col("max_1h") =!= col("bmax")).count() == 0,
      "bucketed values must equal the per-event window exactly")
    // the linear-time blocked form is the identical statistic at the
    // identical grain: row-for-row equal to the bucketed key
    val blocked = SparkEntry.queries("win_range_trailing_blocked")(
      spark, TestSpark.sf0001).collect().map(_.toString).toSeq
    val buck = bucketed.collect().map(_.toString).toSeq
    assert(blocked == buck,
      "blocked (two-block decomposition) must equal bucketed row-for-row")
  }

  test("win_range_trailing_auto (r16) routes per type on measured " +
      "density — hot type -> blocked, sparse type -> bucketed — and " +
      "equals the bucketed statistic exactly on the mixed input") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val base = 1700000000L // fixed epoch anchor: determinism
    // hot: every second of a 3-hour span occupied (3 events/sec) —
    // density 1 models a 3,600-bucket frame, far past the dial;
    // sparse: one event per 2 minutes over ~13 h — modeled frame ~30
    // buckets, far under it.
    val hot = spark.range(0L, 3L * 10800L).select(
      lit("hot").as("event_type"),
      (lit(base) + col("id") % 10800).as("sec"),
      (col("id") % 97).cast("double").as("value"))
    val sparse = spark.range(0L, 400L).select(
      lit("sparse").as("event_type"),
      (lit(base) + col("id") * 120).as("sec"),
      (col("id") % 89).cast("double").as("value"))
    val events = hot.unionByName(sparse)
      .select(col("event_type"),
        timestamp_seconds(col("sec")).as("ts"), col("value"))
    // 1) each type takes its predicted route: the plan is derived from
    // the same stats shape trailingHourAuto computes internally
    val st = events
      .withColumn("sec", expr("unix_micros(ts) div 1000000"))
      .groupBy(col("event_type"), col("sec"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("nb"), min(col("sec")).as("lo"),
        max(col("sec")).as("hi"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    val plan = graft.ops.Relational.trailingRoutePlan(st)
    assert(plan("hot") == "blocked",
      s"dense type must take the blocked route, got $plan")
    assert(plan("sparse") == "bucketed",
      s"sparse type must take the bucketed route, got $plan")
    // 2) auto ≡ bucketed row-for-row on the mixed input
    val w = Window.partitionBy(col("event_type")).orderBy(col("sec"))
      .rangeBetween(-3600, Window.currentRow)
    val expect = events
      .withColumn("sec", expr("unix_micros(ts) div 1000000"))
      .groupBy(col("event_type"), col("sec"))
      .agg(count(lit(1)).as("cnt"), min(col("value")).as("mn"),
        max(col("value")).as("mx"))
      .select(col("event_type"), col("sec"),
        sum(col("cnt")).over(w).as("n_1h"),
        round(min(col("mn")).over(w), 6).as("min_1h"),
        round(max(col("mx")).over(w), 6).as("max_1h"))
      .orderBy("event_type", "sec")
      .collect().map(_.toString).toSeq
    val got = graft.ops.Relational.trailingHourAuto(spark, events)
      .collect().map(_.toString).toSeq
    assert(got == expect,
      "auto must equal the bucketed statistic row-for-row")
    // 3) each type PHYSICALLY takes its route: the blocked branch is
    // the only one that explodes probe rows (a Generate node in the
    // plan — r16: the sparse compose replaced the dense-grid Range) —
    // present for the hot-only input, absent for sparse-only
    def planOf(df: org.apache.spark.sql.DataFrame): String =
      df.queryExecution.executedPlan.toString
    val hotOnly = events.filter(col("event_type") === "hot")
    val sparseOnly = events.filter(col("event_type") === "sparse")
    assert(planOf(graft.ops.Relational.trailingHourAuto(spark, hotOnly))
        .contains("Generate explode"),
      "the hot type must execute the blocked branch (probe-row Generate)")
    assert(!planOf(graft.ops.Relational
        .trailingHourAuto(spark, sparseOnly)).contains("Generate explode"),
      "the sparse type must execute the bucketed branch (no probe rows)")
  }

  test("agg_mode breaks count ties deterministically (lowest value wins) " +
      "and picks the true per-group maximum count") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // group g1: 7.0 ×2 vs 3.0 ×2 (tie -> 3.0), plus 9.0 ×1
    val df = Seq(("g1", 7.0), ("g1", 7.0), ("g1", 3.0), ("g1", 3.0),
      ("g1", 9.0), ("g2", 1.0)).toDF("l_returnflag", "l_quantity")
    val counts = df.groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(desc("n"), asc("l_quantity"))
    val out = counts.withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select("l_returnflag", "l_quantity", "n")
      .as[(String, Double, Long)].collect()
      .map { case (g, q, n) => g -> (q, n) }.toMap
    assert(out("g1") == (3.0, 2L))
    assert(out("g2") == (1.0, 1L))
  }

  test("exceptAll / intersectAll implement bag semantics: per-key counts " +
      "are max(a-b, 0) and min(a, b)") {
    import spark.implicits._
    val a = Seq(1L, 1L, 1L, 2L, 2L, 3L).toDF("k")
    val b = Seq(1L, 2L, 2L, 2L, 4L).toDF("k")
    val ex = a.exceptAll(b).as[Long].collect().groupBy(identity)
      .view.mapValues(_.length).toMap
    assert(ex == Map(1L -> 2, 3L -> 1)) // 3-1, 2-3->0, 1-0
    val in = a.intersectAll(b).as[Long].collect().groupBy(identity)
      .view.mapValues(_.length).toMap
    assert(in == Map(1L -> 1, 2L -> 2)) // min(3,1), min(2,3)
  }

  test("win_first_last full frame: last_value is the group's true last " +
      "(not a current-row echo) and nth_value(2) is NULL for " +
      "single-order customers") {
    val out = SparkEntry.queries("win_first_last")(spark, TestSpark.sf0001)
      .collect()
    val byCust = out.groupBy(_.getLong(0))
    assert(byCust.nonEmpty)
    byCust.foreach { case (cust, rows) =>
      // every row of a group reports the same first/last/second
      assert(rows.map(_.getDouble(2)).distinct.length == 1, s"cust $cust")
      assert(rows.map(_.getDouble(3)).distinct.length == 1, s"cust $cust")
      if (rows.length == 1)
        assert(rows.head.isNullAt(4), s"cust $cust second_price")
      else
        assert(!rows.head.isNullAt(4), s"cust $cust second_price")
    }
    // at least one multi-order customer exists and its first != last
    assert(byCust.exists { case (_, rows) =>
      rows.length > 1 && rows.head.getDouble(2) != rows.head.getDouble(3) })
  }

  test("agg_approx_distinct HLL error is within 3x the configured rsd " +
      "(quantitative backing for its no-oracle status)") {
    import org.apache.spark.sql.functions._
    val rsd = 0.02 // must match the registered query's parameter
    val joined = graft.model.Tables.events(spark, TestSpark.sf0001)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("exact"),
        approx_count_distinct(col("user_id"), rsd).as("approx"))
      .collect()
    assert(joined.nonEmpty)
    val bad = joined.filter { r =>
      val exact = r.getLong(1).toDouble
      math.abs(r.getLong(2) - exact) / exact > 3 * rsd
    }
    assert(bad.isEmpty, bad.mkString(","))
  }

  test("agg_hll_sketch_merge: day-sketch union estimates equal the " +
      "single-pass sketch (mergeability) and every row is within_tol") {
    import org.apache.spark.sql.functions._
    val rows = graft.SparkEntry.queries("agg_hll_sketch_merge")(
      spark, TestSpark.sf0001).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getBoolean(2)), "tolerance boolean must be true")
    // mergeability: union of per-day sketches == one sketch over all rows
    val ev = graft.model.Tables.events(spark, TestSpark.sf0001)
    val viaDays = ev.groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(hll_sketch_agg(col("user_id"), 12).as("sk"))
      .groupBy(col("event_type"))
      .agg(hll_sketch_estimate(
        hll_union_agg(col("sk"), allowDifferentLgConfigK = false)).as("est"))
    val onePass = ev.groupBy(col("event_type"))
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"), 12)).as("est"))
    val a = viaDays.orderBy("event_type").collect().map(r => (r.getString(0), r.getLong(1)))
    val b = onePass.orderBy("event_type").collect().map(r => (r.getString(0), r.getLong(1)))
    assert(a.sameElements(b))
  }

  test("agg_count_min: merged day-sketch estimates never underestimate, " +
      "overshoot respects the eps*N bound, and the result is stable " +
      "across runs (fixed seed, order-independent counters)") {
    val q = graft.SparkEntry.queries("agg_count_min")
    val rows = q(spark, TestSpark.sf0001).collect()
    assert(rows.length == 5)
    assert(rows.forall(_.getBoolean(2)), "bound boolean must be true")
    val again = q(spark, TestSpark.sf0001).collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      again.map(r => (r.getLong(0), r.getLong(1))).toSeq)
  }

  test("agg_approx_percentile rank error is within the sketch accuracy bound " +
      "(quantitative backing for its no-oracle status)") {
    import org.apache.spark.sql.functions._
    // accuracy=1000 guarantees rank error <= n/1000 per group; assert the
    // approximate quantile's RANK (not value) is within that bound + 1.
    val orders = graft.model.Tables.orders(spark, TestSpark.sf0001)
    val rows = orders.groupBy(col("o_orderpriority"))
      .agg(percentile_approx(col("o_totalprice"), lit(0.5), lit(1000)).as("p50a"),
        count(lit(1)).as("n"))
      .collect()
    assert(rows.nonEmpty)
    for (r <- rows) {
      val grp = r.getString(0)
      val p50a = r.getDouble(1)
      val n = r.getLong(2)
      val rank = orders.filter(col("o_orderpriority") === grp)
        .filter(col("o_totalprice") <= p50a).count()
      val target = 0.5 * n
      val tol = n / 1000.0 + 1
      assert(math.abs(rank - target) <= tol + 1,
        s"group=$grp rank=$rank target=$target tol=$tol")
    }
  }

  test("bench stdout artifact survives the driver's 2000-char tail capture " +
      "at absurd widths, parses as JSON, and stays self-consistent") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val keys = SparkEntry.queries.keys.toSeq.sorted
    // adversarial cases: huge uniform values; mixed widths; every query
    // failed (worst-case errors list); empty results
    val cases = Seq(
      (keys.map(_ -> 9999.999), Seq.empty[String]),
      (keys.zipWithIndex.map { case (k, i) => k -> (i % 7) * 1234.567 },
        keys.take(3)),
      (keys.map(_ -> -1.0), keys),
      (Seq.empty[(String, Double)], Seq.empty[String]))
    for ((results, errors) <- cases) {
      val line = Bench.artifactLine(results, runs = 3,
        sfDir = "/root/testdata/sf0.1", errors = errors,
        noise = 2.345, noiseRetried = true)
      // measured (BENCH_r01..r04.json): tail keep = 2000 chars, sbt's
      // "[success] Total time …" footer ~80 — the line must leave room
      assert(line.length <= 1500, s"artifact line ${line.length}B would truncate")
      val node = mapper.readTree(line) // throws on invalid JSON
      // total must be the LAST field (a head-truncated capture keeps it)
      assert(line.endsWith("}") && line.lastIndexOf("\"value\":") >
        line.lastIndexOf("\"queries\":"))
      // the noise sentinel (r7): window-quality spread + retried flag
      // must ride every line so a bad window is readable off the artifact
      assert(math.abs(node.get("noise").asDouble() - 2.345) < 1e-9)
      assert(node.get("noise_retried").asBoolean())
      // self-consistency: value == sum(named queries) + omitted_sum
      val named = node.get("queries").fields()
      var sum = 0.0
      while (named.hasNext) sum += named.next().getValue.asDouble()
      val expect = results.filter(_._2 >= 0).map(_._2).sum
      assert(math.abs(sum + node.get("omitted_sum").asDouble()
        - expect) < 0.01 * (results.size + 1),
        s"value inconsistent with queries+omitted_sum")
      assert(node.get("errors_n").asInt() == errors.size)
      assert(node.get("nq").asInt() == results.size)
    }
    // the named entries must be the MOST EXPENSIVE ones, not arbitrary
    val mixed = keys.zipWithIndex.map { case (k, i) => k -> i.toDouble }
    val line = Bench.artifactLine(mixed, 3, "/root/testdata/sf0.1", Nil)
    val node = mapper.readTree(line)
    val namedVals = {
      val it = node.get("queries").fields()
      val b = scala.collection.mutable.Buffer[Double]()
      while (it.hasNext) b += it.next().getValue.asDouble()
      b
    }
    assert(namedVals.nonEmpty && namedVals.min >
      mixed.size - namedVals.size - 1.0,
      "compact line must name the largest queries first")
  }

  test("bench full artifact carries every query and both totals") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val keys = SparkEntry.queries.keys.toSeq.sorted
    val results = keys.map(_ -> 1.5)
    val build = keys.map(_ -> 2.5)
    val full = Bench.fullArtifact(results, build, 3, "/root/testdata/sf0.1",
      "32", Seq.empty, noise = 1.08, trendGuard = "armed")
    val node = mapper.readTree(full)
    assert(node.get("queries").size() == keys.size)
    assert(node.get("build").size() == keys.size)
    assert(math.abs(node.get("value").asDouble() - 1.5 * keys.size) < 0.01)
    assert(math.abs(node.get("build_total").asDouble() - 2.5 * keys.size) < 0.01)
    assert(math.abs(node.get("noise").asDouble() - 1.08) < 1e-9)
    assert(!node.get("noise_retried").asBoolean())
    // window-factor-gated retry record (r17): the full artifact carries
    // whether the timed phase reran for a uniformly-contended window
    // (spread quiet, probes slow — the r16 driver capture at wf 1.475)
    // and the first phase's probe factor, so a wf-retried capture is
    // self-describing; defaults read as an un-retried pass.
    assert(!node.get("wf_retried").asBoolean())
    val wfArt = Bench.fullArtifact(results, build, 3,
      "/root/testdata/sf0.1", "32", Seq.empty, noise = 1.0,
      trendGuard = "armed", wfRetried = true, wfFirst = 1.62)
    val wfNode = mapper.readTree(wfArt)
    assert(wfNode.get("wf_retried").asBoolean())
    assert(math.abs(wfNode.get("wf_first").asDouble() - 1.62) < 1e-9)
  }

  test("per-key bench trend guard flags >2.5x regressions against the " +
      "previous committed artifact and rides both artifact forms") {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    // parser round-trip: the guard reads OUR OWN artifact format
    val prevJson = Bench.fullArtifact(
      Seq("q_fast" -> 0.2, "q_slow" -> 1.0, "q_tiny" -> 0.01,
        "q_gone" -> 0.4),
      Seq("q_fast" -> 0.3), 3, "/root/testdata/sf0.1", "32", Seq.empty,
      trendGuard = "armed")
    val prev = Bench.parsePrevQueries(prevJson)
    assert(prev == Map("q_fast" -> 0.2, "q_slow" -> 1.0,
      "q_tiny" -> 0.01, "q_gone" -> 0.4))
    // guard semantics: flags only real regressions —
    //  q_fast 0.2 -> 0.9 (4.5x)  FLAGGED
    //  q_slow 1.0 -> 1.2 (1.2x)  fine
    //  q_tiny 0.01 -> 0.2        below the 50 ms jitter floor on prev
    //  q_new  (no prior value)   cannot regress
    val cur = Seq("q_fast" -> 0.9, "q_slow" -> 1.2, "q_tiny" -> 0.2,
      "q_new" -> 5.0)
    val regr = Bench.regressionsOf(prev, cur)
    assert(regr == Seq(("q_fast", 0.2, 0.9)), regr)
    // a clean window yields an empty list
    assert(Bench.regressionsOf(prev,
      Seq("q_fast" -> 0.25, "q_slow" -> 0.8)).isEmpty)
    // FLOOR-AWARE flags (VERDICT r11 "Next round" #5): with a probe
    // floor armed, a key must ALSO exceed K× the pass's probe time —
    // q_fast's 0.9 s clears a 0.3 s probe floor (still flagged), but a
    // 100 ms -> 280 ms burst (2.8x, above the 50 ms jitter floor, the
    // exact shape that burned the r10/r11 adjudication cycles) does
    // not clear it and must NOT flag; the same burst on a 3 s-scale
    // key still flags. probeFloor = 0 preserves the pre-r12 behavior.
    val burstPrev = prev + ("q_small" -> 0.1) + ("q_big" -> 3.0)
    val burstCur = Seq("q_fast" -> 0.9, "q_small" -> 0.28, "q_big" -> 9.0)
    assert(Bench.regressionsOf(burstPrev, burstCur, probeFloor = 0.3)
      == Seq(("q_fast", 0.2, 0.9), ("q_big", 3.0, 9.0))
        .sortBy { case (_, p, n) => -(n / p) })
    assert(Bench.regressionsOf(burstPrev, burstCur)
      .map(_._1).contains("q_small"),
      "without the floor the burst would have flagged — the floor is " +
        "doing real work")
    // floor-SUPPRESSED flags are visible (ADVICE r12 #4): exactly the
    // keys the floor swallowed, in the artifact under its own field —
    // q_small (0.1 -> 0.28, 2.8x, under the 0.3 floor) is suppressed;
    // q_big cleared the floor so it is NOT in the suppressed list.
    val suppressed = Bench.floorSuppressedOf(burstPrev, burstCur,
      probeFloor = 0.3)
    assert(suppressed == Seq(("q_small", 0.1, 0.28)), suppressed)
    assert(Bench.floorSuppressedOf(burstPrev, burstCur).isEmpty,
      "no probe floor -> nothing suppressed")
    val supArt = Bench.fullArtifact(burstCur, Nil, 3,
      "/root/testdata/sf0.1", "32", Seq.empty, trendGuard = "armed",
      floorSuppressed = suppressed)
    val sn = mapper.readTree(supArt)
    assert(sn.get("regr_floor_suppressed").size() == 1)
    assert(sn.get("regr_floor_suppressed").get(0).get("q").asText()
      == "q_small")
    // host-aware quiet base (ADVICE r12 #3): same host -> the
    // committed probe IS the base even above the pin (slower hardware,
    // not contention); pin-lineage host keeps the pin as lower bound;
    // host mismatch -> committed probe wins only when under the pin.
    assert(Bench.quietBaseOf(Some(0.9), Some("slowbox"), "slowbox")
      == ((0.9, "committed_probe_host")))
    assert(Bench.quietBaseOf(Some(0.9), Some("localhost"), "localhost")
      == ((Bench.ProbeQuietSec, "pin")),
      "a contended committed capture on the pin lineage must not " +
        "ratchet the base upward")
    assert(Bench.quietBaseOf(Some(0.2), Some("localhost"), "localhost")
      == ((0.2, "committed_probe_host")))
    assert(Bench.quietBaseOf(Some(0.9), Some("boxA"), "boxB")
      == ((Bench.ProbeQuietSec, "pin")))
    assert(Bench.quietBaseOf(Some(0.2), Some("boxA"), "boxB")
      == ((0.2, "committed_probe")))
    assert(Bench.quietBaseOf(Some(0.2), None, "boxB")
      == ((0.2, "committed_probe")))
    assert(Bench.quietBaseOf(None, Some("boxB"), "boxB")
      == ((Bench.ProbeQuietSec, "pin")))
    // probe-minimum parser: reads our own artifact's probe fields,
    // None on absent/non-positive values
    val probedArtifact = Bench.fullArtifact(cur, Nil, 3,
      "/root/testdata/sf0.1", "32", Seq.empty, trendGuard = "armed",
      probeStart = 0.41, probeEnd = 0.35)
    assert(Bench.parseProbeMin(probedArtifact).contains(0.35))
    assert(Bench.parseProbeMin("""{"queries":{}}""").isEmpty)
    assert(Bench.parseProbeMin(
      """{"probe_start":-1.0,"probe_end":-1.0}""").isEmpty)
    // the artifact records the quiet base, its source, and the host —
    // a cross-host reader can see when the factor is not comparable
    val based = Bench.fullArtifact(cur, Nil, 3, "/root/testdata/sf0.1",
      "32", Seq.empty, trendGuard = "armed", quietBase = 0.31,
      quietSrc = "committed_probe", host = "boxA")
    val bnode = mapper.readTree(based)
    assert(math.abs(bnode.get("probe_quiet_base").asDouble() - 0.31) < 1e-9)
    assert(bnode.get("probe_quiet_src").asText() == "committed_probe")
    assert(bnode.get("host").asText() == "boxA")
    // the full artifact names the offenders; the stdout line counts them
    val full = Bench.fullArtifact(cur, Nil, 3, "/root/testdata/sf0.1",
      "32", Seq.empty, regressions = regr, trendGuard = "armed")
    val fnode = mapper.readTree(full)
    assert(fnode.get("regressions").size() == 1)
    assert(fnode.get("regressions").get(0).get("q").asText() == "q_fast")
    assert(math.abs(fnode.get("regressions").get(0).get("prev").asDouble()
      - 0.2) < 1e-9)
    val line = Bench.artifactLine(cur, 3, "/root/testdata/sf0.1", Nil,
      regrN = regr.size)
    assert(mapper.readTree(line).get("regr_n").asInt() == 1)
    // malformed / absent prior artifact disables the guard, not the run
    assert(Bench.parsePrevQueries("not json at all").isEmpty)
    assert(Bench.regressionsOf(Map.empty, cur).isEmpty)
    // like-for-like only (ADVICE r8 #3): a prior artifact captured at a
    // different sf or core count disables the guard; a matching one
    // (or an unchecked call) keeps it armed
    assert(Bench.parsePrevQueries(prevJson,
      Some("/root/testdata/sf0.01"), Some("32")).isEmpty)
    assert(Bench.parsePrevQueries(prevJson,
      Some("/root/testdata/sf0.1"), Some("8")).isEmpty)
    assert(Bench.parsePrevQueries(prevJson,
      Some("/root/testdata/sf0.1"), Some("32")) == prev)
    assert(Bench.envMatches(prevJson, "/root/testdata/sf0.1", "32"))
    assert(!Bench.envMatches(prevJson, "/root/testdata/sf0.01", "32"))
    // a DISABLED guard is visible in the artifact itself — a guard-off
    // capture can never masquerade as a guarded clean run
    val offArtifact = Bench.fullArtifact(cur, Nil, 3,
      "/root/testdata/sf0.01", "32", Seq.empty,
      trendGuard = "off_env_mismatch")
    assert(mapper.readTree(offArtifact).get("trend_guard").asText()
      == "off_env_mismatch")
    assert(mapper.readTree(full).get("trend_guard").asText() == "armed")
  }

  test("bench trend-guard baseline prefers the COMMITTED artifact over " +
      "the on-disk ratchet, in order pinned > committed > disk") {
    // VERDICT r10 "What's wrong" #2: the on-disk BENCH_FULL.json is
    // overwritten by every full run, so guarding against it RATCHETS
    // the baseline across same-session captures. The guard must read
    // the last COMMITTED artifact — only a deliberate `git commit`
    // moves that — with the disk file as a git-less fallback and an
    // explicitly pinned path trumping both.
    val dir = new java.io.File(tempDir("graft-benchbase"))
    def sh(cmd: String*): Unit = {
      val p = new ProcessBuilder(cmd: _*).directory(dir)
        .redirectErrorStream(true).start()
      val out = new String(p.getInputStream.readAllBytes(), "UTF-8")
      assert(p.waitFor() == 0, s"${cmd.mkString(" ")}: $out")
    }
    def put(name: String, content: String): String = {
      val f = new java.io.File(dir, name)
      java.nio.file.Files.write(f.toPath, content.getBytes("UTF-8"))
      f.getPath
    }
    val full = new java.io.File(dir, "BENCH_FULL.json").getPath
    // nothing anywhere (tmp dir is outside any git repo) → disk, empty
    assert(Bench.baselineContent(full, None) == (("disk", None)))
    // disk file but still no repo → disk fallback carries it
    put("BENCH_FULL.json", "DISK_V1")
    assert(Bench.baselineContent(full, None) == (("disk", Some("DISK_V1"))))
    // commit, then overwrite the working file: the COMMITTED content
    // wins — a same-session rerun can no longer move the baseline
    sh("git", "init", "-q")
    sh("git", "add", "BENCH_FULL.json")
    sh("git", "-c", "user.email=t@t", "-c", "user.name=t",
      "commit", "-qm", "baseline")
    put("BENCH_FULL.json", "DISK_RATCHETED")
    assert(Bench.baselineContent(full, None)
      == (("committed", Some("DISK_V1"))))
    // an explicitly pinned baseline trumps both
    val pin = put("pin.json", "PINNED")
    assert(Bench.baselineContent(full, Some(pin))
      == (("pinned", Some("PINNED"))))
    // a pinned path that doesn't exist stays labeled pinned (visible),
    // not silently downgraded to another source
    assert(Bench.baselineContent(full,
      Some(new java.io.File(dir, "absent.json").getPath))
      == (("pinned", None)))
  }

  test("events_sessionize accounts for every event and session, and " +
      "agrees with the streaming session-window definition") {
    import org.apache.spark.sql.functions._
    val ev = graft.model.Tables.events(spark, TestSpark.sf0001)
    val out = SparkEntry.queries("events_sessionize")(spark, TestSpark.sf0001)
      .collect()
    // every event lands in exactly one session of exactly one user
    assert(out.map(_.getLong(2)).sum == ev.count())
    // session count agrees with the session_window grouping itself
    val nSessions = ev.groupBy(session_window(col("ts"), "30 minutes"),
      col("user_id")).count().count()
    assert(out.map(_.getLong(1)).sum == nSessions)
    out.foreach { r =>
      // (user_id, n_sessions, n_events, events_per_session,
      //  active_secs, max_session_events)
      assert(r.getLong(5) <= r.getLong(2)) // max session <= user's events
      assert(r.getLong(4) >= 0L)           // active span non-negative
      assert(math.abs(r.getDouble(3) -
        r.getLong(2).toDouble / r.getLong(1)) < 1e-3)
    }
  }

  test("events_bot_score covers exactly the multi-gap users, cv is " +
      "sd/mean of floored gaps, and the flag thresholds the rounded cv") {
    import org.apache.spark.sql.functions._
    val ev = graft.model.Tables.events(spark, TestSpark.sf0001)
    val out = SparkEntry.queries("events_bot_score")(spark, TestSpark.sf0001)
      .collect()
    val eligible = ev.groupBy("user_id").count()
      .filter(col("count") >= 3).count()
    assert(out.length == eligible)
    out.foreach { r =>
      val (nGaps, mean, sd) = (r.getLong(1), r.getDouble(2), r.getDouble(3))
      assert(nGaps >= 2 && mean >= 0 && sd >= 0)
      if (!r.isNullAt(4)) {
        val cv = r.getDouble(4)
        assert(math.abs(cv - sd / mean) <= 5.000001e-7)
        assert(r.getBoolean(5) == (cv < 0.3))
      } else assert(!r.getBoolean(5))
    }
  }

  test("events_forecast_snaive scores only the final week, mae is " +
      "bounded by the worst hourly jump, and a planted perfectly-" +
      "seasonal stream backtests to mae 0") {
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("events_forecast_snaive")(
      spark, TestSpark.sf0001).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getLong(1) >= 1 && r.getLong(1) <= 168) // final-week hours
      assert(r.getDouble(2) >= 0.0)                    // mae
      assert(r.getDouble(3) > 0.0)                     // mean level
    }
    // hand stream: one event type, identical hourly pattern for 3 weeks
    // -> the lag-168 forecast is exact, mae 0 for every scored hour
    import spark.implicits._
    val rows = for {
      week <- 0 until 3; hod <- 0 until 168 by 7; rep <- 0 to (hod % 3)
    } yield (week * 168L * 3600 + hod * 3600L + rep, "tick")
    val ev = rows.toDF("secs", "event_type")
      .select(timestamp_seconds(col("secs")).as("ts"), col("event_type"),
        lit(0L).as("user_id"), lit(0L).as("event_id"), lit(0.0).as("value"))
    val got = graft.ops.EventWindows.seasonalNaiveBacktest(ev).collect()
    assert(got.length == 1 && got.head.getDouble(2) == 0.0, got.toSeq)
  }

  test("events_rfm partitions every user into the 4x4x4 grid and " +
      "events_seasonality accounts for every event") {
    import org.apache.spark.sql.functions._
    val ev = graft.model.Tables.events(spark, TestSpark.sf0001)
    val rfm = SparkEntry.queries("events_rfm")(spark, TestSpark.sf0001)
      .collect()
    assert(rfm.map(_.getLong(3)).sum ==
      ev.select(countDistinct(col("user_id"))).head().getLong(0))
    rfm.foreach { r =>
      Seq(r.getLong(0), r.getLong(1), r.getLong(2)).foreach(q =>
        assert(q >= 1 && q <= 4, r))
    }
    val sea = SparkEntry.queries("events_seasonality")(spark, TestSpark.sf0001)
      .collect()
    assert(sea.map(_.getLong(2)).sum == ev.count())
    sea.foreach { r =>
      assert(r.getLong(0) >= 0 && r.getLong(0) <= 6, r)
      assert(r.getLong(1) >= 0 && r.getLong(1) <= 23, r)
    }
  }

  test("events_user_paths counts planted trigrams exactly (window-lead " +
      "form vs hand enumeration)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // user 1: a,b,c,d -> a>b>c, b>c>d ; user 2: a,b,c -> a>b>c ; user 3: a,b
    val ev = Seq(
      (1L, 1L, "a"), (2L, 1L, "b"), (3L, 1L, "c"), (4L, 1L, "d"),
      (5L, 2L, "a"), (6L, 2L, "b"), (7L, 2L, "c"),
      (8L, 3L, "a"), (9L, 3L, "b"))
      .toDF("event_id", "user_id", "event_type")
      .withColumn("ts", timestamp_seconds(col("event_id") * 60))
    val got = graft.ops.EventWindows.userPathTrigrams(ev)
      .as[(String, Long)].collect().toMap
    assert(got == Map("a>b>c" -> 2L, "b>c>d" -> 1L))
  }

  test("agg_string_agg lists each group's priorities sorted; " +
      "win_cume_dist tops out at exactly 1 in every segment") {
    import org.apache.spark.sql.functions._
    SparkEntry.queries("agg_string_agg")(spark, TestSpark.sf0001)
      .collect().foreach { r =>
        val parts = r.getString(2).split(",").toSeq
        assert(parts == parts.sorted && parts == parts.distinct, r)
      }
    val cd = SparkEntry.queries("win_cume_dist")(spark, TestSpark.sf0001)
    val bySeg = cd.groupBy(col("c_mktsegment"))
      .agg(max(col("cd")).as("mx"), min(col("cd")).as("mn")).collect()
    bySeg.foreach { r =>
      assert(r.getDouble(1) == 1.0, r)
      assert(r.getDouble(2) > 0.0, r)
    }
  }
}
