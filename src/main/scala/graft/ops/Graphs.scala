package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.Tables

/** Iterative graph analytics over the corpus link graph (EXT) —
  * PageRank centrality and triangle counting.
  *
  * Grounding: the reference walks a filesystem TREE (prepareupload.py's
  * os.walk) — the degenerate graph. A crawl-fed corpus is a general
  * directed graph, and the two classic graph signals a training-data
  * pipeline wants are (a) PageRank, the canonical page-quality prior
  * (pages with high centrality are disproportionately boilerplate hubs
  * OR high-quality references, either way a routing signal for quality
  * scoring), and (b) triangle density, the standard cohesion signal for
  * spam-farm detection (link farms are near-cliques; organic link
  * neighborhoods are sparse).
  *
  * Graph enrichment: the corpus has no link column, so the same
  * deterministic technique as [[Dedup.urlCanonicalSurvivors]] derives a
  * crawl-shaped graph from doc ids: 50 "sites", site s = doc_id % 50,
  * item index i = doc_id div 50. Item pages link UP to their site hub
  * (doc s) and BACK to the previous item (doc_id - 50); hubs link to the
  * next site's hub in a ring. That yields the shape real crawls have —
  * a few high-in-degree hubs (deg ≈ n/50) over many low-degree leaves —
  * so the operators' skew behavior is exercised, not just their algebra.
  * (For i = 1 the previous item IS the hub: a parallel edge, kept
  * identically on both engines — multigraph semantics.)
  *
  * Determinism discipline: PageRank is computed in FIXED-POINT integer
  * arithmetic (ranks are BIGINT micro-units of 1e-12). Float PageRank
  * sums contributions in partition order, and cross-engine float sums
  * differ in the last ulp; integer sums are exactly associative, so ten
  * iterations of (div, sum, scale) land bit-identical on Spark and
  * DuckDB and the result is hash-gateable with NO rounding escape
  * hatch. The tiny floor-division mass leak (< deg + 100 units per node
  * per iteration, i.e. ~1e-10 relative) is the price, and GraphsSpec
  * pins total mass to within 0.1% of 1.0.
  *
  * Scale design (100 TB):
  *  - Each PageRank iteration is one join (ranks ⋈ edges on src — the
  *    Pregel "scatter") and one keyed sum (by dst — the "gather").
  *    Partial aggregation combines map-side, so the exchange carries
  *    one (dst, partial-sum) row per reducer partition per dst, never
  *    one row per edge. Edge list + out-degrees are joined once and
  *    cached; lineage is truncated with localCheckpoint every 3 rounds
  *    (the [[Dedup.ccLabels]] pattern — plan rendering doubles per
  *    un-truncated round).
  *  - Hub skew: the gather key is dst, and hub dst keys are ~n/50 hot.
  *    sum() is algebraic, so AQE's partial aggregation already absorbs
  *    this; a pathological single-page in-degree (say 1e9) would use
  *    [[Scale.saltedAggregate]] — documented, not needed at this shape.
  *  - Triangle counting uses DEGREE-ORDERED orientation (orient every
  *    undirected edge toward the higher (degree, id) endpoint — the
  *    standard wedge-count bound): a hub with in-degree d sources no
  *    wedges, so the enumeration join fans out from leaves (deg ≤ 3)
  *    and the wedge set stays O(edges), never O(hub_deg²). Id-ordered
  *    orientation would enumerate hub² wedges at exactly the nodes
  *    where a real crawl is hottest.
  */
object Graphs {

  private val Scale12 = 1000000000000L // 1e12: rank unit = 1e-12

  /** The derived crawl edge list (src, dst). Multigraph: parallel edges
    * kept (i = 1 items reach the hub twice). */
  private[graft] def crawlEdges(docs: DataFrame): DataFrame = {
    val ids = docs.select(col("doc_id"))
    val hubRing = ids.filter(col("doc_id") < 50)
      .select(col("doc_id").as("src"),
        pmod(col("doc_id") + 1, lit(50)).cast("long").as("dst"))
    val toHub = ids.filter(col("doc_id") >= 50)
      .select(col("doc_id").as("src"), pmod(col("doc_id"), lit(50)).cast("long").as("dst"))
    val toPrev = ids.filter(col("doc_id") >= 50)
      .select(col("doc_id").as("src"), (col("doc_id") - 50).as("dst"))
    hubRing.unionAll(toHub).unionAll(toPrev)
  }

  /** Fixed-point PageRank, `iters` synchronous iterations, damping 0.85.
    * r⁰(v) = ⌊S/n⌋; rᵗ(v) = ⌊15·⌊S/n⌋/100⌋ + ⌊85·Σ_{u→v}⌊rᵗ⁻¹(u)/deg(u)⌋/100⌋
    * with S = 1e12 — every step exact BIGINT, so the oracle's unrolled
    * CTE chain reproduces it bit-for-bit. */
  def pagerank(docs: DataFrame, iters: Int = 10): DataFrame =
    pagerankFrom(docs, iters, init = None)

  /** [[pagerank]] with an optional starting rank frame (doc_id, r) —
    * the resume hook: at 100 TB a 10-round PageRank is several cluster
    * jobs, and because the recurrence is exact integer arithmetic, a
    * run that snapshots ranks after round k and restarts from the
    * snapshot lands on the SAME BIGINTs as one uninterrupted run —
    * restartability is a theorem here, not a hope (float PageRank can't
    * say this: a reread changes nothing, but re-summation order could).
    * `graph_pagerank_resume` gates exactly that: 5 rounds → parquet
    * snapshot → read back → 5 more rounds, against the SAME 10-round
    * oracle as `graph_pagerank`. */
  def pagerankFrom(docs: DataFrame, iters: Int,
      init: Option[DataFrame]): DataFrame =
    pagerankLoop(docs, iters, init,
      s"CAST($Scale12 AS BIGINT) div n")

  /** The five portal hubs — the same seed set [[bfsHops]] starts from:
    * sites 0/10/20/30/40's hub pages. */
  private[graft] val portalSeeds: Seq[Long] = Seq(0L, 10L, 20L, 30L, 40L)

  /** PERSONALIZED PageRank (VERDICT r8 "Next round" #5): the restart
    * vector concentrates on `seeds` instead of the uniform teleport —
    * topic-sensitive authority (Haveliwala), the crawl-scoring form an
    * LLM-corpus pipeline actually runs (seed-quality propagation from
    * trusted portals). Same exact-BIGINT machinery as [[pagerank]]:
    * teleport mass S/|seeds| lands ONLY on seed nodes, every step is
    * exact integer arithmetic, so the unrolled-CTE oracle reproduces
    * all ten rounds bit-for-bit and the resume theorem carries over
    * unchanged. On the crawl graph, rank flows from the seed hubs along
    * the hub ring only (items link TOWARD hubs, never back), so nonzero
    * rank is exactly the set reachable from the seeds — the defining
    * reachability property, pinned in GraphsSpec. */
  def pagerankPersonalized(docs: DataFrame, seeds: Seq[Long] = portalSeeds,
      iters: Int = 10, init: Option[DataFrame] = None): DataFrame = {
    require(seeds.nonEmpty, "personalized PageRank needs a seed set")
    val share = Scale12 / seeds.length
    pagerankLoop(docs, iters, init,
      s"CASE WHEN doc_id IN (${seeds.mkString(", ")}) " +
        s"THEN CAST($share AS BIGINT) ELSE CAST(0 AS BIGINT) END")
  }

  /** The shared synchronous loop: `teleSql` is the per-node teleport
    * term (a SQL expression over (doc_id, n)), uniform for classic
    * PageRank, seed-concentrated for the personalized form. r⁰ = the
    * teleport vector; rᵗ = ⌊15·tele⌋/100 + ⌊85·Σ contribs⌋/100 — every
    * step exact BIGINT on both engines. */
  private def pagerankLoop(docs: DataFrame, iters: Int,
      init: Option[DataFrame], teleSql: String): DataFrame = {
    val ids = docs.select(col("doc_id"))
    val nAgg = ids.agg(count(lit(1)).as("n"))
    val edges = crawlEdges(docs)
    val outd = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    // scatter side is static across iterations: join once, cache.
    val edged = edges.join(outd, Seq("src")).cache()
    // the teleport VECTOR is loop-invariant too (r16 optimization
    // round): computed once and checkpointed, it serves as r⁰ and as
    // every iteration's gather base — the unrolled plan previously
    // re-ran the node scan + count + crossJoin per iteration (28
    // parquet scans in the captured 10-round sf0.1 plan). The per-node
    // term is the same exact BIGINT: tele ≡ teleSql's value, and
    // (15 · tele) div 100 is unchanged arithmetic.
    val tele = ids.crossJoin(broadcast(nAgg))
      .select(col("doc_id"), expr(teleSql).as("tele"))
      .localCheckpoint()
    var ranks = init.getOrElse(
      tele.select(col("doc_id"), col("tele").as("r")))
    for (it <- 1 to iters) {
      val contribs = edged
        .join(ranks.select(col("doc_id").as("src"), col("r")), Seq("src"))
        .select(col("dst"), expr("r div deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
      val stepped = tele
        .join(contribs.withColumnRenamed("dst", "doc_id"), Seq("doc_id"), "left")
        .select(col("doc_id"),
          expr("(15 * tele) div 100" +
            " + (85 * coalesce(s, CAST(0 AS BIGINT))) div 100").as("r"))
      ranks = if (it % 3 == 0) stepped.localCheckpoint() else stepped
    }
    val ind = edges.groupBy(col("dst")).agg(count(lit(1)).as("in_deg"))
      .withColumnRenamed("dst", "doc_id")
    val out = ranks
      .join(outd.withColumnRenamed("src", "doc_id"), Seq("doc_id"), "left")
      .join(ind, Seq("doc_id"), "left")
      .select(col("doc_id"), col("r").as("rank_fp"),
        coalesce(col("deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"))
      .orderBy("doc_id")
    edged.unpersist()
    out
  }

  private val Scale6 = 1000000L // HITS unit: 1e-6 (headroom for deg·score·1e6)

  /** HITS (hubs & authorities), `iters` synchronous rounds — the
    * companion link-analysis signal to [[pagerank]]: authorities are
    * pages good hubs point AT, hubs are pages pointing at good
    * authorities (Kleinberg's mutual recursion). Determinism
    * discipline: scores are BIGINT micro-units normalized each
    * half-round by the MAX (an exact selection) via integer division —
    * every step exact, so the unrolled 4-CTE-per-round oracle matches
    * bit-for-bit. The 1e6 scale (not 1e12) keeps deg·score·scale inside
    * BIGINT at any realistic hub degree. Per half-round: one scatter
    * join + one keyed sum (algebraic, map-side partials) + one
    * broadcast max — the same Pregel cost model as PageRank with the
    * normalization replacing the teleport. */
  def hits(docs: DataFrame, iters: Int = 10): DataFrame = {
    // node list is loop-invariant, but A/B measurement (r17, VERDICT
    // r16 "What's wrong" #1) showed checkpointing it LOSES: the 20
    // per-half-round scans of the tiny projection recompute at full
    // parallelism for less than the materialization job + storage
    // reads cost — the same shape as the r16 dedup negative result.
    val ids = docs.select(col("doc_id"))
    val edges = crawlEdges(docs).cache()
    var auth = ids.select(col("doc_id"), lit(Scale6).as("a"))
    var hub = ids.select(col("doc_id"), lit(Scale6).as("h"))
    for (_ <- 1 to iters) {
      // each raw frame feeds BOTH its max and the normalize — without a
      // cut here the plan doubles per half-round (2^iters); checkpoint
      // materializes the tiny per-node frame once per half-round (the
      // dedup_cluster one-job-per-round discipline; the oracle needs
      // AS MATERIALIZED on the same CTEs for the same reason).
      val aRaw = ids.join(
        edges.join(hub.select(col("doc_id").as("src"), col("h")), Seq("src"))
          .groupBy(col("dst").as("doc_id")).agg(sum(col("h")).as("s")),
        Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("s"), lit(0L)).as("a"))
        .localCheckpoint()
      auth = aRaw.crossJoin(broadcast(aRaw.agg(max(col("a")).as("m"))))
        .select(col("doc_id"), expr(s"(a * $Scale6) div m").as("a"))
      val hRaw = ids.join(
        edges.join(auth.select(col("doc_id").as("dst"), col("a")), Seq("dst"))
          .groupBy(col("src").as("doc_id")).agg(sum(col("a")).as("s")),
        Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("s"), lit(0L)).as("h"))
        .localCheckpoint()
      hub = hRaw.crossJoin(broadcast(hRaw.agg(max(col("h")).as("m"))))
        .select(col("doc_id"), expr(s"(h * $Scale6) div m").as("h"))
    }
    val out = auth.join(hub, Seq("doc_id"))
      .select(col("doc_id"), col("a").as("authority_fp"),
        col("h").as("hub_fp"))
      .orderBy("doc_id")
    edges.unpersist()
    out
  }

  /** Undirected simple edges (u < v), parallel edges collapsed. */
  private def undirected(docs: DataFrame): DataFrame =
    crawlEdges(docs)
      .select(least(col("src"), col("dst")).as("u"),
        greatest(col("src"), col("dst")).as("v"))
      .distinct()

  /** Multi-source BFS hop distance from the crawl SEED LIST over the
    * UNDIRECTED crawl graph — link distance to the nearest seed, the
    * crawl-frontier DEPTH column (pages many link hops from every seed
    * are late-crawl, lower-prior pages; depth is the standard
    * crawl-quality covariate next to PageRank). Real crawls start from
    * a seed LIST, not one URL — here the five portal hubs 0/10/20/30/40
    * (every 10th site), which also bounds the BFS round count: the
    * farthest hub is ring distance 5 from a seed and every item is one
    * hop past its hub, so the diameter from the seed set is EXACTLY 6
    * at every SF (the geometry is id-arithmetic, not data; GraphsSpec
    * pins it with the closed form) and 6 rounds converge — rounds =
    * graph diameter, the honest price of synchronous BFS, with no
    * padding rounds (a padding round is a full join+anti-join stage
    * pass that provably discovers nothing).
    *
    * This is FRONTIER BFS, not dense min-propagation: round t scatters
    * only the nodes FIRST REACHED at round t-1 (frontier ⋈ edges, then
    * an anti-join against the reached set), so total scatter volume
    * across ALL rounds is O(edges) — each edge scatters at most twice
    * (once per endpoint's frontier round) — where the dense form
    * re-joins the whole node set every round, paying O(rounds · edges).
    * At 100 TB frontier BFS is the only affordable shape: the reached
    * set is an accumulating artifact (here unionAll + periodic
    * localCheckpoint; on a cluster, a parquet-backed table
    * co-partitioned with the edge list so the anti-join is
    * exchange-free), early frontiers are broadcast-sized (AQE picks
    * that up from runtime stats — no forced hint, because a mid-BFS
    * frontier on a small-world graph can be most of the node set).
    *
    * Determinism: hop counts are exact integers (min over equal-length
    * paths is the same integer on any engine), so the result is
    * hash-gated with no rounding; unreached nodes (none in this graph)
    * would report -1. */
  def bfsHops(docs: DataFrame, iters: Int = 6): DataFrame = {
    val und = undirected(docs)
    val sym = und.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(und.select(col("v").as("src"), col("u").as("dst")))
      .cache()
    var reached = docs.select(col("doc_id"))
      .filter(col("doc_id") < 50 && col("doc_id") % 10 === 0)
      .select(col("doc_id"), lit(0L).as("hop"))
    var frontier = reached
    for (t <- 1 to iters) {
      val next = sym
        .join(frontier.select(col("doc_id").as("src")), Seq("src"))
        .select(col("dst").as("doc_id")).distinct()
        .join(reached.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), lit(t.toLong).as("hop"))
      // frontier_t feeds BOTH reached_t and frontier_{t+1}: without a
      // periodic cut the shared subtree re-expands per consumer and the
      // plan grows superlinearly (the ccLabels cadence).
      frontier = if (t % 3 == 0) next.localCheckpoint() else next
      val grown = reached.unionAll(frontier)
      reached = if (t % 3 == 0) grown.localCheckpoint() else grown
    }
    val out = docs.select(col("doc_id"))
      .join(reached, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("hop"), lit(-1L)).as("hop"))
      .orderBy("doc_id")
    sym.unpersist()
    out
  }

  /** Oriented edge list (src, dst, ddeg): each undirected edge pointed
    * toward the higher endpoint in the (deg, id) total order — the
    * wedge-bounding orientation (id order would make every hub source
    * its whole neighborhood, C(hub_deg, 2) wedges at the hottest nodes).
    * `ddeg` carries the dst's degree so the wedge join can order its two
    * endpoints without a re-join. */
  private def orientedEdges(docs: DataFrame): DataFrame = {
    val und = undirected(docs)
    val deg = und.select(col("u").as("id")).unionAll(und.select(col("v").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val withDeg = und
      .join(deg.select(col("id").as("u"), col("deg").as("du")), Seq("u"))
      .join(deg.select(col("id").as("v"), col("deg").as("dv")), Seq("v"))
    val uFirst =
      col("du") < col("dv") || (col("du") === col("dv") && col("u") < col("v"))
    withDeg.select(
      when(uFirst,
        struct(col("u").as("src"), col("v").as("dst"), col("dv").as("ddeg")))
        .otherwise(
          struct(col("v").as("src"), col("u").as("dst"), col("du").as("ddeg")))
        .as("e"))
      .select(col("e.src"), col("e.dst"), col("e.ddeg"))
  }

  /** Per-node triangle counts over the undirected crawl graph,
    * degree-ordered wedge enumeration (nodes in ≥1 triangle only). */
  def triangleCounts(docs: DataFrame): DataFrame = {
    val oriented = orientedEdges(docs)
    val e1 = oriented.select(col("src").as("a"), col("dst").as("b"), col("ddeg").as("db"))
    val e2 = oriented.select(col("src").as("a"), col("dst").as("c"), col("ddeg").as("dc"))
    val wedges = e1.join(e2, Seq("a"))
      .filter(col("db") < col("dc") ||
        (col("db") === col("dc") && col("b") < col("c")))
      .select(col("a"), col("b"), col("c"))
    val tris = wedges.join(
      oriented.select(col("src").as("b"), col("dst").as("c")), Seq("b", "c"))
    tris.select(col("a").as("doc_id"))
      .unionAll(tris.select(col("b").as("doc_id")))
      .unionAll(tris.select(col("c").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("n_triangles"))
      .orderBy("doc_id")
  }

  /** Neighborhood-Jaccard LINK PREDICTION — the classic missing-link
    * score: for every non-adjacent pair with ≥1 common neighbor,
    * J = |N(a)∩N(b)| / |N(a)∪N(b)|, top 20. Common-neighbor counts
    * come from the wedge enumeration at each CENTER node (e₁ ⋈ e₂ on
    * the center, endpoints ordered) — volume Σ C(deg(center), 2), which
    * is the inherent cost of exact common-neighborhood scores; a
    * production run thresholds or samples mega-degree centers first
    * (the documented knob — this graph's hubs stay C(n/50, 2)-bounded).
    * Existing edges leave by one anti-join; degrees join back from the
    * per-node degree table; the union size is deg(a)+deg(b)−inter
    * (exact integers), so ranking on the 6-dp-rounded ratio with the
    * (a, b) tie-break is engine-stable, and the top-20 is
    * TakeOrderedAndProject, never a global sort. */
  def linkPrediction(docs: DataFrame, k: Int = 20): DataFrame = {
    val und = undirected(docs)
    val sym = und.select(col("u").as("ctr"), col("v").as("nb"))
      .unionAll(und.select(col("v").as("ctr"), col("u").as("nb")))
    val deg = sym.groupBy(col("nb").as("id")).agg(count(lit(1)).as("deg"))
    val wedges = sym.select(col("ctr"), col("nb").as("a"))
      .join(sym.select(col("ctr"), col("nb").as("b")), Seq("ctr"))
      .filter(col("a") < col("b"))
    val common = wedges.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("inter"))
      .join(und.select(col("u").as("a"), col("v").as("b")),
        Seq("a", "b"), "left_anti")
    val scored = common
      .join(deg.select(col("id").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("id").as("b"), col("deg").as("db")), Seq("b"))
      .select(col("a"), col("b"), col("inter"),
        round(col("inter").cast("double") /
          (col("da") + col("db") - col("inter")), 6).as("jaccard"))
    scored.orderBy(col("jaccard").desc, col("a"), col("b")).limit(k)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("jaccard").desc, col("a"), col("b"))).cast("long"))
      .select(col("rnk"), col("a").as("a_id"), col("b").as("b_id"),
        col("inter").as("n_common"), col("jaccard"))
      .orderBy("rnk")
  }

  /** DEGREE-CAPPED link prediction (r14 — the 100 TB form): identical
    * wedge → common-neighbor → Jaccard → top-k machinery, but wedges
    * are generated only THROUGH centers of degree ≤ `maxDeg` — the
    * hub stop-list every production common-neighbor system applies,
    * because exact wedge mass is Σ_ctr deg(ctr)², and on any graph
    * whose max degree grows with N that sum grows quadratically
    * (measured: the exact key reads 33.8× at a 10× decade on the
    * synthetic crawl graph, whose 50 hubs have degree ∝ N — SCALE_r14
    * §6; capped, the wedge mass is O(E · maxDeg) and the key reads
    * flat). Semantics are the documented production trade: a pair
    * whose ONLY common neighbors are super-hubs scores 0 — and that is
    * the point, a hub in common carries ~no signal (everyone links the
    * portal page); Jaccard denominators keep the FULL degrees. The
    * exact key stays registered unchanged as the small-graph truth. */
  def linkPredictionCapped(docs: DataFrame, k: Int = 20,
      maxDeg: Int = 64): DataFrame = {
    val und = undirected(docs)
    val sym = und.select(col("u").as("ctr"), col("v").as("nb"))
      .unionAll(und.select(col("v").as("ctr"), col("u").as("nb")))
    val deg = sym.groupBy(col("nb").as("id")).agg(count(lit(1)).as("deg"))
    val lowCtr = sym.groupBy(col("ctr")).agg(count(lit(1)).as("cdeg"))
      .filter(col("cdeg") <= maxDeg).select(col("ctr"))
    val symB = sym.join(lowCtr, Seq("ctr"))
    val wedges = symB.select(col("ctr"), col("nb").as("a"))
      .join(symB.select(col("ctr"), col("nb").as("b")), Seq("ctr"))
      .filter(col("a") < col("b"))
    val common = wedges.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("inter"))
      .join(und.select(col("u").as("a"), col("v").as("b")),
        Seq("a", "b"), "left_anti")
    val scored = common
      .join(deg.select(col("id").as("a"), col("deg").as("da")), Seq("a"))
      .join(deg.select(col("id").as("b"), col("deg").as("db")), Seq("b"))
      .select(col("a"), col("b"), col("inter"),
        round(col("inter").cast("double") /
          (col("da") + col("db") - col("inter")), 6).as("jaccard"))
    scored.orderBy(col("jaccard").desc, col("a"), col("b")).limit(k)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("jaccard").desc, col("a"), col("b"))).cast("long"))
      .select(col("rnk"), col("a").as("a_id"), col("b").as("b_id"),
        col("inter").as("n_common"), col("jaccard"))
      .orderBy("rnk")
  }

  // ---------------------------------------------------------------------

  private val resumeMemo = new SessionMemo[String, String]

  /** Rank snapshot after 5 rounds, written once per (session, sfDir). */
  private def ranksAfter5(s: SparkSession, d: String): String =
    resumeMemo.inTempDir(s, d, "graft-pr5") { tmp =>
      pagerankFrom(Tables.documents(s, d), 5, init = None)
        .select(col("doc_id"), col("rank_fp").as("r"))
        .write.mode("overwrite").parquet(tmp)
      tmp
    }

  /** The personalized twin's 5-round snapshot (same exact-integer
    * restartability theorem — the teleport form changes nothing). */
  private def pprAfter5(s: SparkSession, d: String): String =
    resumeMemo.inTempDir(s, d + "#ppr", "graft-ppr5") { tmp =>
      pagerankPersonalized(Tables.documents(s, d), iters = 5)
        .select(col("doc_id"), col("rank_fp").as("r"))
        .write.mode("overwrite").parquet(tmp)
      tmp
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // 10 fixed-point iterations; exact BIGINT ranks (1e-12 units).
    "graph_pagerank" -> ((s, d) => pagerank(Tables.documents(s, d))),
    // the SAME 10-round answer computed as 5 rounds → parquet snapshot
    // → restart → 5 rounds: exact-integer restartability, gated against
    // graph_pagerank's own unrolled oracle.
    "graph_pagerank_resume" -> ((s, d) =>
      pagerankFrom(Tables.documents(s, d), 5,
        init = Some(s.read.parquet(ranksAfter5(s, d))
          .select(col("doc_id"), col("r"))))),
    // topic-sensitive restart on the five portal hubs; exact BIGINT.
    "graph_pagerank_personalized" -> ((s, d) =>
      pagerankPersonalized(Tables.documents(s, d))),
    // its staged-restart twin: 5 rounds → snapshot → 5 more, same
    // 10-round personalized oracle (exact-integer restartability).
    "graph_pagerank_personalized_resume" -> ((s, d) =>
      pagerankPersonalized(Tables.documents(s, d), iters = 5,
        init = Some(s.read.parquet(pprAfter5(s, d))
          .select(col("doc_id"), col("r"))))),
    // per-node triangle membership, degree-ordered enumeration.
    "graph_triangles" -> ((s, d) => triangleCounts(Tables.documents(s, d))),
    // 10 max-normalized integer HITS rounds; exact BIGINT scores.
    "graph_hits" -> ((s, d) => hits(Tables.documents(s, d))),
    // frontier BFS hop distance from the five portal hubs (docs
    // 0/10/20/30/40), 6 rounds = the seed set's structural diameter;
    // exact integer hops.
    "graph_bfs_depth" -> ((s, d) => bfsHops(Tables.documents(s, d))),
    // neighborhood-Jaccard missing-link top-20. SMALL-GRAPH TRUTH
    // ONLY: exact wedge generation is Σ deg² — measured 33.8× across
    // the sf0.1→sf1 decade on hub graphs (SCALE_r14 §6). At 100 TB
    // use `graph_link_prediction_capped` below (hub stop-list,
    // 2.18× at the same decade, exact ≡ capped under the cap).
    "graph_link_prediction" -> ((s, d) =>
      linkPrediction(Tables.documents(s, d))),
    // the 100 TB form: wedges only through degree ≤ 64 centers — the
    // hub stop-list that turns Σ deg² wedge mass into O(E · maxDeg).
    "graph_link_prediction_capped" -> ((s, d) =>
      linkPredictionCapped(Tables.documents(s, d)))
  )

  /** Shared edge-derivation CTEs (ids → edges → out-degrees). */
  private def sqlEdgeCtes: String =
    """ids AS MATERIALIZED (SELECT doc_id FROM documents),
      |nn AS (SELECT count(*) AS n FROM ids),
      |edges AS MATERIALIZED (
      |  SELECT doc_id AS src, (doc_id + 1) % 50 AS dst FROM ids WHERE doc_id < 50
      |  UNION ALL
      |  SELECT doc_id, doc_id % 50 FROM ids WHERE doc_id >= 50
      |  UNION ALL
      |  SELECT doc_id, doc_id - 50 FROM ids WHERE doc_id >= 50),
      |outd AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
      |ed AS (SELECT e.src, e.dst, o.deg FROM edges e JOIN outd o USING (src))""".stripMargin

  /** One unrolled PageRank iteration t (reads r{t-1}, defines r{t}) —
    * the exact integer recurrence of [[pagerankLoop]]; `teleSql` is the
    * per-node teleport term (uniform or seed-concentrated). */
  private def sqlPrIter(t: Int,
      teleSql: String = "1000000000000 // nn.n"): String =
    s"""r$t AS (
       |  SELECT i.doc_id AS id,
       |         (15 * ($teleSql)) // 100
       |           + (85 * COALESCE(c.s, 0)) // 100 AS r
       |  FROM ids i CROSS JOIN nn
       |  LEFT JOIN (SELECT ed.dst, CAST(sum(p.r // ed.deg) AS BIGINT) AS s
       |             FROM r${t - 1} p JOIN ed ON ed.src = p.id
       |             GROUP BY ed.dst) c ON c.dst = i.doc_id)""".stripMargin

  /** One unrolled HITS round t: authority gather + max-normalize, then
    * hub gather + max-normalize — the exact integer recurrence. */
  private def sqlHitsIter(t: Int): String =
    s"""ar$t AS MATERIALIZED (
       |  SELECT i.doc_id, COALESCE(s.v, 0) AS a
       |  FROM ids i LEFT JOIN (
       |    SELECT e.dst, CAST(sum(h.h) AS BIGINT) AS v
       |    FROM h${t - 1} h JOIN edges e ON e.src = h.doc_id
       |    GROUP BY e.dst) s ON s.dst = i.doc_id),
       |am$t AS (SELECT max(a) AS m FROM ar$t),
       |a$t AS MATERIALIZED (
       |  SELECT doc_id, (a * 1000000) // m AS a
       |  FROM ar$t CROSS JOIN am$t),
       |hr$t AS MATERIALIZED (
       |  SELECT i.doc_id, COALESCE(s.v, 0) AS h
       |  FROM ids i LEFT JOIN (
       |    SELECT e.src, CAST(sum(a.a) AS BIGINT) AS v
       |    FROM a$t a JOIN edges e ON e.dst = a.doc_id
       |    GROUP BY e.src) s ON s.src = i.doc_id),
       |hm$t AS (SELECT max(h) AS m FROM hr$t),
       |h$t AS MATERIALIZED (
       |  SELECT doc_id, (h * 1000000) // m AS h
       |  FROM hr$t CROSS JOIN hm$t)""".stripMargin

  // ten unrolled iterations of the identical integer recurrence —
  // shared verbatim by graph_pagerank and its staged-restart twin
  // (exact integer restartability means both MUST answer identically).
  private lazy val sqlPagerank10: String = {
    val iters = (1 to 10).map(t => sqlPrIter(t)).mkString(",\n")
    s"""WITH $sqlEdgeCtes,
       |r0 AS (SELECT doc_id AS id, 1000000000000 // n AS r
       |       FROM ids CROSS JOIN nn),
       |$iters,
       |ind AS (SELECT dst AS id, count(*) AS in_deg FROM edges GROUP BY dst)
       |SELECT i.doc_id, CAST(r10.r AS BIGINT) AS rank_fp,
       |       CAST(COALESCE(o.deg, 0) AS BIGINT) AS out_deg,
       |       CAST(COALESCE(ind.in_deg, 0) AS BIGINT) AS in_deg
       |FROM ids i
       |JOIN r10 ON r10.id = i.doc_id
       |LEFT JOIN outd o ON o.src = i.doc_id
       |LEFT JOIN ind ON ind.id = i.doc_id
       |ORDER BY i.doc_id""".stripMargin
  }

  // the personalized form: identical recurrence, the teleport CASE
  // concentrates restart mass on the portal seeds (S/5 each) — shared
  // by the from-scratch and staged-restart keys like the uniform pair.
  private lazy val sqlPprPersonalized10: String = {
    val share = Scale12 / portalSeeds.length
    val seedList = portalSeeds.mkString(", ")
    val tele = s"CASE WHEN i.doc_id IN ($seedList) THEN $share ELSE 0 END"
    val iters = (1 to 10).map(t => sqlPrIter(t, tele)).mkString(",\n")
    s"""WITH $sqlEdgeCtes,
       |r0 AS (SELECT doc_id AS id,
       |         CASE WHEN doc_id IN ($seedList) THEN $share ELSE 0 END AS r
       |       FROM ids),
       |$iters,
       |ind AS (SELECT dst AS id, count(*) AS in_deg FROM edges GROUP BY dst)
       |SELECT i.doc_id, CAST(r10.r AS BIGINT) AS rank_fp,
       |       CAST(COALESCE(o.deg, 0) AS BIGINT) AS out_deg,
       |       CAST(COALESCE(ind.in_deg, 0) AS BIGINT) AS in_deg
       |FROM ids i
       |JOIN r10 ON r10.id = i.doc_id
       |LEFT JOIN outd o ON o.src = i.doc_id
       |LEFT JOIN ind ON ind.id = i.doc_id
       |ORDER BY i.doc_id""".stripMargin
  }

  def oracle: Map[String, String] = Map(
    "graph_pagerank" -> sqlPagerank10,
    "graph_pagerank_resume" -> sqlPagerank10,
    "graph_pagerank_personalized" -> sqlPprPersonalized10,
    "graph_pagerank_personalized_resume" -> sqlPprPersonalized10,
    // ten unrolled rounds of the identical max-normalized recurrence.
    "graph_hits" -> {
      val iters = (1 to 10).map(sqlHitsIter).mkString(",\n")
      s"""WITH $sqlEdgeCtes,
         |h0 AS (SELECT doc_id, 1000000 AS h FROM ids),
         |$iters
         |SELECT i.doc_id, CAST(a10.a AS BIGINT) AS authority_fp,
         |       CAST(h10.h AS BIGINT) AS hub_fp
         |FROM ids i
         |JOIN a10 ON a10.doc_id = i.doc_id
         |JOIN h10 ON h10.doc_id = i.doc_id
         |ORDER BY i.doc_id""".stripMargin
    },
    // bounded-hop recursive reachability; min(hop) per node is the BFS
    // distance (exact integers — no rounding).
    "graph_bfs_depth" ->
      s"""WITH RECURSIVE $sqlEdgeCtes,
         |und AS (
         |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |  FROM edges),
         |sym AS (SELECT u AS src, v AS dst FROM und
         |        UNION ALL SELECT v, u FROM und),
         |bfs AS (
         |  SELECT doc_id, CAST(0 AS BIGINT) AS hop FROM ids
         |  WHERE doc_id < 50 AND doc_id % 10 = 0
         |  UNION
         |  SELECT e.dst, b.hop + 1
         |  FROM bfs b JOIN sym e ON e.src = b.doc_id
         |  WHERE b.hop < 8)
         |SELECT i.doc_id, CAST(COALESCE(m.hop, -1) AS BIGINT) AS hop
         |FROM ids i LEFT JOIN (
         |  SELECT doc_id, min(hop) AS hop FROM bfs GROUP BY doc_id) m
         |  ON m.doc_id = i.doc_id
         |ORDER BY i.doc_id""".stripMargin,
    // center-node wedge counts, existing-edge anti-join, exact-integer
    // union size, rank on the rounded ratio with (a, b) tie-break.
    "graph_link_prediction" ->
      s"""WITH $sqlEdgeCtes,
         |und AS (
         |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |  FROM edges),
         |sym AS (SELECT u AS ctr, v AS nb FROM und
         |        UNION ALL SELECT v, u FROM und),
         |deg AS (SELECT nb AS id, count(*) AS deg FROM sym GROUP BY nb),
         |wed AS (
         |  SELECT a.nb AS a, b.nb AS b
         |  FROM sym a JOIN sym b ON a.ctr = b.ctr
         |  WHERE a.nb < b.nb),
         |com AS (
         |  SELECT a, b, count(*) AS inter FROM wed
         |  GROUP BY a, b),
         |nonedge AS (
         |  SELECT c.a, c.b, c.inter FROM com c
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM und WHERE und.u = c.a AND und.v = c.b)),
         |scored AS (
         |  SELECT n.a, n.b, n.inter,
         |         round(CAST(n.inter AS DOUBLE)
         |           / (da.deg + db.deg - n.inter), 6) AS jaccard
         |  FROM nonedge n
         |  JOIN deg da ON da.id = n.a JOIN deg db ON db.id = n.b),
         |ranked AS (
         |  SELECT *, CAST(row_number() OVER (
         |    ORDER BY jaccard DESC, a, b) AS BIGINT) AS rnk
         |  FROM scored)
         |SELECT rnk, a AS a_id, b AS b_id, CAST(inter AS BIGINT) AS n_common,
         |       jaccard
         |FROM ranked WHERE rnk <= 20 ORDER BY rnk""".stripMargin,
    // the capped form: identical body with the low-degree-center
    // restriction on wedge generation (full degrees in the Jaccard
    // denominator — only the wedge SUPPORT is capped).
    "graph_link_prediction_capped" ->
      s"""WITH $sqlEdgeCtes,
         |und AS (
         |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |  FROM edges),
         |sym AS (SELECT u AS ctr, v AS nb FROM und
         |        UNION ALL SELECT v, u FROM und),
         |deg AS (SELECT nb AS id, count(*) AS deg FROM sym GROUP BY nb),
         |lowctr AS (
         |  SELECT ctr FROM (SELECT ctr, count(*) AS cdeg FROM sym
         |                   GROUP BY ctr)
         |  WHERE cdeg <= 64),
         |symb AS (SELECT sym.ctr, sym.nb FROM sym
         |         JOIN lowctr ON lowctr.ctr = sym.ctr),
         |wed AS (
         |  SELECT a.nb AS a, b.nb AS b
         |  FROM symb a JOIN symb b ON a.ctr = b.ctr
         |  WHERE a.nb < b.nb),
         |com AS (
         |  SELECT a, b, count(*) AS inter FROM wed
         |  GROUP BY a, b),
         |nonedge AS (
         |  SELECT c.a, c.b, c.inter FROM com c
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM und WHERE und.u = c.a AND und.v = c.b)),
         |scored AS (
         |  SELECT n.a, n.b, n.inter,
         |         round(CAST(n.inter AS DOUBLE)
         |           / (da.deg + db.deg - n.inter), 6) AS jaccard
         |  FROM nonedge n
         |  JOIN deg da ON da.id = n.a JOIN deg db ON db.id = n.b),
         |ranked AS (
         |  SELECT *, CAST(row_number() OVER (
         |    ORDER BY jaccard DESC, a, b) AS BIGINT) AS rnk
         |  FROM scored)
         |SELECT rnk, a AS a_id, b AS b_id, CAST(inter AS BIGINT) AS n_common,
         |       jaccard
         |FROM ranked WHERE rnk <= 20 ORDER BY rnk""".stripMargin,
    // same degree-ordered wedge enumeration, per-node credit ×3.
    "graph_triangles" ->
      s"""WITH $sqlEdgeCtes,
         |und AS (
         |  SELECT DISTINCT least(src, dst) AS u, greatest(src, dst) AS v
         |  FROM edges),
         |dg AS (
         |  SELECT id, count(*) AS deg FROM (
         |    SELECT u AS id FROM und UNION ALL SELECT v FROM und)
         |  GROUP BY id),
         |ori AS (
         |  SELECT CASE WHEN (a.deg, u) < (b.deg, v) THEN u ELSE v END AS src,
         |         CASE WHEN (a.deg, u) < (b.deg, v) THEN v ELSE u END AS dst,
         |         CASE WHEN (a.deg, u) < (b.deg, v) THEN b.deg ELSE a.deg END AS ddeg
         |  FROM und JOIN dg a ON a.id = u JOIN dg b ON b.id = v),
         |wed AS (
         |  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
         |  FROM ori e1 JOIN ori e2 ON e1.src = e2.src
         |  WHERE (e1.ddeg, e1.dst) < (e2.ddeg, e2.dst)),
         |tri AS (
         |  SELECT a, b, c FROM wed
         |  JOIN ori ON ori.src = wed.b AND ori.dst = wed.c)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_triangles
         |FROM (SELECT a AS doc_id FROM tri
         |      UNION ALL SELECT b FROM tri
         |      UNION ALL SELECT c FROM tri)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
  )
}
